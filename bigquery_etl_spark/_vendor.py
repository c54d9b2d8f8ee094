"""Environment-capability shims (import-try gated, never required).

``enable_vendored_protobuf``: transformWithStateInPandas speaks
protobuf between the Python worker and the JVM state server; this
container has no ``protobuf`` pip package, but the google-cloud-sdk it
DOES ship bundles a pure-python ``google.protobuf`` (6.32.0) under the
appengine platform dir. Putting that on ``sys.path`` makes it
importable in the driver. Spark's Python workers are separate
processes, so they get it from ``worker_path()``: the
``sitecustomize`` shim dir and the appengine dir, which
``session.ensure_workers`` puts on the session's worker ``PYTHONPATH``
(at any time, before or after the session starts).

Version skew: pyspark 4.1's generated ``StateMessage_pb2`` declares
gencode 6.33 and the vendored runtime is 6.32 — one minor behind, which
the runtime validator rejects outright. Protobuf's cross-version
guarantee is wire-format stability within a major; the skew here is
gencode calling ``ValidateProtobufRuntimeVersion`` only, so the shim
wraps the validator to tolerate EXACTLY this case (same major, runtime
≥ one minor behind) and still reject anything larger. Remove the whole
module the day the container ships a real ``protobuf`` wheel.
"""

from __future__ import annotations

import os
import sys

GAE_DIR = "/usr/lib/google-cloud-sdk/platform/google_appengine"
SHIM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_protobuf_shim")


def _relax_runtime_validator() -> None:
    from google.protobuf import runtime_version as rv

    if getattr(rv, "_bqes_relaxed", False):
        return
    orig = rv.ValidateProtobufRuntimeVersion

    def lenient(gen_domain, gen_major, gen_minor, gen_patch, gen_suffix, location):
        try:
            orig(gen_domain, gen_major, gen_minor, gen_patch, gen_suffix, location)
        except rv.VersionError:
            runtime_ok = (
                gen_major == rv.MAJOR and rv.MINOR >= gen_minor - 1
            )
            if not runtime_ok:
                raise

    rv.ValidateProtobufRuntimeVersion = lenient
    rv._bqes_relaxed = True


def enable_vendored_protobuf() -> bool:
    """Make ``google.protobuf`` importable in this process if at all
    possible; True when importable afterwards."""
    try:
        import google.protobuf  # noqa: F401

        _relax_runtime_validator()
        return True
    except ImportError:
        pass
    if not os.path.isdir(os.path.join(GAE_DIR, "google", "protobuf")):
        return False
    if GAE_DIR not in sys.path:
        sys.path.append(GAE_DIR)
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        return False
    _relax_runtime_validator()
    return True


def worker_path() -> list[str]:
    """``PYTHONPATH`` entries that give a Python worker the vendored
    ``google.protobuf``: the shim dir, whose ``sitecustomize`` calls
    ``enable_vendored_protobuf`` at interpreter startup, and the
    appengine dir. Empty when no vendored copy is in use."""
    if enable_vendored_protobuf() and GAE_DIR in sys.path:
        return [SHIM_DIR, GAE_DIR]
    return []

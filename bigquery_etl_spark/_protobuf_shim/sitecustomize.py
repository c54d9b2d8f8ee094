"""Auto-imported at Python startup when this dir is on PYTHONPATH (as
``session.ensure_workers`` sets it, behind the package root, for Spark's
Python workers): gives the workers the vendored google.protobuf (the
driver cannot edit a worker's sys.path, so the shim rides startup)."""

try:
    from bigquery_etl_spark._vendor import enable_vendored_protobuf

    enable_vendored_protobuf()
except Exception:  # noqa: BLE001 — shim must never break startup
    pass

"""BigQuery JSON mutators (r8): JSON_SET / JSON_REMOVE /
JSON_STRIP_NULLS.

Spark has no builtin that rewrites a JSON subtree in place, and the
semantics (path creation, array padding, type-mismatch no-ops) are
inherently per-document — so these run as Arrow-batched pandas UDFs
over Python's json module: exact for any path, vectorized transfer,
one deterministic serialization (minimal separators, insertion order
preserved — byte-identical to BigQuery/yyjson minimal output). This is
the sanctioned fallback tier for semantics the built-in operators
can't express (charter: built-ins → pandas UDF → mapPartitions); the
READ-side JSON surface (JSON_QUERY/JSON_VALUE/…) stays pure codegen in
bq_dialect.

The dialect lowers the BigQuery calls onto session-registered UDFs
(``register_json_mutators``); values arrive JSON-encoded through
``to_json(named_struct('v', value))`` so the scalar's TYPE survives the
string boundary exactly (a NULL value is a field Spark's to_json
drops, and decodes to JSON null, matching BigQuery).

Cost: each mutator call parses and serializes its doc once, and a
multi-path JSON_REMOVE or multi-pair JSON_SET is one call. The calls
of one SELECT share one ArrowEvalPython node, so q_json_mutators
(five calls per doc) pays five parse/serialize round-trips per doc
and one Arrow transfer. What made that query slow was not the
round-trips but running them twice: its global ``ORDER BY k`` put the
range exchange directly over the UDFs, and Spark's range partitioner
runs the exchange's child once to sample and again to shuffle. ``LakeCatalog.bq_sql`` now sorts below such a
projection (``lake_sql._sort_below_python_udfs``); the benchmark's
``queries`` workload (sf0.1, 4 cores, medians of 10 runs) measured
the query at 4.4 s with the UDFs under the exchange and 1.2 s with
them above the sort."""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import SparkSession

_PATH_TOKEN = re.compile(r"\.([A-Za-z_][A-Za-z_0-9]*)|\[\s*(\d+)\s*\]"
                         r"|\['((?:[^']|'')*)'\]|\[\"((?:[^\"]|\"\")*)\"\]")


def parse_path(p: str) -> list:
    """'$.a.b[0]' → ['a', 'b', 0]; bracket forms allow quoted keys."""
    p = p.strip()
    if not p.startswith("$"):
        raise ValueError(f"JSONPath must start with $: {p!r}")
    out: list = []
    i = 1
    while i < len(p):
        m = _PATH_TOKEN.match(p, i)
        if not m:
            raise ValueError(f"unsupported JSONPath at {p[i:]!r}")
        if m.group(1) is not None:
            out.append(m.group(1))
        elif m.group(2) is not None:
            out.append(int(m.group(2)))
        elif m.group(3) is not None:
            out.append(m.group(3).replace("''", "'"))
        else:
            out.append(m.group(4).replace('""', '"'))
        i = m.end()
    return out


def _dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def json_set(doc: str | None, pairs) -> str | None:
    """BigQuery JSON_SET: applies each (path, value) pair in order on one
    parse of the doc. A pair sets/creates its location (missing object
    keys are created; short arrays pad with nulls); a pair whose
    EXISTING prefix has the wrong container type is ignored (BigQuery's
    rule — the doc stays as the earlier pairs left it)."""
    if doc is None:
        return None
    try:
        root = json.loads(doc)
    except ValueError:
        return None
    for path, val in pairs:
        root = _set_at(root, parse_path(path), val)
    return _dumps(root)


def _set_at(root, steps: list, val):
    """``root`` with ``val`` set at ``steps``; ``root`` itself on a
    container-type mismatch, ``val`` for the root path ``$``."""
    if not steps:
        return val
    cur = root
    for i, step in enumerate(steps):
        last = i == len(steps) - 1
        nxt = steps[i + 1] if not last else None
        if isinstance(step, str):
            if not isinstance(cur, dict):
                return root  # type mismatch: ignored
            if last:
                cur[step] = val
            else:
                if step not in cur or not isinstance(
                    cur[step], (dict, list)
                ):
                    cur[step] = [] if isinstance(nxt, int) else {}
                cur = cur[step]
        else:
            if not isinstance(cur, list):
                return root
            while len(cur) <= step:
                cur.append(None)
            if last:
                cur[step] = val
            else:
                if not isinstance(cur[step], (dict, list)):
                    cur[step] = [] if isinstance(nxt, int) else {}
                cur = cur[step]
    return root


def json_remove(doc: str | None, *paths: str) -> str | None:
    """BigQuery JSON_REMOVE: removes each path's key/element in order,
    on one parse of the doc; nonexistent paths are no-ops; removing '$'
    is an error."""
    if doc is None:
        return None
    steps_list = [parse_path(p) for p in paths]
    if not all(steps_list):
        raise ValueError("JSON_REMOVE cannot remove the document root $")
    try:
        root = json.loads(doc)
    except ValueError:
        return None
    for steps in steps_list:
        _remove_at(root, steps)
    return _dumps(root)


def _remove_at(root, steps: list) -> None:
    cur = root
    for step in steps[:-1]:
        if isinstance(step, str):
            if not isinstance(cur, dict) or step not in cur:
                return
        elif not isinstance(cur, list) or step >= len(cur):
            return
        cur = cur[step]
    last = steps[-1]
    if isinstance(last, str):
        if isinstance(cur, dict):
            cur.pop(last, None)
    elif isinstance(cur, list) and last < len(cur):
        del cur[last]


def _strip(obj, include_arrays: bool):
    if isinstance(obj, dict):
        return {
            k: _strip(v, include_arrays)
            for k, v in obj.items()
            if v is not None
        }
    if isinstance(obj, list):
        items = obj if not include_arrays else [v for v in obj if v is not None]
        return [_strip(v, include_arrays) for v in items]
    return obj


def json_strip_nulls(
    doc: str | None, include_arrays: bool = True
) -> str | None:
    """BigQuery JSON_STRIP_NULLS defaults: null object fields AND null
    array elements are removed (include_arrays=true); emptied
    containers are kept (remove_empty=false)."""
    if doc is None:
        return None
    try:
        root = json.loads(doc)
    except ValueError:
        return None
    out = _strip(root, include_arrays)
    return _dumps(out)


_REGISTERED: set[int] = set()


def register_json_mutators(spark: SparkSession) -> None:
    """Register the Arrow-batched UDFs once per session (idempotent)."""
    if id(spark) in _REGISTERED:
        return
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def __bq_json_set(doc: pd.Series, paths: pd.Series,
                      vals: pd.Series) -> pd.Series:
        # the dialect NUL-joins a call's paths and names its values
        # 'v', 'v1', 'v2', … in one struct (one UDF call per JSON_SET)
        def one(d, ps, vs):
            decoded = json.loads(vs) if vs is not None else {}
            return json_set(d, [
                (p, decoded.get(f"v{i or ''}"))
                for i, p in enumerate(ps.split("\x00"))
            ])

        return pd.Series([one(d, ps, vs)
                          for d, ps, vs in zip(doc, paths, vals)])

    @F.pandas_udf("string")
    def __bq_json_remove(doc: pd.Series, paths: pd.Series) -> pd.Series:
        # the dialect NUL-joins a call's paths (one UDF call per remove)
        return pd.Series([
            json_remove(d, *(p for p in (ps or "").split("\x00") if p))
            for d, ps in zip(doc, paths)
        ])

    @F.pandas_udf("string")
    def __bq_json_strip_nulls(doc: pd.Series) -> pd.Series:
        return pd.Series([json_strip_nulls(d) for d in doc])

    spark.udf.register("__bq_json_set", __bq_json_set)
    spark.udf.register("__bq_json_remove", __bq_json_remove)
    spark.udf.register("__bq_json_strip_nulls", __bq_json_strip_nulls)
    _REGISTERED.add(id(spark))

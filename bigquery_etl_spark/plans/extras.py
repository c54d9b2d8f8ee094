"""Extra declared queries: bucketized range joins (B17/B19 scale path),
partition-local sort (B36), pivot, distributed block-range source (A3),
and multimodal operators (charter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigquery_etl_spark.operators.multimodal import (
    extract_features,
    make_fake_media,
    media_stats,
    sample_frames,
)
from bigquery_etl_spark.operators.range_join import (
    interval_overlap_join,
    point_in_interval_join,
)
from bigquery_etl_spark.plans._util import cents, dec, lsum
from bigquery_etl_spark.registry import query
from bigquery_etl_spark.sources import load

# ---------------------------------------------------------------------------
# B17/B19 — the bucketized rewrites, oracle-checked against the plain
# non-equi semantics (same SQL as a nested-loop would compute).
# ---------------------------------------------------------------------------


@query(
    "q_range_bucket_join",
    sql="""
    SELECT s_suppkey, COUNT(*) AS n_parts,
           CAST(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_price
    FROM supplier JOIN part
      ON p_retailprice BETWEEN s_acctbal - 500 AND s_acctbal + 500
    GROUP BY s_suppkey
    """,
    tags=("join", "range"),
)
def q_range_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as q_join_range, computed via the bucketized
    equi-join rewrite (operators/range_join.py) — one hash shuffle on
    bucket id instead of a nested-loop; this is the plan that survives
    two large sides at 100 TB."""
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_acctbal") - 500).alias("lo"),
        (F.col("s_acctbal") + 500).alias("hi"),
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    joined = point_in_interval_join(p, s, "p_retailprice", "lo", "hi", bucket_width=500.0)
    # per-supplier groups: bounded -> integer-cents sum (see _util.lsum);
    # the agg runs over |candidate pairs| rows, so the cheap update matters
    return joined.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).alias("n_parts"),
        lsum(cents("p_retailprice"), "sum_price"),
    )


@query(
    "q_interval_overlap",
    sql="""
    SELECT s_suppkey, COUNT(*) AS n_overlap
    FROM (SELECT s_suppkey, s_acctbal AS slo, s_acctbal + 200 AS shi FROM supplier) s
    JOIN (SELECT p_partkey, p_retailprice AS plo, p_retailprice + 200 AS phi FROM part) p
      ON slo <= phi AND plo <= shi
    GROUP BY s_suppkey
    """,
    tags=("join", "range"),
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via bucketing, oracle-checked vs the plain
    overlap predicate."""
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_acctbal").alias("slo"), (F.col("s_acctbal") + 200).alias("shi")
    )
    p = load(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_retailprice").alias("plo"), (F.col("p_retailprice") + 200).alias("phi")
    )
    joined = interval_overlap_join(s, p, "slo", "shi", "plo", "phi", bucket_width=200.0)
    return joined.groupBy("s_suppkey").agg(F.count(F.lit(1)).alias("n_overlap"))


# ---------------------------------------------------------------------------
# B36 — partition-local sort (row-preserving; oracle checks the row set).
# ---------------------------------------------------------------------------


@query(
    "q_sort_within_partitions",
    sql="""
    SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
    """,
    tags=("sort",),
)
def q_sort_within_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sortWithinPartitions: no exchange (check .explain — Sort with
    global=false, no Exchange). Used before writes to get clustered
    files; the oracle verifies rows pass through unchanged."""
    li = load(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", "l_shipdate").sortWithinPartitions(
        "l_shipdate"
    )


# ---------------------------------------------------------------------------
# Pivot (BigQuery PIVOT; planned as a single-pass pivot aggregate).
# ---------------------------------------------------------------------------


@query(
    "q_pivot",
    sql="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_O,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "pivot"),
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with explicit value list (always list values at scale —
    letting Spark discover them costs an extra distinct pass)."""
    li = load(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(dec("l_quantity")).cast("double"))
    )
    return out.select(
        "l_returnflag", F.col("O").alias("qty_O"), F.col("F").alias("qty_F")
    )


# ---------------------------------------------------------------------------
# A3 — distributed block-range source (rows-only; fetcher is synthetic).
# ---------------------------------------------------------------------------


@query(
    "q_block_range_source",
    sql="""
    SELECT CAST(b AS BIGINT) AS block_number,
           CAST(0 AS INTEGER) AS log_index,
           '0x_origin_marketplace' AS address,
           'ListingCreated' AS event_name,
           'l-' || CAST(b AS VARCHAR) AS listing_id,
           'Qm' || CAST(b AS VARCHAR) AS ipfs_hash
    FROM range(10014455, 10014955) t(b)
    """,
    tags=("pipeline", "source"),
)
def q_block_range_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.range over ≤1000-block chunks → mapInPandas, one fetcher call
    per chunk: the A3 scan distributed across executors. The fetcher
    stub is a closed-form function of the block number, so the oracle
    regenerates the exact rows with DuckDB's range()."""
    from bigquery_etl_spark.pipeline.schemas import RAW_LOGS_SCHEMA
    from bigquery_etl_spark.sources.incremental import block_range_source

    def fetcher(lo: int, hi: int) -> list[dict]:
        return [
            {
                "block_number": b,
                "log_index": 0,
                "address": "0x_origin_marketplace",
                "event_name": "ListingCreated",
                "listing_id": f"l-{b}",
                "ipfs_hash": f"Qm{b}",
            }
            for b in range(lo, hi + 1)
        ]

    return block_range_source(spark, 10_014_455, 10_014_954, fetcher, RAW_LOGS_SCHEMA)


# ---------------------------------------------------------------------------
# Multimodal (charter; deterministic fake media, real Spark plumbing).
# The fake generator is a pure function of media_id, so each query's
# EXACT expected output is re-derived here in plain Python (no Spark,
# no Arrow) and embedded as a DuckDB VALUES literal — the twins
# adjudicate the mapInPandas plumbing end-to-end.
# ---------------------------------------------------------------------------


def _fake_content(i: int) -> bytes:
    # mirrors operators.multimodal.make_fake_media exactly
    return bytes((i * 7 + j * 13) % 256 for j in range(256 + i))


def _media_kinds(n: int = 32):
    return [(i, ["image", "audio", "video"][i % 3]) for i in range(n)]


def _media_features_sql(n: int = 32) -> str:
    from bigquery_etl_spark.operators.multimodal import _byte_stats
    from bigquery_etl_spark.plans.pipeline_e2e import _values_sql

    rows = []
    for i, kind in _media_kinds(n):
        nb, mean, ent = _byte_stats(_fake_content(i))
        rows.append((i, kind, nb, mean, ent))
    return _values_sql(
        rows,
        [("media_id", "BIGINT"), ("kind", "VARCHAR"), ("n_bytes", "INTEGER"),
         ("mean_byte", "DOUBLE"), ("entropy", "DOUBLE")],
    )


def _media_frames_sql(n: int = 32, every_ms: int = 500) -> str:
    from bigquery_etl_spark.plans.pipeline_e2e import _values_sql

    rows = []
    for i, kind in _media_kinds(n):
        if kind != "video":
            continue
        content = _fake_content(i)
        duration = 1000 * (i + 1)
        for idx, ms in enumerate(range(0, duration, every_ms)):
            lo = (idx * 16) % max(len(content) - 16, 1)
            rows.append((i, idx, ms, content[lo : lo + 16].hex().upper()))
    return _values_sql(
        rows,
        [("media_id", "BIGINT"), ("frame_idx", "INTEGER"),
         ("frame_ms", "INTEGER"), ("frame_hex", "VARCHAR")],
    )


def _media_stats_sql(n: int = 32) -> str:
    from bigquery_etl_spark.plans.pipeline_e2e import _values_sql

    agg: dict[str, list] = {}
    for i, kind in _media_kinds(n):
        duration = None if kind == "image" else 1000 * (i + 1)
        agg.setdefault(kind, []).append((len(_fake_content(i)), duration))
    rows = []
    for kind in sorted(agg):
        vals = agg[kind]
        durs = [d for _, d in vals if d is not None]
        rows.append(
            (kind, len(vals), sum(b for b, _ in vals) / len(vals),
             sum(durs) / len(durs) if durs else None)
        )
    return _values_sql(
        rows,
        [("kind", "VARCHAR"), ("n", "BIGINT"), ("avg_bytes", "DOUBLE"),
         ("avg_duration_ms", "DOUBLE")],
    )


@query("q_media_features", sql=_media_features_sql(), tags=("multimodal",))
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-stat features over the deterministic fake corpus; exact
    VALUES twin re-derived without Spark."""
    return extract_features(make_fake_media(spark, n=32))


@query("q_media_frames", sql=_media_frames_sql(), tags=("multimodal",))
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (1→N fan-out). The operator keeps the frame
    BINARY (the scale-correct type); the query boundary serializes it to
    hex so the driver's hasher can adjudicate it (same rule as
    array→json elsewhere)."""
    frames = sample_frames(make_fake_media(spark, n=32))
    return frames.select(
        "media_id", "frame_idx", "frame_ms", F.hex("frame").alias("frame_hex")
    )


@query("q_media_stats", sql=_media_stats_sql(), tags=("multimodal",))
def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregate (never touches the binary column); exact
    VALUES twin re-derived without Spark."""
    return media_stats(make_fake_media(spark, n=32))


# ---------------------------------------------------------------------------
# Forward as-of join + incremental aggregate maintenance (rows-only).
# ---------------------------------------------------------------------------


@query(
    "q_join_asof_forward",
    sql="""
    SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
    FROM events e
    ASOF LEFT JOIN (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                           ORDER BY o_orderkey DESC) AS rn
              FROM orders)
        WHERE rn = 1
    ) o ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    """,
    tags=("join", "asof"),
)
def q_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each event, the customer's NEXT order at-or-after event time
    (forward as-of; same single-shuffle rewrite over reversed time).
    Oracle: DuckDB ASOF with <= plus max-orderkey dedup per (custkey,
    orderdate), mirroring the operator's largest-tiebreak-wins rule."""
    from bigquery_etl_spark.operators.asof import asof_join

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice"
    )
    return asof_join(
        e, o,
        left_on="user_id", right_on="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        tiebreak="o_orderkey", direction="forward",
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


@query(
    "q_incremental_agg",
    sql="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           COUNT(value) AS n,
           CAST(MIN(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS min_value,
           CAST(MAX(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS max_value
    FROM events GROUP BY event_type
    """,
    tags=("agg", "incremental"),
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: fold three event micro-batches into
    mergeable per-type state; equals the full recompute (pinned by
    tests/test_incremental_agg.py — the oracle IS the full recompute).
    value is decimal-cast so the three-batch fold sums exactly and
    matches the oracle's single-pass sum bit-for-bit."""
    from bigquery_etl_spark.operators.incremental_agg import merge_agg_state, partial_agg

    e = load(spark, sf_dir, "events").withColumn("value", dec("value"))
    measures = {"total_value": ("sum", "value"), "n": ("count", "value"),
                "min_value": ("min", "value"), "max_value": ("max", "value")}
    state = None
    for i in range(3):
        batch = e.filter(F.col("event_id") % 3 == i)
        state = merge_agg_state(state, partial_agg(batch, ["event_type"], measures),
                                ["event_type"], measures)
    return state.select(
        "event_type",
        F.col("total_value").cast("double").alias("total_value"),
        "n",
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


@query(
    "q_hll_distinct",
    sql="""
    SELECT event_type, TRUE AS within_5pct
    FROM events GROUP BY event_type
    """,
    tags=("agg", "sketch"),
    twin="invariant",
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery HLL_COUNT.INIT/MERGE/EXTRACT analogue: per-type daily
    sketches merged up to per-type totals. The scale path for distinct
    counts over arbitrary date ranges — merge persisted sketches, never
    rescan.

    Driver-checkable bound form: sketch estimates are engine-specific,
    so the query asserts |estimate - exact| <= 5% (lg_k=12 → ~1.6% rse,
    5% is ~3 sigma) and emits the boolean; the twin emits TRUE."""
    from bigquery_etl_spark.operators.sketches import (
        distinct_sketch,
        estimate,
        merge_sketches,
    )

    e = load(spark, sf_dir, "events").withColumn("dt", F.to_date("ts"))
    daily = distinct_sketch(e, ["event_type", "dt"], "user_id")
    est = estimate(merge_sketches(daily, ["event_type"]), "distinct_users")
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        (
            F.abs(F.col("distinct_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )


@query(
    "q_quarantine",
    sql="""
    WITH tagged AS (
        SELECT event_type,
               CASE WHEN event_id % 7 = 0 THEN 'x' || props ELSE props END AS raw
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE json_valid(raw)) AS BIGINT) AS n_ok,
           CAST(COUNT(*) FILTER (WHERE NOT json_valid(raw)) AS BIGINT)
               AS n_quarantined,
           CAST(SUM(CASE WHEN json_valid(raw)
                         THEN CAST(raw->>'$.k' AS BIGINT) END) AS BIGINT)
               AS sum_k_ok
    FROM tagged GROUP BY event_type
    """,
    tags=("dq", "ingest", "json"),
)
def q_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record quarantine at ingest (the reference's only validation
    is its BigQuery load-job schema check, ref main.py:169-177 — rows
    either load or fail the job; here malformed payloads are ROUTED,
    not fatal): a deterministic 1-in-7 subset of the JSON payloads is
    corrupted (prefix garbage — Spark's Jackson tolerates TRAILING
    garbage after a complete value, DuckDB does not; a leading byte is
    malformed to both), `from_json` classifies rows in one pass (NULL result =
    unparseable), and the per-type summary counts both legs plus an
    aggregate over the clean leg only. The oracle classifies with
    DuckDB's `json_valid` — two different parsers agreeing on the
    same routing."""
    from bigquery_etl_spark.plans._util import spread

    # from_json over every row is the heavy stage; the single-file
    # fixture would run it as ONE task (r4 measured 2.5 s single-task →
    # 0.3 s spread) — spread() no-ops on multi-split inputs at scale
    e = spread(
        load(spark, sf_dir, "events").select("event_id", "event_type", "props")
    )
    raw = F.when(
        F.col("event_id") % 7 == 0, F.concat(F.lit("x"), F.col("props"))
    ).otherwise(F.col("props"))
    # PERMISSIVE from_json returns an all-NULL STRUCT for malformed
    # input (never a NULL column), so null-checking the struct cannot
    # classify; the corrupt-record side channel can.
    parsed = F.from_json(
        raw,
        "k BIGINT, _corrupt_record STRING",
        {"columnNameOfCorruptRecord": "_corrupt_record"},
    )
    t = e.select(
        "event_type", parsed.alias("p"), raw.alias("raw")
    ).withColumn("ok", F.col("p._corrupt_record").isNull())
    return t.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("ok"), 1)).alias("n_ok"),
        F.count(F.when(~F.col("ok"), 1)).alias("n_quarantined"),
        F.sum(F.when(F.col("ok"), F.col("p.k"))).alias("sum_k_ok"),
    )


@query(
    "q_heavy_hitters_cms",
    sql="""
    WITH ex AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM events GROUP BY user_id
        ORDER BY exact_n DESC, user_id LIMIT 5
    )
    SELECT user_id, exact_n, TRUE AS ge_exact, TRUE AS within_bound
    FROM ex
    """,
    tags=("sketch", "cms", "tierc"),
    twin="invariant",
)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (operators/sketches.cms_build):
    estimate the top-5 users' event counts from a depth-4 × width-1024
    sketch (4096 counters total, any input size) and check the CMS
    guarantees against the exact counts — ``ge_exact`` (a CMS NEVER
    underestimates: collisions only add) and ``within_bound``
    (overestimate ≤ 4N/width — 2× the Markov expectation, deterministic
    for the fixed hash family on the fixtures). The exact top-5 counts
    are the SQL-checkable part of the twin."""
    from bigquery_etl_spark.operators.sketches import cms_build, cms_query

    e = load(spark, sf_dir, "events").select("user_id")
    n_total = e.count()
    sketch = cms_build(e, "user_id")
    exact = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(5)
    )
    est = cms_query(sketch, exact.select("user_id"), "user_id")
    bound = 4.0 * n_total / 1024
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            "exact_n",
            (F.col("est") >= F.col("exact_n")).alias("ge_exact"),
            ((F.col("est") - F.col("exact_n")) <= F.lit(bound)).alias(
                "within_bound"
            ),
        )
    )


def _fake_wav(i: int) -> bytes:
    """Deterministic per-id WAV fixture: A·sin(2π·f·t/sr), parameters
    derived from the id so every row decodes to different, predictable
    sample-domain stats."""
    import math

    from bigquery_etl_spark.operators.multimodal import encode_wav

    sr = 4000 + 1000 * (i % 3)
    f = 50 * (1 + i % 5)
    amp = 0.2 + 0.1 * (i % 4)
    n = sr // 2  # half a second
    return encode_wav(
        sr, [amp * math.sin(2 * math.pi * f * t / sr) for t in range(n)]
    )


def _audio_features_sql(n: int = 12) -> str:
    """VALUES twin re-derived WITHOUT Spark (q_media_features rule):
    decode the identical WAV bytes with the pure-Python codec and
    recompute the identical feature math — adjudicates the Arrow/
    mapInPandas plumbing end-to-end."""
    import math

    from bigquery_etl_spark.operators.multimodal import decode_wav
    from bigquery_etl_spark.plans.pipeline_e2e import _values_sql

    rows = []
    for i in range(n):
        sr, _ch, v = decode_wav(_fake_wav(i))
        ns = len(v)
        rms = math.sqrt(sum(x * x for x in v) / ns)
        zcr = sum(
            1 for k in range(1, ns) if (v[k - 1] < 0) != (v[k] < 0)
        ) / (ns - 1)
        peak = max(abs(x) for x in v)
        rows.append(
            (i, sr, ns, 1000.0 * ns / sr, rms, zcr, peak, True)
        )
    return _values_sql(
        rows,
        [("media_id", "BIGINT"), ("sample_rate", "INTEGER"),
         ("n_samples", "BIGINT"), ("duration_ms", "DOUBLE"),
         ("rms", "DOUBLE"), ("zcr", "DOUBLE"), ("peak", "DOUBLE"),
         ("decoded", "BOOLEAN")],
    )


@query("q_audio_features", sql=_audio_features_sql(), tags=("multimodal", "audio"))
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r7: REAL audio decode in the pipeline — deterministic WAV tones
    decode to sample-domain features (measured duration/RMS/ZCR/peak)
    through Arrow-batched mapInPandas; the twin re-derives the exact
    values from the same bytes without Spark. At 100 TB the binary
    column stays in its own parquet row groups and this operator is a
    map-only stage — no shuffle, per-partition parallel."""
    from bigquery_etl_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
    )

    rows = [
        (
            i,
            "audio",
            _fake_wav(i),
            {"format": "wav", "width": None, "height": None,
             "duration_ms": None, "sample_rate": None},
        )
        for i in range(12)
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return extract_audio_features(media).orderBy("media_id")

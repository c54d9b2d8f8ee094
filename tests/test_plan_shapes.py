"""Physical-plan shape assertions (the 'would this survive 100x scale'
checks from the charter, automated): pushdown reaches the scan, small
dims broadcast, top-k pushes below the shuffle, map-only operators stay
exchange-free, the as-of join shuffles exactly once.
"""

from __future__ import annotations

import re

import pytest

from bigquery_etl_spark.registry import all_queries

QUERIES = all_queries()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_count(plan: str, node: str) -> int:
    return len(re.findall(rf"\b{node}\b", plan))


def test_scan_project_pushes_filter_and_prunes(spark, sf_dir):
    df = QUERIES["q_scan_project"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey",
        "l_extendedprice",
        "l_shipdate",
    }


def test_broadcast_join_uses_broadcast(spark, sf_dir):
    plan = _executed_plan(QUERIES["q_join_broadcast"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sort_limit_is_top_k(spark, sf_dir):
    plan = _executed_plan(QUERIES["q_sort_limit"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no global sort materialized


def test_topk_per_group_pushes_window_limit(spark, sf_dir):
    plan = _executed_plan(QUERIES["q_topk_per_group"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan  # per-partition top-k below the shuffle


def test_sort_within_partitions_has_no_exchange(spark, sf_dir):
    plan = _executed_plan(QUERIES["q_sort_within_partitions"].fn(spark, sf_dir))
    assert "Exchange" not in plan


def test_asof_join_shuffles_once(spark, sf_dir):
    """The as-of rewrite must cost ONE hash exchange (on the join key) —
    plus at most AQE-inserted reads — not a join explosion."""
    plan = _executed_plan(QUERIES["q_join_asof"].fn(spark, sf_dir))
    n_exchanges = _optimized_count(plan, "Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_signatures_partial_agg(spark, sf_dir):
    """Signature aggregation must be partial+final (map-side combine)."""
    from bigquery_etl_spark.operators.dedup import minhash_signatures
    from bigquery_etl_spark.sources import load

    sigs = minhash_signatures(load(spark, sf_dir, "documents"), "doc_id", "text")
    plan = _executed_plan(sigs)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Python" not in plan  # fully JVM-side


def test_agg_hash_partial_final(spark, sf_dir):
    plan = _executed_plan(QUERIES["q_agg_hash"].fn(spark, sf_dir))
    assert "partial_sum" in plan or plan.count("HashAggregate") >= 2


def test_embed_topk_routes_by_workload(spark, sf_dir):
    """r8 re-route (VERDICT r7 item 4): the r7 LocalRelation fix
    removed the BLAS kernel's Python floor, so EVERY exact load now
    takes the Arrow-blocked kernel — one MapInPandas over the corpus
    scan (no Q×N expression grid, no corpus shuffle), batch-local
    top-k pruning, final window over a corpus-size-independent
    residue. Measured at sf0.1/dim64 Q=5: 0.64 s vs the crossJoin
    route's 1.0 s (the 64-term dot chains fall out of codegen and the
    array<float>→double cast doubles the scan; PERF.md r8)."""
    for name in ("q_embed_topk", "q_embed_topk_batch"):
        plan = _executed_plan(QUERIES[name].fn(spark, sf_dir))
        assert "MapInPandas" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        # the corpus itself is never shuffled: the only exchange is the
        # tiny scored residue ahead of the final window
        assert plan.count("Exchange") <= 2


def test_blocked_kernel_matches_bruteforce(spark, sf_dir):
    """Exact-path refactor guard: blocked BLAS top-k == crossJoin
    brute-force top-k, row for row (same tie-break), including the
    boundary-tie case the batch-local pruning must preserve."""
    from pyspark.sql import functions as F

    from bigquery_etl_spark.operators.similarity import (
        cosine_topk_blocked,
        cosine_topk_bruteforce,
        topk,
    )
    from bigquery_etl_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = (
        emb.orderBy("vec_id")
        .limit(3)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    rounded = lambda df: sorted(  # noqa: E731
        (r.query_id, r.vec_id, round(r.cos_sim, 9), r.rank)
        for r in df.collect()
    )
    got = rounded(cosine_topk_blocked(emb, q, k=7))
    want = rounded(cosine_topk_bruteforce(emb, q, k=7, dim=64))
    assert got == want
    # dispatcher (r8): the BLAS kernel is the default for EVERY exact
    # load (the r7 LocalRelation fix removed its Python floor and the
    # codegen crossJoin measured slower even at Q=5 — PERF.md r8);
    # the crossJoin route stays available by opting in explicitly
    plan = _executed_plan(topk(emb, q, k=7))
    assert "MapInPandas" in plan
    assert "MapInPandas" in _executed_plan(topk(emb, q, k=7, dim=64))
    opt_in = _executed_plan(
        topk(emb, q, k=7, dim=64, codegen_max_queries=8, n_queries=3)
    )
    assert "MapInPandas" not in opt_in
    assert "BroadcastNestedLoopJoin" in opt_in
    q9 = emb.orderBy("vec_id").limit(9).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert "MapInPandas" in _executed_plan(topk(emb, q9, k=7, dim=64))
    import pytest

    with pytest.raises(ValueError, match="max_exact_queries"):
        topk(emb, q9, k=7, max_exact_queries=5)

    # boundary ties: duplicate vectors force equal cosines straddling
    # the per-batch k-th boundary; the id-asc tie-break must hold
    dup = emb.limit(40).union(
        emb.limit(40).withColumn("vec_id", F.col("vec_id") + 100000)
    ).repartition(4)
    got_t = rounded(cosine_topk_blocked(dup, q, k=5))
    want_t = rounded(cosine_topk_bruteforce(dup, q, k=5, dim=64))
    assert got_t == want_t


def test_correlated_subquery_decorrelates(spark, sf_dir):
    """No per-row subquery execution: the correlated scalar subquery
    becomes an aggregate + join."""
    df = QUERIES["q_subquery_correlated"].fn(spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "scalar-subquery" not in optimized.lower()
    assert "Join" in optimized


# --- TPC-H completion pack (plans/tpch2.py) ------------------------------


def test_tpch_q4_exists_plans_as_semi_join(spark, sf_dir):
    plan = _executed_plan(QUERIES["q_tpch_q4"].fn(spark, sf_dir))
    assert "LeftSemi" in plan  # EXISTS decorrelated, never materialized


def test_tpch_q19_disjunction_pushes_derived_conjuncts(spark, sf_dir):
    """The OR-of-AND predicate must contribute derived single-side
    bounds to BOTH scans (l_quantity range to lineitem, p_size/p_brand
    tree to part) — at 100 TB that's the difference between scanning
    the selective slice and the whole fact table."""
    df = QUERIES["q_tpch_q19"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().toString()
    # (plan toString truncates long filter lists — assert on prefixes)
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan  # derived bound pushed
    assert re.search(r"PushedFilters: \[[^\]]*Or\(", plan)  # OR tree reached a scan
    assert re.search(r"Filter [^\n]*p_brand", plan)  # residual disjunction kept


def test_tpch_q21_anti_join_hashes_on_order_key(spark, sf_dir):
    """The NOT EXISTS side must join on l_orderkey (hash/sort-merge on
    the fact key), not degenerate to a nested-loop."""
    plan = _executed_plan(QUERIES["q_tpch_q21"].fn(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q16_blacklist_is_broadcast_anti(spark, sf_dir):
    plan = _executed_plan(QUERIES["q_tpch_q16"].fn(spark, sf_dir))
    # toString lists join keys between operator name and join type
    assert re.search(r"BroadcastHashJoin [^\n]*LeftAnti", plan)


def test_tpch_q11_threshold_is_single_row_broadcast(spark, sf_dir):
    """The fraction-of-total comparison must enter as a broadcast of a
    one-row aggregate (no driver collect, no recompute per row)."""
    plan = _executed_plan(QUERIES["q_tpch_q11"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_tpch_q22_anti_join_and_scalar_threshold(spark, sf_dir):
    plan = _executed_plan(QUERIES["q_tpch_q22"].fn(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime filtering (Spark's bloom-filter join pruning): a
    selective dim filter materializes as a bloom filter applied to the
    fact side BEFORE the join shuffle — at scale this cuts the shuffled
    fact bytes by the dim's selectivity. Thresholds are tuned here
    because the fixture is byte-small; at 100 TB the defaults fire."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from bigquery_etl_spark.sources import load

        big = load(spark, sf_dir, "lineitem")
        dim = (
            load(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        j = big.join(dim, big.l_orderkey == dim.o_orderkey).groupBy().count()
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in opt.lower()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_training_caches_corpus(spark, sf_dir, monkeypatch):
    """IVF Lloyd iterations must read the normalized corpus from cache,
    not re-scan+re-normalize it per iteration (1 read + cached
    iterations vs n_iters+1 full reads at 100 TB)."""
    from bigquery_etl_spark.operators.similarity import train_ivf_centroids
    from bigquery_etl_spark.sources import load

    emb = load(spark, sf_dir, "embeddings").limit(200)
    # patch the concrete class (pyspark.sql.classic), not the facade
    DataFrame = type(emb)
    persists, unpersist_plans = [], []
    orig_p, orig_u = DataFrame.persist, DataFrame.unpersist

    def spy_persist(self, *a, **k):
        persists.append(self)
        return orig_p(self, *a, **k)

    def spy_unpersist(self, *a, **k):
        # captured while still cached: the df's own plan must resolve
        # to the in-memory relation, proving iteration reads hit it
        unpersist_plans.append(_executed_plan(self))
        return orig_u(self, *a, **k)

    monkeypatch.setattr(DataFrame, "persist", spy_persist)
    monkeypatch.setattr(DataFrame, "unpersist", spy_unpersist)
    cents = train_ivf_centroids(emb, n_centroids=4, n_iters=2)
    assert len(cents) == 4
    assert len(persists) == 1 and len(unpersist_plans) == 1
    assert "InMemory" in unpersist_plans[0]


def test_pack_sequences_no_global_window(spark, sf_dir):
    """The packing prefix sum must stay distributed: the big side is
    range-shuffled and windowed PER BUCKET; the only single-partition
    stage is the constant-size per-bucket offset table (one row per
    bucket), which comes back via broadcast. A 'simplification' to one
    global ORDER BY window would serialize the whole table through one
    task at 100 TB."""
    from pyspark.sql import functions as F

    from bigquery_etl_spark.functions.text import ws_tokens
    from bigquery_etl_spark.operators.packing import pack_sequences
    from bigquery_etl_spark.sources import load

    d = load(spark, sf_dir, "documents")
    packed = pack_sequences(d, "doc_id", F.size(ws_tokens("text")), budget=1000)
    packed.collect()  # AQE: exchange reuse shows only in the final plan
    plan = _executed_plan(packed).split("== Initial Plan ==")[0]
    # r4 single-shuffle shape: quantile buckets make the window's hash
    # exchange on __bkt the ONLY data-sized movement — no range shuffle
    assert "rangepartitioning" not in plan.lower()
    assert len(re.findall(r"hashpartitioning\(__bkt", plan)) >= 1
    assert plan.count("SinglePartition") == 1   # only the bucket totals
    assert "BroadcastHashJoin" in plan          # offsets come back broadcast
    # the big-side window is keyed by the bucket, not a global order
    assert re.search(r"windowspecdefinition\(__bkt", plan)
    # the offsets subtree rides the SAME exchange (one scan, one shuffle)
    assert "ReusedExchange" in plan


def test_pretrain_corpus_broadcasts_eval_grams(spark, sf_dir):
    """The decontamination stage must broadcast the eval 5-gram set
    (tiny by definition) — a shuffle join there would move the whole
    training corpus's shingles for a constant-size side."""
    plan = _executed_plan(QUERIES["q_pretrain_corpus"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # and the packing tail stays distributed (same invariant as
    # test_pack_sequences_no_global_window: bucketed window, no global
    # ORDER BY window)
    assert re.search(r"windowspecdefinition\(__bkt", plan)


def test_funnel_single_data_exchange(spark, sf_dir):
    # the ordered funnel must evaluate all three stage windows AND the
    # per-user rollup on ONE user_id hash partitioning: exactly two
    # exchanges total (the data shuffle + the 1-row final aggregate)
    plan = _executed_plan(QUERIES["q_funnel"].fn(spark, sf_dir))
    assert _optimized_count(plan, "Exchange") <= 2, plan
    assert _optimized_count(plan, "Window") == 3, plan


def test_snapshot_diff_single_join(spark, sf_dir):
    # change feed = ONE full-outer join; the four change-type legs are
    # filters over it, never re-joins
    from bigquery_etl_spark.operators.merge import snapshot_diff
    from bigquery_etl_spark.sources import load

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    a = o.filter("o_orderkey % 2 = 0")
    b = o.filter("o_orderkey % 3 = 0")
    plan = _executed_plan(snapshot_diff(a, b, ["o_orderkey"]))
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1, plan
    assert plan.count("Scan parquet") == 2, plan  # each side read ONCE
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_pinned_cte_exchange_reuse(spark, sf_dir):
    """r14 pin-site lint (VERDICT r13 item 7): the RAND()-pinned CTEs
    (TF-IDF __tfcnt/__tfdf, GAP_FILL __gf_src) are pushdown BARRIERS
    whose safety argument is 'every consumer reads the whole CTE, and
    all consumers ride one planned copy'. If a future composition adds
    a FILTERED consumer, InlineCTE still preserves the pin but the
    consumers stop sharing (or the barrier starts hiding a pushable
    predicate) and the scan/reuse counts move — this test goes red and
    forces the invariant to be re-argued at the pin site (see the PIN
    INVARIANT comments in bq_dialect.py and operators/gapfill.py)."""
    # TF-IDF chain: the corpus subtree plans ONCE (pinned __tfcnt
    # serves tf fold + vocab chain + N), so the physical plan reads
    # parquet a bounded number of times and reuses the pinned exchange.
    # AQE resolves exchange reuse at runtime — execute, then read the
    # FINAL plan (the test_pack_sequences protocol).
    def _final(df) -> str:
        df.collect()
        return _executed_plan(df).split("== Initial Plan ==")[0]

    plan = _final(QUERIES["q_ml_tfidf"].fn(spark, sf_dir))
    assert plan.count("Scan parquet") <= 4, plan
    assert "ReusedExchange" in plan, plan
    plan = _final(QUERIES["q_ml_idf"].fn(spark, sf_dir))
    assert plan.count("Scan parquet") <= 4, plan
    assert "ReusedExchange" in plan, plan
    # GAP_FILL: bounds aggregate + grid join + fill windows all ride
    # the ONE pinned hash(parts) exchange over a single input scan.
    plan = _final(QUERIES["q_gap_fill"].fn(spark, sf_dir))
    assert plan.count("Scan parquet") <= 2, plan
    assert "ReusedExchange" in plan, plan


def test_ml_tfidf_vocabulary_index_distributed(spark, sf_dir):
    """r13 (VERDICT r12 item 2): the TF-IDF vocabulary index must not
    be ONE unpartitioned ROW_NUMBER over the whole vocabulary — at
    web-corpus scale the distinct-token set is 10^8+ rows. The
    prefix-sum spelling ranks within hash buckets (partitioned
    window) and folds 1024 bucket offsets; every WindowExec carries a
    partition spec, and the only SinglePartition stage is the 1-row
    corpus-size aggregate."""
    df = QUERIES["q_ml_tfidf"].fn(spark, sf_dir)
    plan = _executed_plan(df)
    for line in plan.splitlines():
        if "windowspecdefinition" not in line:
            continue
        # partition columns precede the ORDER-BY spec: an unpartitioned
        # window spells windowspecdefinition(<col> ASC ... immediately
        head = line.split("windowspecdefinition(", 1)[1]
        first = head.split(",", 1)[0]
        assert " ASC" not in first and " DESC" not in first, line
    assert plan.count("SinglePartition") <= 1, plan


def test_json_mutators_run_after_the_range_shuffle(spark, sf_dir):
    """q_json_mutators ends in a global ORDER BY k over five mutator
    UDF calls. bq_sql sorts below the UDF projection, so the range
    exchange's sample job and shuffle carry only the cheap columns and
    no Python UDF runs under the exchange; the multi-path JSON_REMOVE
    is one call, so all five share one ArrowEvalPython node."""
    plan = _executed_plan(QUERIES["q_json_mutators"].fn(spark, sf_dir))
    assert "EvalPython" not in plan[plan.index("rangepartitioning"):], plan
    assert plan.count("ArrowEvalPython") == 1, plan

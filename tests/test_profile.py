"""The profiler contract (bigquery_etl_spark/profile.py): layers come
from the timed run's own execution and add up to its wall."""

from __future__ import annotations

import pytest

from bigquery_etl_spark.profile import (
    LAYER_KEYS,
    Profiler,
    _codegen_compiles,
    _save_noop,
    metric_total,
)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def test_timed_run_layers_come_from_the_timed_execution(spark, sf_dir):
    from bigquery_etl_spark.registry import all_queries

    spec = all_queries()["q_doc_stats"]
    layers = Profiler(spark).timed_run(spec, sf_dir, runs=2)

    assert set(layers) == set(LAYER_KEYS)
    phases = layers["analysis_s"] + layers["optimization_s"] + layers["planning_s"]
    assert layers["wall_s"] >= layers["build_s"] + phases
    assert layers["execution_s"] >= 0
    assert layers["build_s"] + phases + layers["execution_s"] == pytest.approx(
        layers["wall_s"], abs=0.003
    )
    assert layers["jobs"] >= 1 and layers["stages"] >= 1 and layers["tasks"] >= 1

    store = spark._jsparkSession.sharedState().statusStore()
    execution = store.execution(layers["execution_id"]).get()
    assert execution.description() == "q_doc_stats"
    assert layers["jobs"] == execution.jobs().size()
    plan_nodes = {
        n.name().strip() for n in _iter(store.planGraph(layers["execution_id"]).allNodes())
    }
    ops = layers["top_operators"]
    assert ops and {op["name"] for op in ops} <= plan_nodes
    assert [op["time_s"] for op in ops] == sorted((op["time_s"] for op in ops), reverse=True)
    # the job description is cleared once the timing is done
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_timed_run_counts_the_classes_it_compiled(spark, sf_dir):
    """``codegen_compiles`` is the timed run's compiled-class cache
    misses: a plan never seen before compiles, its back-to-back re-run
    compiles nothing."""
    import time
    from types import SimpleNamespace

    # a literal no other plan carries, so its generated code is new
    expr = f"id + {time.time_ns()} AS x"
    spec = SimpleNamespace(
        name="codegen_probe",
        fn=lambda spark, _: spark.range(64).selectExpr(expr),
    )
    profiler = Profiler(spark)
    assert profiler.timed_run(spec, sf_dir, runs=1)["codegen_compiles"] >= 1
    assert profiler.timed_run(spec, sf_dir, runs=1)["codegen_compiles"] == 0


# One pass over these compiles ~155 generated classes in a fresh test
# session, more than Spark's default cache of 100, so under that cap
# every class is evicted before its statement comes round again.
EVICTION_SET = ("q_ml_tfidf", "q_hybrid_search", "q_funcs_r11b")


def test_a_repeated_pass_over_declared_queries_compiles_nothing(spark, sf_dir):
    """The session's compiled-class cache holds the working set of a
    pass over several declared queries: the second pass re-runs Janino
    on none of their classes (session.get_spark sizes the cache)."""
    from bigquery_etl_spark.registry import all_queries

    registry = all_queries()
    compiles = _codegen_compiles(spark)

    def one_pass() -> int:
        before = compiles.getCount()
        for name in EVICTION_SET:
            _save_noop(registry[name].fn(spark, sf_dir))
        return compiles.getCount() - before

    one_pass()
    assert one_pass() == 0


@pytest.mark.parametrize(
    "text, value",
    [
        ("3,225", 3225),
        ("0.0 B", 0),
        ("16.3 MiB", 16.3 * 2**20),
        ("319 ms", 0.319),
        ("1.5 s", 1.5),
        ("total (min, med, max (stageId: taskId))\n49.0 MiB (256.0 KiB, "
         "16.3 MiB, 16.3 MiB (stage 1.0: task 3))", 49.0 * 2**20),
        ("total (min, med, max (stageId: taskId))\n84 ms (6 ms, 18 ms, "
         "50 ms (stage 1.0: task 3))", 0.084),
    ],
)
def test_metric_total_parses_formatted_sql_metrics(text, value):
    assert metric_total(text) == pytest.approx(value)

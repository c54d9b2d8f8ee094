"""bench.py's compact line: every matched query's wall survives a
2000-char stdout tail at 10 ms resolution, and
tools/bench_gate.py reads it back (and the older recordings too)."""

from __future__ import annotations

import bench
import pytest
from tools import bench_gate


def _matched() -> list[str]:
    from bigquery_etl_spark.registry import all_queries

    reg = all_queries()
    return [
        n for n in bench.HEADLINE
        if n not in bench.MATCHED_EXCLUDE and reg[n].sql and reg[n].twin == "exact"
    ]


@pytest.mark.parametrize("scale", [0.049, 99.9])
def test_compact_line_fits_tail_and_round_trips(tmp_path, scale):
    matched = _matched()
    assert len(matched) == 84
    # sub-50 ms walls used to print as 0.0 once the line outgrew the
    # tail; 99.9 s walls are the widest values the line must still fit
    timings = {
        n: round(scale * (i + 1) / len(bench.HEADLINE), 3)
        for i, n in enumerate(bench.HEADLINE)
    }
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "matched_total_sec": 123.456,
        "duckdb_baseline_sec": 98.765,
        "matched_ratio": 1.25,
        "calib_duckdb_probe_sec": 0.0671,
    }
    line = bench.compact_line(out, set(matched))
    assert len(line) < 1950

    path = tmp_path / "bench.out"
    path.write_text("spark noise\n" + line + "\n")
    parsed = bench_gate.current_run(["bench_gate", str(path)])
    assert parsed["matched_ratio"] == 1.25
    assert set(parsed["queries"]) == set(matched)
    assert all(v > 0 for v in parsed["queries"].values())
    for n in matched:
        assert parsed["queries"][n] == pytest.approx(max(timings[n], 0.01), abs=0.006)


def test_bench_gate_reads_recorded_rounds():
    rounds = bench_gate._all_rounds()
    assert len(rounds) >= 14
    assert all(r["queries"] and all(v >= 0 for v in r["queries"].values()) for r in rounds)

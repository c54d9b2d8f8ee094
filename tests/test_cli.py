"""CLI surface (python -m bigquery_etl_spark)."""

from __future__ import annotations

import json
import subprocess
import sys

CLI = [sys.executable, "-m", "bigquery_etl_spark"]


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*CLI, *args], capture_output=True, text=True, timeout=600
    )


def test_list_filters_by_tag():
    p = _run("list", "--tag", "packing")
    assert p.returncode == 0
    names = [line.split()[0] for line in p.stdout.strip().splitlines()]
    assert "q_pack_sequences" in names and "q_pretrain_corpus" in names
    assert all("packing" in line for line in p.stdout.strip().splitlines())


def test_oracle_prints_twin_sql():
    p = _run("oracle", "q_agg_hash")
    assert p.returncode == 0 and "SELECT" in p.stdout.upper()


def test_oracle_unknown_query_exits_2():
    assert _run("oracle", "q_nope").returncode == 2


def test_run_json_round_trips():
    p = _run(
        "run", "q_doc_stats", "--sf-dir", "/root/testdata/sf0.001", "--json"
    )
    assert p.returncode == 0, p.stderr[-2000:]
    rows = json.loads(p.stdout.strip().splitlines()[-1])
    assert rows and all("lang" in r for r in rows)


def test_profile_json_prints_every_layer(sf_dir):
    from bigquery_etl_spark.profile import LAYER_KEYS

    p = _run("profile", "q_doc_stats", "--sf-dir", sf_dir, "--runs", "1", "--json")
    assert p.returncode == 0, p.stderr[-2000:]
    lines = [line for line in p.stdout.strip().splitlines() if line.startswith("{")]
    assert len(lines) == 1
    layers = json.loads(lines[0])
    assert layers["query"] == "q_doc_stats"
    assert set(LAYER_KEYS) <= set(layers)
    assert layers["jobs"] >= 1 and layers["top_operators"]


def test_profile_unknown_query_exits_2():
    assert _run("profile", "q_nope").returncode == 2

"""SQL MERGE INTO / time-travel front-end over VersionedTable
(sources/lake_sql.py — VERDICT r3 item 3: the catalog path)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from bigquery_etl_spark.sources.lake_sql import (
    LakeCatalog,
    MergeParseError,
    merge_dataframes,
    parse_merge,
)


def _mk(spark, tmp_path, rows, schema="k long, v string, amt long"):
    cat = LakeCatalog(spark)
    df = spark.createDataFrame(rows, schema)
    cat.create_table("tgt", str(tmp_path / "tgt"), df)
    return cat


def test_parse_full_grammar():
    spec = parse_merge("""
        MERGE INTO tgt AS t
        USING (SELECT k, v FROM src WHERE v <> 'x') s
        ON t.k = s.k
        WHEN MATCHED AND s.v = 'dead' THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.v, amt = t.amt + 1
        WHEN NOT MATCHED AND s.v <> 'skip' THEN INSERT (k, v) VALUES (s.k, s.v)
        WHEN NOT MATCHED BY SOURCE AND t.v = 'stale' THEN DELETE
    """)
    assert spec.target == "tgt" and spec.target_alias == "t"
    assert spec.source_sql.startswith("SELECT k")
    assert spec.source_alias == "s"
    assert [c.kind for c in spec.clauses] == [
        "matched", "matched", "not_matched", "not_matched_by_source",
    ]
    assert spec.clauses[0].action == "delete"
    assert spec.clauses[1].assignments == {"v": "s.v", "amt": "t.amt + 1"}
    assert spec.clauses[2].insert_cols == ["k", "v"]
    # CASE WHEN inside an expression must not split clauses
    spec2 = parse_merge("""
        MERGE INTO tgt USING src s ON tgt.k = s.k
        WHEN MATCHED THEN UPDATE SET v = CASE WHEN s.v = 'a' THEN 'A' ELSE s.v END
    """)
    assert len(spec2.clauses) == 1
    assert "CASE WHEN" in spec2.clauses[0].assignments["v"]
    with pytest.raises(MergeParseError):
        parse_merge("MERGE INTO tgt USING s ON 1=1 WHEN MATCHED THEN INSERT *")


def test_merge_sql_end_to_end(spark, tmp_path):
    cat = _mk(
        spark,
        tmp_path,
        [(1, "a", 10), (2, "b", 20), (3, "stale", 30), (4, "c", 40)],
    )
    spark.createDataFrame(
        [(1, "dead", 0), (2, "b2", 0), (5, "new", 0), (6, "skip", 0)],
        "k long, v string, amt long",
    ).createOrReplaceTempView("src")
    version = cat.sql("""
        MERGE INTO tgt AS t
        USING (SELECT * FROM src) AS s
        ON t.k = s.k
        WHEN MATCHED AND s.v = 'dead' THEN DELETE
        WHEN MATCHED THEN UPDATE SET v = s.v, amt = t.amt + 1
        WHEN NOT MATCHED BY SOURCE AND t.v = 'stale' THEN DELETE
        WHEN NOT MATCHED AND s.v <> 'skip' THEN INSERT (k, v) VALUES (s.k, upper(s.v))
    """)
    assert version == 2
    got = {r.k: (r.v, r.amt) for r in cat.sql("SELECT * FROM tgt").collect()}
    # 1 deleted, 2 updated, 3 deleted (stale, by source), 4 passes,
    # 5 inserted (amt NULL), 6 skipped
    assert got == {2: ("b2", 21), 4: ("c", 40), 5: ("NEW", None)}
    # time travel back to v1
    v1 = {r.k for r in cat.sql("SELECT k FROM tgt VERSION AS OF 1").collect()}
    assert v1 == {1, 2, 3, 4}


def test_merge_first_match_wins_and_3vl(spark):
    t = spark.createDataFrame([(1, "a", None), (2, "b", 5)], "k long, v string, c long")
    s = spark.createDataFrame([(1, "x", None), (2, "y", 1)], "k long, v string, c long")
    spec = parse_merge("""
        MERGE INTO tgt t USING src s ON t.k = s.k
        WHEN MATCHED AND s.c > 0 THEN DELETE
        WHEN MATCHED AND s.c IS NULL THEN UPDATE SET v = 'nulled'
        WHEN MATCHED THEN UPDATE SET v = s.v
    """)
    out = {r.k: r.v for r in merge_dataframes(t, s, spec).collect()}
    # k=2: s.c=1 -> first clause deletes; k=1: s.c NULL -> NULL cond is
    # FALSE (3VL), second clause matches
    assert out == {1: "nulled"}


def test_merge_update_star_and_insert_star(spark):
    t = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    s = spark.createDataFrame([(2, "B"), (3, "C")], "k long, v string")
    spec = parse_merge("""
        MERGE INTO tgt t USING src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    out = {r.k: r.v for r in merge_dataframes(t, s, spec).collect()}
    assert out == {1: "a", 2: "B", 3: "C"}


def test_merge_cardinality_violation_raises(spark):
    t = spark.createDataFrame([(1, "a")], "k long, v string")
    s = spark.createDataFrame([(1, "x"), (1, "y")], "k long, v string")
    spec = parse_merge(
        "MERGE INTO tgt t USING src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    with pytest.raises(Exception, match="cardinality"):
        merge_dataframes(t, s, spec).collect()


def test_merge_idempotent_replay(spark, tmp_path):
    """Same-values MERGE re-applied → byte-identical snapshot (the
    exactly-once story composes: idempotent merge + versioned commit)."""
    cat = _mk(spark, tmp_path, [(1, "a", 10), (2, "b", 20)])
    spark.createDataFrame(
        [(2, "B", 99), (3, "C", 30)], "k long, v string, amt long"
    ).createOrReplaceTempView("src2")
    stmt = """
        MERGE INTO tgt t USING src2 s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """
    cat.sql(stmt)
    first = sorted(map(tuple, cat.sql("SELECT * FROM tgt").collect()))
    cat.sql(stmt)
    second = sorted(map(tuple, cat.sql("SELECT * FROM tgt").collect()))
    assert first == second


def test_timestamp_as_of(spark, tmp_path):
    import json
    import os

    cat = _mk(spark, tmp_path, [(1, "a", 1)])
    cat.tables["tgt"].append(
        spark.createDataFrame([(2, "b", 2)], "k long, v string, amt long")
    )
    # pin manifest timestamps to known epochs (v1=1000, v2=2000)
    mdir = str(tmp_path / "tgt" / "_manifests")
    for fname, ts in [("v00000001.json", 1000.0), ("v00000002.json", 2000.0)]:
        p = os.path.join(mdir, fname)
        with open(p) as f:
            m = json.load(f)
        m["ts"] = ts
        with open(p, "w") as f:
            json.dump(m, f)
    rows = cat.sql(
        "SELECT k FROM tgt TIMESTAMP AS OF '1500'"
    ).collect()
    assert {r.k for r in rows} == {1}
    rows2 = cat.sql("SELECT k FROM tgt TIMESTAMP AS OF '2500'").collect()
    assert {r.k for r in rows2} == {1, 2}
    with pytest.raises(ValueError, match="no commit"):
        cat.sql("SELECT k FROM tgt TIMESTAMP AS OF '500'")


def test_lake_ddl_surface(spark, tmp_path):
    """r4: INSERT INTO / DESCRIBE HISTORY / OPTIMIZE [ZORDER BY] /
    VACUUM complete the SQL lakehouse surface over the manifest store."""
    import os

    cat = _mk(spark, tmp_path, [(1, "a", 10), (2, "b", 20)])

    v = cat.sql("INSERT INTO tgt SELECT 3 AS k, 'c' AS v, 30 AS amt")
    assert v == 2
    assert cat.sql("SELECT COUNT(*) AS n FROM tgt").collect()[0].n == 3

    hist = {r.version: r.kind for r in cat.sql("DESCRIBE HISTORY tgt").collect()}
    assert hist == {1: "create", 2: "append"}

    # fragment the table, then OPTIMIZE with a z-order clause
    cat.sql("INSERT INTO tgt SELECT 4, 'd', 40")
    v = cat.sql("OPTIMIZE tgt ZORDER BY (k, amt)")
    assert v == 4
    rows = {r.k for r in cat.sql("SELECT k FROM tgt").collect()}
    assert rows == {1, 2, 3, 4}
    # optimized commit holds ONE data file
    assert len(cat.tables["tgt"].files()) == 1

    removed = cat.sql("VACUUM tgt RETAIN 1").collect()
    assert len(removed) > 0  # pre-optimize files dropped
    for r in removed:
        assert not os.path.exists(os.path.join(str(tmp_path / "tgt"), r.removed_path))
    # table still reads after vacuum; history before retention is gone
    assert cat.sql("SELECT COUNT(*) AS n FROM tgt").collect()[0].n == 4


def test_alter_add_columns_and_ctas(spark, tmp_path):
    """r4: ALTER TABLE ADD COLUMNS is a metadata-only commit (no data
    files written; old files read NULL for new columns) and CREATE
    TABLE ... AS SELECT lands a new versioned table in the catalog."""
    import os

    from bigquery_etl_spark.sources.versioned import SchemaEvolutionError

    cat = _mk(spark, tmp_path, [(1, "a", 10), (2, "b", 20)])
    cat.warehouse = str(tmp_path / "wh")

    files_before = {e["path"] for e in cat.tables["tgt"].files()}
    v = cat.sql("ALTER TABLE tgt ADD COLUMNS (score double, tag string)")
    assert v == 2
    # metadata-only: identical file set, schema widened, NULL-filled
    assert {e["path"] for e in cat.tables["tgt"].files()} == files_before
    rows = {r.k: (r.score, r.tag) for r in cat.sql("SELECT * FROM tgt").collect()}
    assert rows == {1: (None, None), 2: (None, None)}
    # single-column no-paren form; duplicate add refused
    assert cat.sql("ALTER TABLE tgt ADD COLUMN note string") == 3
    with pytest.raises(SchemaEvolutionError, match="already exists"):
        cat.sql("ALTER TABLE tgt ADD COLUMN note string")
    # appends may now fill the new column
    cat.sql("INSERT INTO tgt SELECT 3, 'c', 30, 9.5, 'hot', NULL")
    got = {r.k: r.score for r in cat.sql("SELECT k, score FROM tgt").collect()}
    assert got == {1: None, 2: None, 3: 9.5}

    # CTAS into the warehouse dir, then an explicit LOCATION
    assert cat.sql("CREATE TABLE hot AS SELECT k, v FROM tgt WHERE amt >= 20") == 1
    assert os.path.isdir(os.path.join(cat.warehouse, "hot"))
    assert {r.k for r in cat.sql("SELECT k FROM hot").collect()} == {2, 3}
    loc = str(tmp_path / "elsewhere")
    cat.sql(f"CREATE TABLE cold LOCATION '{loc}' AS SELECT k FROM tgt WHERE amt < 20")
    assert os.path.isdir(loc)
    assert {r.k for r in cat.sql("SELECT k FROM cold").collect()} == {1}
    with pytest.raises(ValueError, match="already exists"):
        cat.sql("CREATE TABLE hot AS SELECT 1 AS x")


def test_optimize_sizes_file_count_from_manifest_bytes(spark, tmp_path):
    """r4: OPTIMIZE targets ~maxPartitionBytes per output file (from
    manifest byte totals, no data scan) instead of coalesce(1) — at
    scale a single-task rewrite would serialize the table and destroy
    skip/scan parallelism."""
    cat = _mk(spark, tmp_path, [(i, f"v{i:06d}", i * 3) for i in range(20000)])
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "32768b")
    try:
        cat.sql("OPTIMIZE tgt ZORDER BY (k, amt)")
        files = cat.tables["tgt"].files()
        assert len(files) > 1  # sized by bytes/target, not collapsed
        assert sum(f["rows"] for f in files) == 20000
        assert cat.sql("SELECT COUNT(DISTINCT k) AS n FROM tgt").collect()[0].n == 20000
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


# ---------------------------------------------------------------------------
# r5: UPDATE / DELETE FROM statements
# ---------------------------------------------------------------------------


def _dml_cat(spark, tmp_path, name="dml_t"):
    from bigquery_etl_spark.sources.lake_sql import LakeCatalog

    cat = LakeCatalog(spark)
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, s string, x double",
    )
    cat.create_table(name, str(tmp_path / name), df)
    return cat


def test_update_with_where_reads_old_row(spark, tmp_path):
    cat = _dml_cat(spark, tmp_path)
    v = cat.sql("UPDATE dml_t SET x = x + k, s = upper(s) WHERE k % 2 = 0")
    assert v == 2
    got = {r.k: (r.s, r.x) for r in cat.tables["dml_t"].read().collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 22.0), 3: ("c", None), 4: ("D", 44.0)}


def test_update_null_predicate_keeps_row(spark, tmp_path):
    cat = _dml_cat(spark, tmp_path)
    # x IS NULL for k=3 -> x > 15 is NULL -> row must NOT update (3VL)
    cat.sql("UPDATE dml_t SET s = 'HIT' WHERE x > 15")
    got = {r.k: r.s for r in cat.tables["dml_t"].read().collect()}
    assert got == {1: "a", 2: "HIT", 3: "c", 4: "HIT"}


def test_update_unknown_column_raises(spark, tmp_path):
    cat = _dml_cat(spark, tmp_path)
    with pytest.raises(ValueError, match="unknown column"):
        cat.sql("UPDATE dml_t SET nope = 1")


def test_delete_where_and_truncate(spark, tmp_path):
    cat = _dml_cat(spark, tmp_path)
    cat.sql("DELETE FROM dml_t WHERE x >= 20")  # NULL x survives (3VL)
    assert {r.k for r in cat.tables["dml_t"].read().collect()} == {1, 3}
    v = cat.sql("DELETE FROM dml_t")
    assert v == 3
    assert cat.tables["dml_t"].read().count() == 0
    # schema preserved through truncate
    assert [f.name for f in cat.tables["dml_t"].read().schema.fields] == ["k", "s", "x"]


def test_update_captures_change_feed(spark, tmp_path):
    cat = _dml_cat(spark, tmp_path)
    t = cat.tables["dml_t"]
    t.enable_change_feed(["k"])
    cat.sql("UPDATE dml_t SET x = 0 WHERE k = 1")
    ch = t.changes(t.latest_version(), t.latest_version()).collect()
    assert sorted((r.k, r._change_type) for r in ch) == [
        (1, "update_postimage"), (1, "update_preimage"),
    ]


def test_update_racing_blind_append_conflicts(spark, tmp_path, monkeypatch):
    """Multi-writer rule (versioned.py): an UPDATE is an overwrite — it
    does NOT commute with concurrent commits, so when a blind append
    lands first the UPDATE must surface CommitConflict (the caller
    re-reads and retries), never silently clobber the appended rows."""
    from bigquery_etl_spark.sources.versioned import CommitConflict, VersionedTable

    cat = _dml_cat(spark, tmp_path)
    t = cat.tables["dml_t"]
    racer = VersionedTable(spark, t.root)

    real = VersionedTable._commit
    state = {"raced": False}

    def flaky(self, kind, files, schema, **kw):
        if kind == "overwrite" and not state["raced"]:
            state["raced"] = True
            real(racer, "append", racer._write_data(
                spark.createDataFrame([(9, "z", 9.0)], "k long, s string, x double")
            ), schema)
        return real(self, kind, files, schema, **kw)

    monkeypatch.setattr(VersionedTable, "_commit", flaky)
    with pytest.raises(CommitConflict):
        cat.sql("UPDATE dml_t SET x = 0 WHERE k = 1")
    # the appended row survives; the failed UPDATE changed nothing
    assert {r.k for r in racer.read().collect()} == {1, 2, 3, 4, 9}


def test_restore_statement_roundtrip(spark, tmp_path):
    """RESTORE TABLE ... TO VERSION AS OF n via the SQL surface: the
    restored snapshot equals the target version bit-for-bit and the
    commit is metadata-only (same file entries)."""
    from bigquery_etl_spark.sources.versioned import VersionedTable

    cat = LakeCatalog(spark)
    t = cat.create_table(
        "r_t", str(tmp_path / "rt"),
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string"),
    )
    cat.sql("DELETE FROM r_t WHERE k >= 2")
    v = cat.sql("RESTORE TABLE r_t TO VERSION AS OF 1")
    tbl = cat.tables["r_t"] if hasattr(cat, "tables") else t
    assert isinstance(tbl, VersionedTable) or tbl is not None
    got = sorted((r.k, r.v) for r in cat.tables["r_t"].read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    assert (
        cat.tables["r_t"]._load_manifest(v)["files"]
        == cat.tables["r_t"]._load_manifest(1)["files"]
    )


def test_constraint_statements(spark, tmp_path):
    from bigquery_etl_spark.sources.versioned import ConstraintViolation

    cat = LakeCatalog(spark)
    cat.create_table(
        "c_t", str(tmp_path / "ct"),
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, x double"),
    )
    cat.sql("ALTER TABLE c_t ADD CONSTRAINT x_pos CHECK (x > 0)")
    with pytest.raises(ConstraintViolation, match="x_pos"):
        cat.sql("INSERT INTO c_t SELECT 3, -1.0")
    with pytest.raises(ConstraintViolation):
        cat.sql("UPDATE c_t SET x = -5.0 WHERE k = 1")
    cat.sql("ALTER TABLE c_t DROP CONSTRAINT x_pos")
    cat.sql("INSERT INTO c_t SELECT 3, -1.0")
    assert {r.k for r in cat.tables["c_t"].read().collect()} == {1, 2, 3}


# -- r6 (VERDICT r5 item 5): DML join forms + literal-aware parsing ---------

ROWS = [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)]


def _duck_dml(stmts):
    """Run the same DML in DuckDB on a copy of the fixture; return the
    final table as {k: (s, x)}."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE dml_t (k BIGINT, s VARCHAR, x DOUBLE)")
    con.executemany("INSERT INTO dml_t VALUES (?, ?, ?)", ROWS)
    con.execute(
        "CREATE TABLE src (k BIGINT, nv VARCHAR); "
        "INSERT INTO src VALUES (2, 'ZZ'), (4, 'YY'), (9, 'nope')"
    )
    for s in stmts:
        con.execute(s)
    return {r[0]: (r[1], r[2]) for r in con.execute(
        "SELECT k, s, x FROM dml_t").fetchall()}


def test_update_from_joined_source_matches_duckdb(spark, tmp_path):
    """UPDATE t SET ... FROM src WHERE <join> — the BigQuery joined-
    update form, exact-twinned against DuckDB running the identical
    statement on a copied table."""
    cat = _dml_cat(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, "ZZ"), (4, "YY"), (9, "nope")], "k long, nv string"
    )
    src.createOrReplaceTempView("src")
    stmt = ("UPDATE dml_t SET s = src.nv, x = dml_t.x + 1 "
            "FROM src WHERE dml_t.k = src.k")
    v = cat.sql(stmt)
    assert v == 2
    got = {r.k: (r.s, r.x) for r in cat.tables["dml_t"].read().collect()}
    assert got == _duck_dml([stmt])


def test_update_from_subquery_source(spark, tmp_path):
    cat = _dml_cat(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, "ZZ"), (4, "YY"), (9, "nope")], "k long, nv string"
    )
    src.createOrReplaceTempView("src")
    stmt = ("UPDATE dml_t SET s = s2.nv FROM "
            "(SELECT k, nv FROM src WHERE nv <> 'nope') AS s2 "
            "WHERE dml_t.k = s2.k")
    cat.sql(stmt)
    got = {r.k: r.s for r in cat.tables["dml_t"].read().collect()}
    assert got == {1: "a", 2: "ZZ", 3: "c", 4: "YY"}


def test_update_from_multi_match_refused(spark, tmp_path):
    """One target row joining two source rows must refuse (the
    BigQuery/Delta UPDATE-FROM cardinality rule), not apply an
    arbitrary one."""
    cat = _dml_cat(spark, tmp_path)
    spark.createDataFrame(
        [(2, "A"), (2, "B")], "k long, nv string"
    ).createOrReplaceTempView("dupsrc")
    with pytest.raises(Exception, match="cardinality"):
        cat.sql(
            "UPDATE dml_t SET s = dupsrc.nv FROM dupsrc "
            "WHERE dml_t.k = dupsrc.k"
        )


def test_delete_in_subquery_matches_duckdb(spark, tmp_path):
    """DELETE FROM t WHERE k IN (SELECT ...) — subquery predicates run
    through spark.sql over the snapshot views, twinned with DuckDB."""
    cat = _dml_cat(spark, tmp_path)
    src = spark.createDataFrame(
        [(2, "ZZ"), (4, "YY"), (9, "nope")], "k long, nv string"
    )
    src.createOrReplaceTempView("src")
    stmt = "DELETE FROM dml_t WHERE k IN (SELECT k FROM src WHERE nv <> 'nope')"
    cat.sql(stmt)
    got = {r.k: (r.s, r.x) for r in cat.tables["dml_t"].read().collect()}
    assert got == _duck_dml([stmt])
    assert set(got) == {1, 3}


def test_delete_not_exists_subquery(spark, tmp_path):
    cat = _dml_cat(spark, tmp_path)
    spark.createDataFrame([(1,), (3,)], "k long").createOrReplaceTempView("keepers")
    cat.sql(
        "DELETE FROM dml_t WHERE NOT EXISTS "
        "(SELECT 1 FROM keepers WHERE keepers.k = dml_t.k)"
    )
    assert {r.k for r in cat.tables["dml_t"].read().collect()} == {1, 3}


def test_update_string_literal_containing_keywords(spark, tmp_path):
    """Regression (VERDICT r5 What's-wrong 4): a WHERE/FROM inside a
    string literal must not split the statement."""
    cat = _dml_cat(spark, tmp_path)
    cat.sql("UPDATE dml_t SET s = 'a WHERE b' WHERE k = 1")
    got = {r.k: r.s for r in cat.tables["dml_t"].read().collect()}
    assert got[1] == "a WHERE b" and got[2] == "b"
    cat.sql("UPDATE dml_t SET s = 'x FROM y' WHERE k = 2")
    assert {r.s for r in cat.tables["dml_t"].read().filter("k=2").collect()} == {
        "x FROM y"
    }


def test_delete_string_literal_containing_where(spark, tmp_path):
    cat = _dml_cat(spark, tmp_path)
    cat.sql("UPDATE dml_t SET s = 'del WHERE me' WHERE k = 3")
    cat.sql("DELETE FROM dml_t WHERE s = 'del WHERE me'")
    assert {r.k for r in cat.tables["dml_t"].read().collect()} == {1, 2, 4}


def test_drop_and_truncate_table(spark, tmp_path):
    from bigquery_etl_spark.sources.lake_sql import LakeCatalog

    cat = LakeCatalog(spark, warehouse=str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    cat.create_table("dt", str(tmp_path / "dt"), df)
    # TRUNCATE keeps the table + history (time travel reaches old data)
    cat.sql("TRUNCATE TABLE dt")
    assert cat.sql("SELECT COUNT(*) AS n FROM dt").collect()[0].n == 0
    assert (
        cat.sql("SELECT COUNT(*) AS n FROM dt VERSION AS OF 1")
        .collect()[0].n == 2
    )
    cat.sql("INSERT INTO dt SELECT 3, 'c'")  # still writable
    # DROP removes table, storage, and its indexes
    import os
    root = cat.tables["dt"].root
    cat.sql("CREATE SEARCH INDEX dt_si ON dt (v) OPTIONS(id_column='k')")
    cat.sql("DROP TABLE dt")
    assert "dt" not in cat.tables and not os.path.exists(root)
    assert not cat.indexes
    cat.sql("DROP TABLE IF EXISTS dt")  # no-op, no error
    import pytest as _p
    with _p.raises(Exception):
        cat.sql("DROP TABLE never_existed")
    # a dependent materialized view blocks the drop (loud, not orphan)
    cat.create_table("dt2", str(tmp_path / "dt2"), df)
    cat.sql("CREATE MATERIALIZED VIEW dt2_mv AS "
            "SELECT v, COUNT(*) AS n FROM dt2 GROUP BY v")
    with _p.raises(ValueError, match="depend on it"):
        cat.sql("DROP TABLE dt2")
    cat.sql("DROP MATERIALIZED VIEW dt2_mv")
    cat.sql("DROP TABLE dt2")
    assert "dt2" not in cat.tables


def test_create_or_replace_and_if_not_exists(spark, tmp_path):
    from bigquery_etl_spark.sources.lake_sql import LakeCatalog

    cat = LakeCatalog(spark, warehouse=str(tmp_path / "wh"))
    spark.createDataFrame([(1,)], "k long").createOrReplaceTempView("cor_src")
    cat.sql("CREATE TABLE cor AS SELECT * FROM cor_src")
    # IF NOT EXISTS: existing table -> no-op, content untouched
    cat.sql("CREATE TABLE IF NOT EXISTS cor AS SELECT 99 AS k")
    assert [r.k for r in cat.sql("SELECT k FROM cor").collect()] == [1]
    # OR REPLACE: drops and recreates (fresh history)
    cat.sql("CREATE OR REPLACE TABLE cor AS SELECT 2 AS k")
    assert [r.k for r in cat.sql("SELECT k FROM cor").collect()] == [2]
    assert cat.tables["cor"].latest_version() == 1
    # plain collision still refuses
    import pytest as _p
    with _p.raises(ValueError, match="already exists"):
        cat.sql("CREATE TABLE cor AS SELECT 3 AS k")
    with _p.raises(ValueError, match="mutually exclusive"):
        cat.sql("CREATE OR REPLACE TABLE IF NOT EXISTS cor AS SELECT 1")
    # explicit-schema spelling takes the modifiers too
    cat.sql("CREATE OR REPLACE TABLE cor (k INT64, v STRING)")
    assert cat.sql("SELECT COUNT(*) AS n FROM cor").collect()[0].n == 0
    cat.sql("CREATE TABLE IF NOT EXISTS cor (x FLOAT64)")
    assert dict(cat.tables["cor"].read().dtypes) == {
        "k": "bigint", "v": "string",
    }


def test_row_access_policies_r10(spark, tmp_path):
    """BigQuery row-level security (r10): allowlist semantics, OR of
    granted policies, SESSION_USER() resolution, pushdown, and the
    DDL lifecycle."""
    import pytest

    from bigquery_etl_spark.sources.lake_sql import LakeCatalog

    cat = LakeCatalog(spark, warehouse=str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "alice@x", 10.0), (2, "bob@x", 20.0),
         (3, "alice@x", 30.0), (4, "carol@x", 5.0)],
        "id long, owner string, v double",
    )
    cat.create_table("acc", str(tmp_path / "acc"), df)
    cat.session_user = "alice@x"
    cat.sql(
        'CREATE ROW ACCESS POLICY own ON acc GRANT TO ("user:alice@x") '
        "FILTER USING (owner = SESSION_USER())"
    )
    assert [r.id for r in cat.sql(
        "SELECT id FROM acc ORDER BY id").collect()] == [1, 3]
    # allowlist: a principal with NO granted policy sees nothing
    cat.session_user = "bob@x"
    assert cat.sql("SELECT COUNT(*) AS n FROM acc").collect()[0].n == 0
    # granted policies OR together
    cat.sql(
        "CREATE ROW ACCESS POLICY big ON acc "
        'GRANT TO ("allAuthenticatedUsers") FILTER USING (v >= 20.0)'
    )
    assert [r.id for r in cat.sql(
        "SELECT id FROM acc ORDER BY id").collect()] == [2, 3]
    cat.session_user = "alice@x"
    assert [r.id for r in cat.sql(
        "SELECT id FROM acc ORDER BY id").collect()] == [1, 2, 3]
    # the policy predicate reaches the parquet scan (prunes, not
    # post-filters, at scale)
    plan = cat.sql("SELECT id FROM acc")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Or(EqualTo(owner,alice@x),GreaterThanOrEqual(v,20.0))" in plan
    # duplicate without OR REPLACE refuses; lifecycle works
    with pytest.raises(ValueError, match="already exists"):
        cat.sql(
            'CREATE ROW ACCESS POLICY own ON acc GRANT TO ("x") '
            "FILTER USING (TRUE)"
        )
    cat.sql("DROP ROW ACCESS POLICY own ON acc")
    assert [r.id for r in cat.sql(
        "SELECT id FROM acc ORDER BY id").collect()] == [2, 3]
    cat.sql("DROP ALL ROW ACCESS POLICIES ON acc")
    assert cat.sql("SELECT COUNT(*) AS n FROM acc").collect()[0].n == 4
    with pytest.raises(ValueError, match="not found"):
        cat.sql("DROP ROW ACCESS POLICY ghost ON acc")
    # SESSION_USER() in plain queries resolves too (literal-aware)
    row = cat.sql(
        "SELECT SESSION_USER() AS u, 'SESSION_USER()' AS s"
    ).collect()[0]
    assert row.u == "alice@x" and row.s == "SESSION_USER()"


_SORT_SHAPES = {
    # pass-through sort keys: the UDFs move above the sort
    "cte": """
        WITH j AS (SELECT k, g, doc FROM sd_docs)
        SELECT k, JSON_STRIP_NULLS(doc) AS s, JSON_SET(doc, '$.k', k) AS t
        FROM j ORDER BY k""",
    "from": """
        SELECT k, JSON_REMOVE(doc, '$.a', '$.b[0]') AS r
        FROM sd_docs ORDER BY k""",
    "desc_nulls_last": """
        SELECT g, k, JSON_STRIP_NULLS(doc) AS s
        FROM sd_docs ORDER BY g DESC, k ASC NULLS LAST""",
    # the sort reads what the projection computes, or is a top-k
    "udf_key": """
        SELECT k, JSON_SET(doc, '$.k', k) AS t FROM sd_docs ORDER BY t""",
    "computed_alias": """
        SELECT -k AS nk, JSON_STRIP_NULLS(doc) AS s
        FROM sd_docs ORDER BY nk""",
    "limit": """
        SELECT k, JSON_STRIP_NULLS(doc) AS s FROM sd_docs
        ORDER BY k LIMIT 5""",
}


def _canon(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "#", plan)


@pytest.mark.parametrize("shape", sorted(_SORT_SHAPES))
def test_bq_sql_sorts_below_python_udf_projection(spark, shape):
    """bq_sql places a global ORDER BY under a Python-UDF projection
    when the sort keys pass through it (the range exchange's sample job
    would otherwise run the UDFs a second time). The result is exactly
    the translated statement's: same rows, same order, same schema;
    the shapes the rewrite must not touch keep their plan."""
    from bigquery_etl_spark.sources.bq_dialect import translate

    rows = [
        (k, k % 3 if k % 7 else None,
         None if k % 11 == 0 else
         f'{{"a": {k}, "b": [{k}, null, 2], "c": {{"d": null}}}}')
        for k in range(40)
    ] + [(None, 1, '{"a": null}')]
    spark.createDataFrame(rows, "k long, g long, doc string") \
        .repartition(3).createOrReplaceTempView("sd_docs")
    text = _SORT_SHAPES[shape]
    got = LakeCatalog(spark).bq_sql(text)
    want = spark.sql(translate(text))
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    moved = shape in ("cte", "from", "desc_nulls_last")
    assert (_canon(got) != _canon(want)) == moved
    if moved:
        plan = got._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[-1]
        assert "EvalPython" not in plan[plan.index("rangepartitioning"):]

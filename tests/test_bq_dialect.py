"""BigQuery Standard SQL dialect shim (r6): translation unit cases +
end-to-end execution through LakeCatalog.bq_sql.
"""

from __future__ import annotations

import pytest

from bigquery_etl_spark.sources.bq_dialect import BQDialectError, translate


@pytest.mark.parametrize(
    "src,want",
    [
        (
            "SELECT SAFE_CAST(x AS INT64), SAFE_DIVIDE(a, b) FROM t",
            "SELECT TRY_CAST(x AS BIGINT), TRY_DIVIDE(a, b) FROM t",
        ),
        (
            "SELECT COUNTIF(x > 0), LOGICAL_AND(f), ARRAY_LENGTH(arr) FROM t",
            "SELECT COUNT_IF(x > 0), BOOL_AND(f), SIZE(arr) FROM t",
        ),
        (
            "SELECT TIMESTAMP_DIFF(t2, t1, HOUR) FROM t",
            "SELECT TIMESTAMPDIFF(HOUR, t1, t2) FROM t",
        ),
        (
            # r11: WEEK now lowers to the Sunday-anchor arithmetic
            # (BigQuery's anchor), no longer Spark's Monday 'WEEK' —
            # value checks live in test_date_trunc_week_anchors_r11
            "SELECT TIMESTAMP_TRUNC(ts, MONTH), DATE_TRUNC(d, ISOWEEK) FROM t",
            "SELECT DATE_TRUNC('MONTH', ts), DATE_TRUNC('WEEK', d) FROM t",
        ),
        (  # already Spark-style: untouched (idempotent translation)
            "SELECT DATE_TRUNC('month', ts) FROM t",
            "SELECT DATE_TRUNC('month', ts) FROM t",
        ),
        (
            "SELECT DATE_ADD(d, INTERVAL 3 DAY), TIMESTAMP_SUB(ts, INTERVAL 1 HOUR) FROM t",
            "SELECT (d + INTERVAL 3 DAY), (ts - INTERVAL 1 HOUR) FROM t",
        ),
        (
            "SELECT x FROM t, UNNEST(arr) AS x",
            "SELECT x FROM t LATERAL VIEW explode(arr) __unnest_1 AS x",
        ),
        (
            "SELECT x, o FROM t, UNNEST(arr) AS x WITH OFFSET AS o WHERE o < 2",
            "SELECT x, o FROM t LATERAL VIEW posexplode(arr) __unnest_1 AS o, x WHERE o < 2",
        ),
        (  # default offset name; WHERE must not be eaten as the name
            "SELECT x FROM t, UNNEST(arr) x WITH OFFSET WHERE x > 1",
            "SELECT x FROM t LATERAL VIEW posexplode(arr) __unnest_1 AS offset, x WHERE x > 1",
        ),
        (  # string literals pass through; backtick paths flatten
            "SELECT * FROM `proj.ds.orders` WHERE s <> 'INT64 SAFE_CAST('",
            "SELECT * FROM orders WHERE s <> 'INT64 SAFE_CAST('",
        ),
        (  # wildcard refs keep their backticks for shard expansion
            "SELECT COUNT(*) FROM `ev_*` WHERE _TABLE_SUFFIX = '01'",
            "SELECT COUNT(*) FROM `ev_*` WHERE _TABLE_SUFFIX = '01'",
        ),
        (
            # r13: FORMAT is a real rewriter (C-printf semantics) —
            # a NULL argument nulls the whole result, BigQuery-style
            "SELECT GENERATE_ARRAY(1, 5), FORMAT('%d', x) FROM t",
            "SELECT SEQUENCE(1, 5), (CASE WHEN (x) IS NULL THEN "
            "CAST(NULL AS STRING) ELSE FORMAT_STRING('%d', (x)) END) "
            "FROM t",
        ),
        (
            "SELECT CAST(x AS NUMERIC) FROM t",
            "SELECT CAST(x AS DECIMAL(38,9)) FROM t",
        ),
        (  # DATE_FORMAT must NOT be caught by the FORMAT rename
            "SELECT DATE_FORMAT(d, 'yyyy') FROM t",
            "SELECT DATE_FORMAT(d, 'yyyy') FROM t",
        ),
    ],
)
def test_translate(src, want):
    assert translate(src) == want


def test_translate_refusals():
    # BIGNUMERIC maps to its exact DECIMAL(38,19) subset since r9
    assert translate("SELECT CAST(x AS BIGNUMERIC) FROM t") == (
        "SELECT CAST(x AS DECIMAL(38,19)) FROM t"
    )
    with pytest.raises(BQDialectError, match="alias"):
        translate("SELECT x FROM t, UNNEST(arr) WHERE x > 1")


def test_bq_sql_end_to_end(spark, tmp_path):
    from bigquery_etl_spark.sources.lake_sql import LakeCatalog

    cat = LakeCatalog(spark, warehouse=str(tmp_path))
    df = spark.createDataFrame(
        [(1, "a b c", 10.0, 2), (2, "d e", 0.0, 0), (3, "f", 5.0, 1)],
        "id long, words string, num double, den long",
    )
    cat.create_table("bqd", str(tmp_path / "bqd"), df)
    out = cat.bq_sql(
        "SELECT id, SAFE_DIVIDE(num, den) AS ratio, "
        "ARRAY_LENGTH(SPLIT(words, ' ')) AS n_words "
        "FROM `proj.ds.bqd` ORDER BY id"
    )
    rows = out.collect()
    assert [r.ratio for r in rows] == [5.0, None, 5.0]
    assert [r.n_words for r in rows] == [3, 2, 1]


def test_bq_sql_unnest_with_offset(spark, tmp_path):
    from bigquery_etl_spark.sources.lake_sql import LakeCatalog

    cat = LakeCatalog(spark, warehouse=str(tmp_path))
    df = spark.createDataFrame([(1, "x y z")], "id long, words string")
    cat.create_table("bqu", str(tmp_path / "bqu"), df)
    out = cat.bq_sql(
        "SELECT id, tok, o FROM "
        "(SELECT id, SPLIT(words, ' ') AS toks FROM bqu), "
        "UNNEST(toks) AS tok WITH OFFSET AS o "
        "WHERE o < 2 ORDER BY o"
    )
    assert [(r.tok, r.o) for r in out.collect()] == [("x", 0), ("y", 1)]


def test_bq_sql_composes_with_matview_rewrite(spark, tmp_path):
    """Translated statements run through the full sql() path — a
    BigQuery-flavored aggregate still gets smart-rewritten from a
    materialized view."""
    from bigquery_etl_spark.sources.lake_sql import LakeCatalog

    cat = LakeCatalog(spark, warehouse=str(tmp_path))
    df = spark.createDataFrame(
        [(i, ["A", "B"][i % 2], float(i)) for i in range(10)],
        "id long, grp string, val double",
    )
    cat.create_table("bqm", str(tmp_path / "bqm"), df)
    cat.sql(
        "CREATE MATERIALIZED VIEW bq_mv AS SELECT grp, SUM(val) AS s, "
        "COUNT(*) AS n FROM bqm GROUP BY grp"
    )
    out = cat.bq_sql("SELECT grp, SUM(val) AS s FROM `ds.bqm` GROUP BY grp")
    assert cat.last_mv_rewrite == "bq_mv"
    assert {(r.grp, r.s) for r in out.collect()} == {("A", 20.0), ("B", 25.0)}


# -- CREATE FUNCTION / TABLE FUNCTION (r6) ----------------------------------


@pytest.fixture()
def fcat(spark, tmp_path):
    from bigquery_etl_spark.sources.lake_sql import LakeCatalog

    c = LakeCatalog(spark, warehouse=str(tmp_path))
    c.create_table(
        "ft",
        str(tmp_path / "ft"),
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, amt double"
        ),
    )
    return c


def test_create_scalar_sql_udf(fcat):
    """BigQuery CREATE TEMP FUNCTION maps to Spark's SQL-bodied UDF:
    the body INLINES into the calling plan at analysis time (macro
    expansion inside codegen — zero runtime cost, no Python)."""
    fcat.bq_sql(
        "CREATE TEMP FUNCTION tax(amount FLOAT64) RETURNS FLOAT64 "
        "AS ((amount * 1.2));"
    )
    rows = fcat.bq_sql(
        "SELECT id, tax(amt) AS taxed FROM ft ORDER BY id"
    ).collect()
    assert [r.taxed for r in rows] == [12.0, 24.0, 36.0]


def test_create_function_int64_params_map(fcat):
    fcat.bq_sql(
        "CREATE OR REPLACE TEMP FUNCTION addk(x INT64, k INT64) "
        "AS (x + k);"
    )
    assert fcat.bq_sql("SELECT addk(40, 2) AS v").collect()[0].v == 42


def test_create_table_function(fcat):
    fcat.bq_sql(
        "CREATE TABLE FUNCTION big_amt(lo FLOAT64) AS "
        "SELECT id, amt FROM ft WHERE amt >= lo;"
    )
    rows = fcat.bq_sql("SELECT * FROM big_amt(20.0) ORDER BY id").collect()
    assert [(r.id, r.amt) for r in rows] == [(2, 20.0), (3, 30.0)]


def test_create_table_function_typed_returns(fcat):
    fcat.bq_sql(
        "CREATE OR REPLACE TABLE FUNCTION ids(lo INT64) "
        "RETURNS TABLE<out_id INT64> AS SELECT id FROM ft WHERE id >= lo;"
    )
    rows = fcat.bq_sql("SELECT out_id FROM ids(2) ORDER BY out_id").collect()
    assert [r.out_id for r in rows] == [2, 3]


def test_js_udf_subset_r9(fcat):
    """r9: side-effect-free arithmetic/string JS bodies translate to
    Catalyst-inlined SQL; everything else refuses naming the
    construct."""
    from bigquery_etl_spark.sources.bq_dialect import BQDialectError

    fcat.bq_sql(
        'CREATE TEMP FUNCTION jdbl(x INT64) RETURNS INT64 '
        'LANGUAGE js AS "return x * 2 + 1;";'
    )
    fcat.bq_sql(
        "CREATE TEMP FUNCTION jfmt(s STRING, n FLOAT64) RETURNS STRING "
        "LANGUAGE js AS r'''return s.trim().toUpperCase() "
        "+ ':' + String(Math.round(n));''';"
    )
    r = fcat.bq_sql(
        "SELECT jdbl(20) AS a, jfmt(' hi ', 2.5) AS b, "
        "jfmt('x', -0.5) AS c"
    ).collect()[0]
    assert r.a == 41
    assert r.b == "HI:3"        # Math.round(2.5) = 3 (JS half-up)
    assert r.c == "X:0"         # Math.round(-0.5) = -0 (JS half-up!)
    # ternary / comparison / indexOf semantics
    fcat.bq_sql(
        "CREATE TEMP FUNCTION jix(s STRING) RETURNS INT64 "
        "LANGUAGE js AS r'''return s.indexOf('b') >= 0 "
        "? s.indexOf('b') : -1;''';"
    )
    rows = fcat.bq_sql(
        "SELECT jix('abc') AS hit, jix('xyz') AS miss"
    ).collect()[0]
    assert (rows.hit, rows.miss) == (1, -1)
    # refusals name the construct
    # r12: var bindings + multi-statement bodies are now IMPLEMENTED
    fcat.bq_sql(
        'CREATE TEMP FUNCTION j1(x INT64) RETURNS INT64 '
        'LANGUAGE js AS "var y = 1; return x + y;";'
    )
    assert fcat.spark.sql("SELECT j1(4) AS v").collect()[0].v == 5
    with pytest.raises(BQDialectError, match="replace"):
        fcat.bq_sql(
            "CREATE TEMP FUNCTION j2(s STRING) RETURNS STRING "
            "LANGUAGE js AS r'''return s.replace('a', 'b');''';"
        )
    with pytest.raises(BQDialectError, match="arrays"):
        fcat.bq_sql(
            'CREATE TEMP FUNCTION j3(x INT64) RETURNS INT64 '
            'LANGUAGE js AS "return [1, 2][0];";'
        )
    with pytest.raises(BQDialectError, match="closures over outer"):
        fcat.bq_sql(
            'CREATE TEMP FUNCTION j4(x INT64) RETURNS INT64 '
            'LANGUAGE js AS "return x + outerVar;";'
        )


def test_udf_composes_with_dialect_functions(fcat):
    """The function body goes through the SAME dialect pass as any
    statement: BigQuery function names inside bodies translate."""
    fcat.bq_sql(
        "CREATE TEMP FUNCTION nz(s STRING) AS (ARRAY_LENGTH(SPLIT(s, ' ')));"
    )
    assert fcat.bq_sql("SELECT nz('a b c') AS n").collect()[0].n == 3


def test_named_query_parameters(fcat):
    """BigQuery named parameters (@name) bind as SQL literals,
    literal-aware: a @token inside a string constant stays text."""
    rows = fcat.bq_sql(
        "SELECT id, amt FROM ft WHERE amt >= @lo AND id <> @skip "
        "ORDER BY id",
        params={"lo": 15.0, "skip": 3},
    ).collect()
    assert [r.id for r in rows] == [2]
    got = fcat.bq_sql(
        "SELECT '@lo is not a param' AS s, @lo AS v", params={"lo": 7}
    ).collect()[0]
    assert got.s == "@lo is not a param" and got.v == 7
    import pytest as _p

    with _p.raises(ValueError, match="missing query parameter @hi"):
        fcat.bq_sql("SELECT @hi AS v", params={"lo": 1})
    # string values quote + escape
    assert (
        fcat.bq_sql(
            "SELECT @s AS v", params={"s": "it's"}
        ).collect()[0].v
        == "it's"
    )


def test_hll_count_surface(fcat):
    """HLL_COUNT.INIT/MERGE_PARTIAL/MERGE/EXTRACT → DataSketches
    builtins; sketches are binary and MERGEABLE (re-aggregation gives
    the same estimate as a direct sketch over the union)."""
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    assert (
        translate("SELECT HLL_COUNT.MERGE(s) FROM t")
        == "SELECT HLL_SKETCH_ESTIMATE(HLL_UNION_AGG(s)) FROM t"
    )
    assert (
        translate("SELECT HLL_COUNT.INIT(x, 14) FROM t")
        == "SELECT HLL_SKETCH_AGG(x, 14) FROM t"
    )
    import pytest as _p

    with _p.raises(BQDialectError, match="lgConfigK"):
        translate("SELECT HLL_COUNT.INIT(x, 24) FROM t")
    # end-to-end: partial sketches per id-class re-aggregate to the
    # overall distinct count (3 ids in ft)
    got = fcat.bq_sql(
        "SELECT HLL_COUNT.EXTRACT(HLL_COUNT.MERGE_PARTIAL(s)) AS n "
        "FROM (SELECT id % 2 AS g, HLL_COUNT.INIT(id) AS s "
        "      FROM ft GROUP BY g)"
    ).collect()[0]
    assert got.n == 3
    # sketch payload is an opaque binary column
    row = fcat.bq_sql(
        "SELECT HLL_COUNT.INIT(id) AS s FROM ft"
    ).collect()[0]
    assert isinstance(row.s, (bytes, bytearray))


def test_json_tablesample_star_except(fcat):
    """r6 dialect extras: JSON scalar accessors, TABLESAMPLE SYSTEM,
    and BigQuery's SELECT * EXCEPT (native in Spark 4)."""
    got = fcat.bq_sql(
        "SELECT JSON_VALUE('{\"a\": {\"b\": 7}}', '$.a.b') AS v, "
        "JSON_EXTRACT_SCALAR('{\"s\": \"x\"}', '$.s') AS s"
    ).collect()[0]
    assert got.v == "7" and got.s == "x"  # unquoted scalars
    n = fcat.bq_sql(
        "SELECT COUNT(*) AS n FROM ft TABLESAMPLE SYSTEM (100 PERCENT)"
    ).collect()[0].n
    assert n == 3
    cols = fcat.bq_sql("SELECT * EXCEPT (amt) FROM ft").columns
    assert cols == ["id"]
    from bigquery_etl_spark.sources.bq_dialect import translate

    # JSON_QUERY maps semantics-exactly since r8 (string leaves
    # re-quoted through variant, containers order-preserving)
    out = translate("SELECT JSON_QUERY(j, '$.a')")
    assert "JSON_QUERY" not in out
    assert "TRY_PARSE_JSON" in out and "GET_JSON_OBJECT" in out


def test_generate_date_array(fcat):
    rows = fcat.bq_sql(
        "SELECT GENERATE_DATE_ARRAY(DATE '2024-01-01', DATE '2024-01-04') "
        "AS d, "
        "GENERATE_DATE_ARRAY(DATE '2024-01-01', DATE '2024-03-01', "
        "INTERVAL 1 MONTH) AS m"
    ).collect()[0]
    assert len(rows.d) == 4 and str(rows.d[0]) == "2024-01-01"
    assert len(rows.m) == 3 and str(rows.m[-1]) == "2024-03-01"


def test_geography_point_algebra(fcat):
    """r6 C51: the GEOGRAPHY POINT subset — constructor/accessors/WKT
    round-trip/haversine distance on the mean-radius sphere. Polygon
    constructors and topological predicates stay unknown functions
    (loud error, not silently-wrong geometry)."""
    r = fcat.bq_sql(
        "SELECT ST_DISTANCE(ST_GEOGPOINT(-0.1278, 51.5074), "
        "ST_GEOGPOINT(2.3522, 48.8566)) AS lp, "
        "ST_X(ST_GEOGPOINT(10, 20)) AS x, "
        "ST_Y(ST_GEOGFROMTEXT('POINT(10 -20.5)')) AS y, "
        "ST_ASTEXT(ST_GEOGPOINT(1.5, -2.25)) AS wkt, "
        "ST_DWITHIN(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(1, 0), 120000) "
        "AS near, "
        "ST_DWITHIN(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(1, 0), 100000) "
        "AS far"
    ).collect()[0]
    assert abs(r.lp - 343_557) < 1_000  # London-Paris ~343.5 km
    assert r.x == 10.0 and r.y == -20.5
    assert r.wkt == "POINT(1.5 -2.25)"
    assert r.near is True and r.far is False
    # zero distance to self, antipodal ~ pi * R
    r2 = fcat.bq_sql(
        "SELECT ST_DISTANCE(ST_GEOGPOINT(5, 5), ST_GEOGPOINT(5, 5)) AS z, "
        "ST_DISTANCE(ST_GEOGPOINT(0, 0), ST_GEOGPOINT(180, 0)) AS anti"
    ).collect()[0]
    assert r2.z == 0.0
    import math
    assert abs(r2.anti - math.pi * 6371008.8) < 1.0


def test_strftime_format_family(fcat):
    """r6 C52: FORMAT_/PARSE_ DATE/TIMESTAMP/DATETIME with %-codes →
    java patterns, literal runs quoted; SAFE.PARSE_* returns NULL on
    garbage (try_to_timestamp under ANSI); DATETIME type maps to
    TIMESTAMP_NTZ. Computed formats and unknown codes refuse."""
    import datetime

    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    r = fcat.bq_sql(
        "SELECT FORMAT_DATE('%Y-%m', DATE '2024-03-05') AS a, "
        "FORMAT_TIMESTAMP('%F %T', TIMESTAMP '2024-03-05 10:11:12') AS b, "
        "PARSE_DATE('%Y%m%d', '20240501') AS c, "
        "PARSE_TIMESTAMP('%Y-%m-%dT%H:%M:%S', '2024-05-01T08:09:10') AS d, "
        "SAFE.PARSE_DATE('%Y-%m-%d', 'garbage') AS e, "
        "CAST('2024-01-02 03:04:05' AS DATETIME) AS f"
    ).collect()[0]
    assert r.a == "2024-03" and r.b == "2024-03-05 10:11:12"
    assert r.c == datetime.date(2024, 5, 1)
    assert r.d == datetime.datetime(2024, 5, 1, 8, 9, 10)
    assert r.e is None
    assert r.f == datetime.datetime(2024, 1, 2, 3, 4, 5)
    import pytest as _p

    with _p.raises(BQDialectError, match="unsupported strftime"):
        translate("SELECT FORMAT_DATE('%Q%V', d)")
    with _p.raises(BQDialectError, match="string literal"):
        translate("SELECT FORMAT_DATE(fmt_col, d)")


def test_pivot_and_unpivot_pass_through(fcat):
    """BigQuery PIVOT/UNPIVOT: the operator syntax is the same shape
    Spark parses natively — the shim passes it through untouched."""
    rows = fcat.bq_sql(
        "SELECT * FROM (SELECT id % 2 AS side, id, amt FROM ft) "
        "PIVOT (SUM(amt) FOR side IN (0 AS even, 1 AS odd)) "
        "ORDER BY id"
    ).collect()
    got = {r.id: (r.even, r.odd) for r in rows}
    assert got == {1: (None, 10.0), 2: (20.0, None), 3: (None, 30.0)}
    un = fcat.bq_sql(
        "SELECT id, kind, val FROM "
        "(SELECT id, amt AS a, amt * 2 AS b FROM ft) "
        "UNPIVOT (val FOR kind IN (a, b)) "
        "WHERE id = 2 ORDER BY kind"
    ).collect()
    assert [(r.kind, r.val) for r in un] == [("a", 20.0), ("b", 40.0)]


def test_kll_quantiles_surface(spark, tmp_path):
    """r7 C55: KLL_QUANTILES.* onto Spark's DataSketches KLL builtins.
    No-compaction regime (k > n) makes extraction EXACT, so the
    surface is value-checked; the untyped MERGE_PARTIAL refuses with
    the documented divergence."""
    import pytest as _p

    from bigquery_etl_spark.sources.bq_dialect import BQDialectError
    from bigquery_etl_spark.sources.lake_sql import LakeCatalog

    spark.createDataFrame(
        [(i, float(i) / 2) for i in range(1000)], "id long, v double"
    ).createOrReplaceTempView("kll_t")
    cat = LakeCatalog(spark)
    row = cat.bq_sql("""
        SELECT KLL_QUANTILES.EXTRACT_POINT_INT64(
                   KLL_QUANTILES.MERGE_PARTIAL_INT64(sk), 0.5) AS med,
               KLL_QUANTILES.COUNT_INT64(
                   KLL_QUANTILES.MERGE_PARTIAL_INT64(sk)) AS n
        FROM (SELECT id % 4 AS g,
                     KLL_QUANTILES.INIT_INT64(id, 2048) AS sk
              FROM kll_t GROUP BY g)
    """).collect()[0]
    assert row.n == 1000 and abs(row.med - 500) <= 1
    p90 = cat.bq_sql(
        "SELECT KLL_QUANTILES.MERGE_POINT_FLOAT64(v, 0.9, 2048) AS p "
        "FROM kll_t"
    ).collect()[0].p
    assert abs(p90 - 449.5) <= 1.0
    with _p.raises(BQDialectError, match="MERGE_PARTIAL_INT64"):
        cat.bq_sql("SELECT KLL_QUANTILES.MERGE_PARTIAL(sk) FROM kll_t")
    with _p.raises(BQDialectError, match="outside Spark"):
        cat.bq_sql("SELECT KLL_QUANTILES.INIT_INT64(id, 4) FROM kll_t")


def test_star_replace_and_group_by_all(spark):
    from bigquery_etl_spark.sources.lake_sql import LakeCatalog

    spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "a")],
        "id long, v double, s string",
    ).createOrReplaceTempView("sr_t")
    cat = LakeCatalog(spark)
    got = cat.bq_sql(
        "SELECT * REPLACE (v * 2 AS v, UPPER(s) AS s) FROM sr_t "
        "ORDER BY id"
    ).collect()
    assert sorted(r.asDict() for r in got[:1]) == [
        {"id": 1, "v": 20.0, "s": "A"}
    ]
    assert {r.s for r in got} == {"A", "B"}
    # qualified star + string literal containing REPLACE stays intact
    got2 = cat.bq_sql(
        "SELECT t.* REPLACE (id + 100 AS id), '* REPLACE (x AS y)' AS lit "
        "FROM sr_t t WHERE id = 1"
    ).collect()[0]
    assert got2.id == 101 and got2.lit == "* REPLACE (x AS y)"
    # GROUP BY ALL is native Spark; it must pass through the dialect
    rows = cat.bq_sql(
        "SELECT s, COUNT(*) AS n FROM sr_t GROUP BY ALL ORDER BY s"
    ).collect()
    assert [(r.s, r.n) for r in rows] == [("a", 2), ("b", 1)]


def test_array_subquery_rewrite(spark):
    """r7: ARRAY(SELECT …) — uncorrelated and correlated forms, ORDER
    BY the selected expression (ASC/DESC via sort_array), native
    ARRAY(1,2) literals untouched, arbitrary ORDER BY refuses."""
    import pytest as _p

    from bigquery_etl_spark.sources.bq_dialect import BQDialectError
    from bigquery_etl_spark.sources.lake_sql import LakeCatalog

    spark.createDataFrame(
        [(1, "a", 3), (2, "a", 1), (3, "b", 2)], "id long, g string, v long"
    ).createOrReplaceTempView("arr_t")
    cat = LakeCatalog(spark)
    assert cat.bq_sql(
        "SELECT ARRAY(SELECT v FROM arr_t WHERE g = 'a' ORDER BY v) AS a"
    ).collect()[0].a == [1, 3]
    assert cat.bq_sql(
        "SELECT ARRAY(SELECT v FROM arr_t ORDER BY v DESC) AS a"
    ).collect()[0].a == [3, 2, 1]
    got = cat.bq_sql(
        "SELECT g, ARRAY(SELECT id FROM arr_t i WHERE i.g = o.g "
        "ORDER BY id) AS ids "
        "FROM (SELECT DISTINCT g FROM arr_t) o ORDER BY g"
    ).collect()
    assert [(r.g, r.ids) for r in got] == [("a", [1, 2]), ("b", [3])]
    assert cat.bq_sql("SELECT ARRAY(1, 2, 3) AS a").collect()[0].a == [1, 2, 3]
    with _p.raises(BQDialectError, match="ordering by the selected"):
        cat.bq_sql("SELECT ARRAY(SELECT v FROM arr_t ORDER BY id) AS a")


def test_approx_quantiles_split_tojson_format(spark):
    """r7 dialect additions: APPROX_QUANTILES (n+1 evenly spaced
    points via a foldable percentage array), SPLIT with LITERAL
    delimiters (BigQuery) regex-quoted for Spark — '.' must split on
    dots, not every character — TO_JSON_STRING, printf FORMAT."""
    import pytest as _p

    from bigquery_etl_spark.sources.bq_dialect import BQDialectError
    from bigquery_etl_spark.sources.lake_sql import LakeCatalog

    spark.range(1, 101).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v"
    ).createOrReplaceTempView("aqx")
    cat = LakeCatalog(spark)
    q = cat.bq_sql("SELECT APPROX_QUANTILES(v, 4) AS q FROM aqx").collect()[0].q
    assert q == [1.0, 25.0, 50.0, 75.0, 100.0]
    assert cat.bq_sql("SELECT SPLIT('a.b.c', '.') AS p").collect()[0].p == [
        "a", "b", "c",
    ]
    assert cat.bq_sql("SELECT SPLIT('x,y') AS p").collect()[0].p == ["x", "y"]
    assert (
        cat.bq_sql("SELECT TO_JSON_STRING(STRUCT(1 AS a)) AS j").collect()[0].j
        == '{"a":1}'
    )
    assert cat.bq_sql("SELECT FORMAT('%03d/%s', 7, 'x') AS f").collect()[0].f == "007/x"
    with _p.raises(BQDialectError, match="literal"):
        cat.bq_sql("SELECT SPLIT('a', id) FROM aqx")
    with _p.raises(BQDialectError, match="literal integer"):
        cat.bq_sql("SELECT APPROX_QUANTILES(v, id) FROM aqx")


def test_time_surface_r8(fcat):
    """Civil TIME emulation (r8): canonical-string lowering."""
    import pytest as _p

    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    r = fcat.bq_sql(
        "SELECT TIME '7:5:2' AS lit, TIME '12:34:56.250' AS frac, "
        "TIME(1, 2, 3) AS ctor, "
        "TIME_ADD(TIME '23:59:00', INTERVAL 2 MINUTE) AS wrap, "
        "TIME_SUB(TIME '00:01:00', INTERVAL 2 MINUTE) AS wrapneg, "
        "TIME_TRUNC(TIME '12:34:56.7', MINUTE) AS tr, "
        "TIME_DIFF(TIME '13:30:00', TIME '12:00:00', MINUTE) AS d, "
        "CAST('9:8:7' AS TIME) AS c, "
        "SAFE_CAST('bogus' AS TIME) AS bad"
    ).collect()[0]
    assert r.lit == "07:05:02"          # zero-padded canonical
    assert r.frac == "12:34:56.25"      # trailing zeros trimmed
    assert r.ctor == "01:02:03"
    assert r.wrap == "00:01:00"         # mod-24h wrap like BigQuery
    assert r.wrapneg == "23:59:00"
    assert r.tr == "12:34:00"
    assert r.d == 90
    assert r.c == "09:08:07"
    assert r.bad is None                # TRY_CAST -> NULL
    # CAST of garbage raises (BigQuery errors); literal validation is
    # translate-time
    from py4j.protocol import Py4JJavaError

    with _p.raises(Exception):
        fcat.bq_sql("SELECT CAST('nope' AS TIME) AS x").collect()
    with _p.raises(BQDialectError, match="TIME literal"):
        translate("SELECT TIME '25:00:00'")
    with _p.raises(BQDialectError, match="TIME literal"):
        translate("SELECT TIME 'abc'")
    # a TIME token inside a string literal is never touched
    assert "TIME '" not in translate("SELECT TIME '1:2:3'")
    assert translate("SELECT 'TIME ''25:0:0'' ok'") == "SELECT 'TIME ''25:0:0'' ok'"


def test_array_agg_ordered_r8(fcat):
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    # r12: the plain form now carries the BigQuery NULL-element error
    # check (the collect_list drop-divergence is retired)
    assert "RAISE_ERROR" in translate("SELECT ARRAY_AGG(x) FROM t")
    assert (
        translate("SELECT STRING_AGG(x, '-') FROM t")
        == "SELECT STRING_AGG(x, '-') FROM t"
    )
    # ordered + limited forms execute correctly end-to-end
    r = fcat.bq_sql(
        "SELECT ARRAY_TO_STRING(ARRAY_AGG(CAST(id AS STRING) "
        "ORDER BY amt DESC LIMIT 2), ',') AS a, "
        "STRING_AGG(CAST(id AS STRING) ORDER BY amt DESC) AS s "
        "FROM ft"
    ).collect()[0]
    assert r.a == "3,2" and r.s == "3,2,1"
    # RESPECT NULLS keeps nulls; IGNORE NULLS drops; the default
    # RAISES on a NULL element (r12 — BigQuery semantics)
    r2 = fcat.bq_sql(
        "SELECT ARRAY_LENGTH(ARRAY_AGG(NULLIF(id, 2) RESPECT NULLS "
        "LIMIT 3)) AS nr, "
        "ARRAY_LENGTH(ARRAY_AGG(NULLIF(id, 2) IGNORE NULLS "
        "ORDER BY id)) AS ni "
        "FROM ft"
    ).collect()[0]
    assert r2.nr == 3 and r2.ni == 2
    with pytest.raises(Exception, match="NULL element"):
        fcat.bq_sql(
            "SELECT ARRAY_AGG(NULLIF(id, 2) ORDER BY id) AS a FROM ft"
        ).collect()
    # mixed sort directions refuse loudly
    with pytest.raises(BQDialectError, match="direction"):
        translate("SELECT ARRAY_AGG(x ORDER BY a ASC, b DESC) FROM t")
    # DISTINCT must order by the expression itself
    with pytest.raises(BQDialectError, match="DISTINCT"):
        translate("SELECT ARRAY_AGG(DISTINCT x ORDER BY y) FROM t")


def test_range_surface_r8(fcat):
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    r = fcat.bq_sql(
        "SELECT RANGE_CONTAINS(RANGE<DATE> '[2024-01-01, 2024-02-01)', "
        "DATE '2024-01-31') AS c_in, "
        "RANGE_CONTAINS(RANGE<DATE> '[2024-01-01, 2024-02-01)', "
        "DATE '2024-02-01') AS c_hi, "  # half-open: hi excluded
        "RANGE_CONTAINS(RANGE<DATE> '[UNBOUNDED, 2024-02-01)', "
        "DATE '1900-01-01') AS c_unb, "
        "RANGE_OVERLAPS(RANGE(DATE '2024-01-01', DATE '2024-02-01'), "
        "RANGE<DATE> '[2024-01-31, 2024-03-01)') AS ov, "
        "RANGE_OVERLAPS(RANGE(DATE '2024-01-01', DATE '2024-02-01'), "
        "RANGE<DATE> '[2024-02-01, 2024-03-01)') AS adj, "
        "CAST(RANGE_START(RANGE<DATE> '[2024-01-01, UNBOUNDED)') "
        "AS STRING) AS st, "
        "ARRAY_LENGTH(GENERATE_RANGE_ARRAY("
        "RANGE(DATE '2024-01-01', DATE '2024-01-16'), INTERVAL 7 DAY)) "
        "AS nw"
    ).collect()[0]
    assert r.c_in and not r.c_hi and r.c_unb
    assert r.ov and not r.adj  # adjacent half-open ranges don't overlap
    assert r.st == "2024-01-01"
    assert r.nw == 3  # 1-8, 8-15, 15-16 (last partial)
    with pytest.raises(BQDialectError, match="RANGE literal"):
        translate("SELECT RANGE<DATE> '(2024-01-01, 2024-02-01)'")


def test_gis_polygon_r8(fcat):
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    sq = (
        "ST_GEOGFROMTEXT('POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))')"
    )
    r = fcat.bq_sql(
        f"SELECT ST_CONTAINS({sq}, ST_GEOGPOINT(5.0, 5.0)) AS c_in, "
        f"ST_CONTAINS({sq}, ST_GEOGPOINT(15.0, 5.0)) AS c_out, "
        f"ST_DISTANCE(ST_GEOGPOINT(5.0, 5.0), {sq}) AS d_in, "
        f"ST_DWITHIN(ST_GEOGPOINT(10.5, 5.0), {sq}, 60000.0) AS near, "
        f"ST_DWITHIN(ST_GEOGPOINT(20.0, 5.0), {sq}, 60000.0) AS far"
    ).collect()[0]
    assert r.c_in and not r.c_out
    assert r.d_in == 0.0
    assert r.near and not r.far  # ~55 km vs ~1100 km from the east edge
    # r9: CONCAVE rings work (arrow-head notch at (5,5) excludes the
    # mid-right region the convex hull would include)
    cv = "ST_GEOGFROMTEXT('POLYGON((0 0, 10 0, 5 5, 10 10, 0 10, 0 0))')"
    rc = fcat.bq_sql(
        f"SELECT ST_CONTAINS({cv}, ST_GEOGPOINT(2.0, 5.0)) AS c_in, "
        f"ST_CONTAINS({cv}, ST_GEOGPOINT(8.0, 5.0)) AS c_notch, "
        f"ST_DISTANCE(ST_GEOGPOINT(2.0, 5.0), {cv}) AS d_in, "
        f"ST_DISTANCE(ST_GEOGPOINT(8.0, 5.0), {cv}) AS d_notch"
    ).collect()[0]
    assert rc.c_in and not rc.c_notch
    assert rc.d_in == 0.0 and rc.d_notch > 0.0
    # r9: HOLES work — even-odd over both rings; the donut hole is out
    dn = (
        "ST_GEOGFROMTEXT('POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), "
        "(4 4, 6 4, 6 6, 4 6, 4 4))')"
    )
    rd = fcat.bq_sql(
        f"SELECT ST_CONTAINS({dn}, ST_GEOGPOINT(5.0, 5.0)) AS in_hole, "
        f"ST_CONTAINS({dn}, ST_GEOGPOINT(2.0, 2.0)) AS in_ring, "
        f"ST_DISTANCE(ST_GEOGPOINT(5.0, 5.0), {dn}) AS d_hole"
    ).collect()[0]
    assert rd.in_ring and not rd.in_hole
    assert rd.d_hole > 0.0  # a point in the hole is OUTSIDE -> dist>0
    # refusals: self-intersecting (bowtie), degenerate collinear ring,
    # hole outside the shell, point-as-container
    with pytest.raises(BQDialectError, match="self-intersecting"):
        translate(
            "SELECT ST_GEOGFROMTEXT("
            "'POLYGON((0 0, 10 10, 10 0, 0 9, 0 0))')"
        )
    with pytest.raises(BQDialectError, match="degenerate"):
        translate(
            "SELECT ST_GEOGFROMTEXT('POLYGON((0 0, 1 0, 2 0, 0 0))')"
        )
    with pytest.raises(BQDialectError, match="hole vertex outside"):
        translate(
            "SELECT ST_GEOGFROMTEXT("
            "'POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), "
            "(20 20, 22 20, 22 22, 20 20))')"
        )
    with pytest.raises(BQDialectError, match="ST_CONTAINS"):
        translate(
            "SELECT ST_CONTAINS(ST_GEOGPOINT(1.0, 1.0), "
            "ST_GEOGPOINT(2.0, 2.0))"
        )


def test_gis_multipolygon_linestring_r10(fcat):
    import math

    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    mp = (
        "ST_GEOGFROMTEXT('MULTIPOLYGON("
        "((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4)), "
        "((20 0, 30 0, 30 10, 20 10, 20 0)))')"
    )
    r = fcat.bq_sql(
        f"SELECT ST_CONTAINS({mp}, ST_GEOGPOINT(2.0, 2.0)) AS in1, "
        f"ST_CONTAINS({mp}, ST_GEOGPOINT(25.0, 5.0)) AS in2, "
        f"ST_CONTAINS({mp}, ST_GEOGPOINT(5.0, 5.0)) AS in_hole, "
        f"ST_CONTAINS({mp}, ST_GEOGPOINT(15.0, 5.0)) AS between, "
        f"ST_DISTANCE(ST_GEOGPOINT(25.0, 5.0), {mp}) AS d_in, "
        f"ST_DISTANCE(ST_GEOGPOINT(15.0, 5.0), {mp}) AS d_mid, "
        f"ST_AREA({mp}) AS area"
    ).collect()[0]
    assert r.in1 and r.in2
    assert not r.in_hole and not r.between
    assert r.d_in == 0.0 and r.d_mid > 0.0
    # area = (100 - 4 + 100) deg² worth of spherical patches; compare
    # against the two-squares-minus-hole computed the same way
    sq10 = fcat.bq_sql(
        "SELECT ST_AREA(ST_GEOGFROMTEXT("
        "'POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), "
        "(4 4, 6 4, 6 6, 4 6, 4 4))')) AS a1, "
        "ST_AREA(ST_GEOGFROMTEXT("
        "'POLYGON((20 0, 30 0, 30 10, 20 10, 20 0))')) AS a2"
    ).collect()[0]
    assert abs(r.area - (sq10.a1 + sq10.a2)) < 1.0
    # linestring: open chain — no closing edge, zero area
    ln = "ST_GEOGFROMTEXT('LINESTRING(0 0, 1 0, 1 1)')"
    rl = fcat.bq_sql(
        f"SELECT ST_LENGTH({ln}) AS len, ST_AREA({ln}) AS a, "
        f"ST_DISTANCE(ST_GEOGPOINT(0.5, 0.0), {ln}) AS d_on, "
        f"ST_DISTANCE(ST_GEOGPOINT(0.0, 1.0), {ln}) AS d_off, "
        f"ST_DWITHIN(ST_GEOGPOINT(0.5, 0.1), {ln}, 20000.0) AS near"
    ).collect()[0]
    deg_m = 2.0 * 6371008.8 * math.asin(math.sin(math.radians(1) / 2))
    assert abs(rl.len - 2 * deg_m) / (2 * deg_m) < 1e-3
    assert rl.a == 0.0
    assert rl.d_on == 0.0
    # (0,1) is one degree from the nearest vertex (0,0) AND from the
    # closest point (1,1); open chain means NO edge from (1,1) to (0,0)
    assert abs(rl.d_off - deg_m) / deg_m < 1e-3
    assert rl.near
    # refusals: overlapping members, nested members, computed line,
    # line↔polygon distance
    with pytest.raises(BQDialectError, match="intersect each other"):
        translate(
            "SELECT ST_GEOGFROMTEXT('MULTIPOLYGON("
            "((0 0, 10 0, 10 10, 0 10, 0 0)), "
            "((5 5, 15 5, 15 15, 5 15, 5 5)))')"
        )
    with pytest.raises(BQDialectError, match="nested inside"):
        translate(
            "SELECT ST_GEOGFROMTEXT('MULTIPOLYGON("
            "((0 0, 10 0, 10 10, 0 10, 0 0)), "
            "((2 2, 4 2, 4 4, 2 4, 2 2)))')"
        )
    with pytest.raises(BQDialectError, match="unsupported"):
        translate(
            "SELECT ST_DISTANCE("
            "ST_GEOGFROMTEXT('LINESTRING(0 0, 1 0)'), "
            "ST_GEOGFROMTEXT('POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))'))"
        )
    with pytest.raises(BQDialectError, match="LINESTRING"):
        translate("SELECT ST_GEOGFROMTEXT('LINESTRING(0 0)')")


def test_json_mutators_r8(fcat):
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    r = fcat.bq_sql(
        "SELECT JSON_SET('{\"a\": 1}', '$.b[1]', 2) AS pad, "
        "JSON_SET('{\"a\": 1}', '$.a', NULL) AS setnull, "
        "JSON_REMOVE('[1, 2, 3]', '$[0]') AS rm0, "
        "JSON_STRIP_NULLS('{\"a\": null, \"b\": [null, 1]}') AS st, "
        "LAX_INT64('\"-2.5\"') AS neg, "
        "LAX_BOOL('1') AS nb"
    ).collect()[0]
    assert r.pad == '{"a":1,"b":[null,2]}'   # arrays pad with nulls
    assert r.setnull == '{"a":null}'          # NULL value -> JSON null
    assert r.rm0 == "[2,3]"
    assert r.st == '{"b":[1]}'
    assert r.neg == -3                        # ROUND half away from zero
    assert r.nb is None                       # numbers don't coerce to bool
    with pytest.raises(BQDialectError, match="JSONPath"):
        translate("SELECT JSON_SET(j, p, 1)")  # computed path refuses
    with pytest.raises(BQDialectError, match="root"):
        translate("SELECT JSON_REMOVE(j, '$')")



def test_json_remove_paths_are_one_call(fcat):
    """A multi-path JSON_REMOVE is one UDF call with its paths in the
    given order, equal to removing them one after another."""
    from bigquery_etl_spark.sources.bq_dialect import translate

    out = translate("SELECT JSON_REMOVE(j, '$.b[0]', '$.a') FROM t")
    assert out.count("__bq_json_remove(") == 1
    fcat.spark.createDataFrame(
        [('{"a": 1, "b": [1, 2, 3], "c": {"d": null}}',),
         ('{"b": 1}',), ('[0, {"a": 2}]',), ("not json",), (None,)],
        "j string",
    ).createOrReplaceTempView("jr_docs")
    rows = fcat.bq_sql(
        "SELECT JSON_REMOVE(j, '$.b[0]', '$.b[0]', '$.c.d', '$[1].a') "
        "AS one, JSON_REMOVE(JSON_REMOVE(JSON_REMOVE(JSON_REMOVE(j, "
        "'$.b[0]'), '$.b[0]'), '$.c.d'), '$[1].a') AS seq FROM jr_docs"
    ).collect()
    assert [r.one for r in rows] == [r.seq for r in rows]
    assert rows[0].one == '{"a":1,"b":[3],"c":{}}'
    assert rows[2].one == '[0,{}]' and rows[4].one is None


def test_json_set_pairs_are_one_call(fcat):
    """A multi-pair JSON_SET is one UDF call (one ArrowEvalPython node)
    that applies its pairs in order, equal to nesting single-pair
    calls; a single pair keeps its one-literal-path spelling."""
    from bigquery_etl_spark.sources.bq_dialect import translate

    assert translate("SELECT JSON_SET(j, '$.a', 1) FROM t") == (
        "SELECT __bq_json_set(j, '$.a', TO_JSON(NAMED_STRUCT('v', 1))) FROM t"
    )
    fcat.spark.createDataFrame(
        [('{"a": 1, "b": [1]}',), ('{"a": [0]}',), ('[0, {"a": 2}]',),
         ("not json",), (None,)],
        "j string",
    ).createOrReplaceTempView("js_docs")
    two = fcat.bq_sql("SELECT JSON_SET(j, '$.a', 5, '$.c', 'x') AS two FROM js_docs")
    plan = two._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    rows = fcat.bq_sql(
        "SELECT JSON_SET(j, '$.a', 5, '$.b[2]', 'x', '$.a', NULL, "
        "'$.a.x', TRUE, '$[1].a', 1.5) AS one, JSON_SET(JSON_SET(JSON_SET("
        "JSON_SET(JSON_SET(j, '$.a', 5), '$.b[2]', 'x'), '$.a', NULL), "
        "'$.a.x', TRUE), '$[1].a', 1.5) AS seq FROM js_docs"
    ).collect()
    assert [r.one for r in rows] == [r.seq for r in rows]
    # the NULL pair overwrites the earlier 5; '$.a.x' then creates an
    # object under the null, and '$[1].a' is a type mismatch on an
    # object (on the array doc the object paths are the mismatches)
    assert rows[0].one == '{"a":{"x":true},"b":[1,null,"x"]}'
    assert rows[2].one == '[0,{"a":1.5}]' and rows[4].one is None


def test_gis_area_perimeter_centroid_r8(fcat):
    import math

    sq = "ST_GEOGFROMTEXT('POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))')"
    r = fcat.bq_sql(
        f"SELECT ST_AREA({sq}) AS a, ST_PERIMETER({sq}) AS p, "
        f"ST_X(ST_CENTROID({sq})) AS cx, ST_Y(ST_CENTROID({sq})) AS cy, "
        f"ST_AREA(ST_GEOGPOINT(5.0, 5.0)) AS pa, "
        f"ST_X(ST_CENTROID(ST_GEOGPOINT(5.0, 6.0))) AS px"
    ).collect()[0]
    # 1°x1° at the equator ≈ (111.19 km)² ≈ 1.2364e10 m² — the
    # spherical-excess closed form lands within 0.1% of that
    deg_m = 6371008.8 * math.pi / 180.0
    assert abs(r.a - deg_m * deg_m) / (deg_m * deg_m) < 1e-3
    assert abs(r.p - 4 * deg_m) / (4 * deg_m) < 1e-3
    # r12: the EXACT spherical surface centroid — longitude stays 0.5
    # by symmetry; latitude shifts a few µdeg off the planar 0.5 (the
    # cos φ surface density and the geodesic northern edge both move
    # it). The octant test below pins the closed form exactly.
    assert abs(r.cx - 0.5) < 1e-9 and abs(r.cy - 0.5) < 1e-4
    assert r.pa == 0.0 and r.px == 5.0


def test_range_bucket_and_error_r8(fcat):
    r = fcat.bq_sql(
        "SELECT RANGE_BUCKET(20, [0, 10, 20, 30, 40]) AS b, "
        "RANGE_BUCKET(-5, [0, 10]) AS lo, "
        "RANGE_BUCKET(99, [0, 10]) AS hi, "
        "RANGE_BUCKET(CAST(NULL AS INT64), [0, 10]) AS nn"
    ).collect()[0]
    assert (r.b, r.lo, r.hi, r.nn) == (3, 0, 2, None)
    import pytest as _p

    with _p.raises(Exception, match="boom"):
        fcat.bq_sql("SELECT IF(TRUE, ERROR('boom'), 1) AS x").collect()


def test_any_value_having_r8(fcat):
    r = fcat.bq_sql(
        "SELECT ANY_VALUE(id HAVING MAX amt) AS top, "
        "ANY_VALUE(id HAVING MIN amt) AS bottom, "
        "ANY_VALUE(amt) IS NOT NULL AS plain FROM ft"
    ).collect()[0]
    assert (r.top, r.bottom, r.plain) == (3, 1, True)


def test_net_funcs_ipv6_and_refusals(fcat):
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    r = fcat.bq_sql(
        "SELECT NET.IP_TO_STRING(NET.IP_FROM_STRING("
        "'2001:db8::1')) AS v6, "
        "LENGTH(NET.IP_FROM_STRING('2001:db8::1')) AS n6, "
        "LOWER(HEX(NET.IP_TRUNC(NET.IP_FROM_STRING('2001:db8::1'), 32)))"
        " AS t32, "
        "NET.HOST('no-scheme.example.net:99/x') AS h"
    ).collect()[0]
    assert r.v6 == "2001:db8::1" and r.n6 == 16
    assert r.t32 == "20010db8" + "0" * 24
    assert r.h == "no-scheme.example.net"
    # r9: PSL functions now work against the vendored snapshot
    p = fcat.bq_sql(
        "SELECT NET.PUBLIC_SUFFIX('www.example.co.uk') AS s1, "
        "NET.REG_DOMAIN('www.example.co.uk') AS r1, "
        "NET.PUBLIC_SUFFIX('a.b.ck') AS s2, "       # wildcard *.ck
        "NET.REG_DOMAIN('www.ck') AS r2, "          # exception !www.ck
        "NET.PUBLIC_SUFFIX('city.kawasaki.jp') AS s3, "
        "NET.PUBLIC_SUFFIX('x.kawasaki.jp') AS s4, "
        "NET.REG_DOMAIN('foo.bar.github.io') AS r3, "  # private section
        "NET.REG_DOMAIN('example.com') AS r4, "
        "NET.REG_DOMAIN('com') AS r5, "             # bare suffix -> NULL
        "NET.PUBLIC_SUFFIX('..x') AS bad"
    ).collect()[0]
    assert (p.s1, p.r1) == ("co.uk", "example.co.uk")
    assert (p.s2, p.r2) == ("b.ck", "www.ck")
    assert p.s3 == "kawasaki.jp" and p.s4 == "x.kawasaki.jp"
    assert p.r3 == "bar.github.io" and p.r4 == "example.com"
    assert p.r5 is None and p.bad is None


def test_bytes_codecs_r8(fcat):
    r = fcat.bq_sql(
        "SELECT TO_HEX(CAST('hi' AS BYTES)) AS h, "
        "CAST(FROM_HEX('6869') AS STRING) AS s, "
        "TO_BASE64(CAST('hi' AS BYTES)) AS b64, "
        "CAST(FROM_BASE64('aGk=') AS STRING) AS s2"
    ).collect()[0]
    assert (r.h, r.s, r.b64, r.s2) == ("6869", "hi", "aGk=", "hi")


def test_unicode_pack_r8(fcat):
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    # e + combining acute (NFD) must NFC-compose to é; NFKC folds the
    # ligature ﬁ; casefold handles the German ß -> ss
    r = fcat.bq_sql(
        "SELECT NORMALIZE('e\\u0301') = '\\u00e9' AS nfc, "
        "NORMALIZE('\\ufb01rst', NFKC) AS lig, "
        "NORMALIZE_AND_CASEFOLD('Stra\\u00dfe') AS cf, "
        "TO_CODE_POINTS('A\\u00e9') AS cps, "
        "CODE_POINTS_TO_STRING([104, 105]) AS s"
    ).collect()[0]
    assert r.nfc is True
    assert r.lig == "first"
    assert r.cf == "strasse"
    assert list(r.cps) == [65, 233]
    assert r.s == "hi"
    with pytest.raises(BQDialectError, match="NFC"):
        translate("SELECT NORMALIZE(x, NFX)")


def test_distance_funcs_r8(fcat):
    import math

    r = fcat.bq_sql(
        "SELECT EDIT_DISTANCE('kitten', 'sitting') AS ed, "
        "EDIT_DISTANCE('kitten', 'sitting', 2) AS capped, "
        "COSINE_DISTANCE([1.0, 0.0], [0.0, 1.0]) AS orth, "
        "COSINE_DISTANCE([2.0, 0.0], [5.0, 0.0]) AS same, "
        "EUCLIDEAN_DISTANCE([0.0, 0.0], [3.0, 4.0]) AS euc"
    ).collect()[0]
    assert r.ed == 3
    assert r.capped == 2            # BigQuery caps at max_distance
    assert abs(r.orth - 1.0) < 1e-12
    assert abs(r.same) < 1e-12
    assert abs(r.euc - 5.0) < 1e-12


def test_bignumeric_r9(fcat):
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    r = fcat.bq_sql(
        "SELECT BIGNUMERIC '123.4567890123456789' AS a, "
        "CAST('7' AS BIGNUMERIC) + BIGNUMERIC '0.25' AS b, "
        "NUMERIC '2.5000000004999' AS c, "   # rounds half-even @ 9
        "NUMERIC '2.5000000005001' AS d, "
        "CAST(BIGNUMERIC '1e18' AS STRING) AS big"
    ).collect()[0]
    assert str(r.a) == "123.4567890123456789000"
    # r11 contract: decimal + decimal keeps scale 19 EXACTLY (the
    # statement-scoped no-precision-loss conf; pre-r11 it widened to
    # scale 18 under Spark's precision cap)
    assert str(r.b) == "7.2500000000000000000"
    assert str(r.c) == "2.500000000"
    assert str(r.d) == "2.500000001"
    assert r.big.startswith("1000000000000000000")
    # out-of-subset literals refuse with the precise message
    with pytest.raises(BQDialectError, match="DECIMAL\\(38,19\\) subset"):
        translate("SELECT BIGNUMERIC '12345678901234567890'")  # 20 int
    with pytest.raises(BQDialectError, match="DECIMAL\\(38,19\\) subset"):
        translate("SELECT BIGNUMERIC '0.12345678901234567891234'")
    with pytest.raises(BQDialectError, match="finite"):
        translate("SELECT BIGNUMERIC 'NaN'")
    with pytest.raises(BQDialectError, match="invalid"):
        translate("SELECT NUMERIC 'abc'")
    # literal inside a string must NOT rewrite
    assert "BIGNUMERIC is big" in translate(
        "SELECT 'BIGNUMERIC is big' AS s"
    )


def test_interval_type_r9(fcat):
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    r = fcat.bq_sql(
        "SELECT CAST(TIMESTAMP '2024-01-31 00:00:00' + INTERVAL '1' MONTH "
        "AS STRING) AS clamp, "
        "CAST(TIMESTAMP '2024-01-01 00:00:00' "
        "+ INTERVAL '1-2 3 4:5:6.5' YEAR TO SECOND AS STRING) AS full_add, "
        "CAST(TIMESTAMP '2024-03-15 00:00:00' "
        "- MAKE_INTERVAL(month => 1, day => 14) AS STRING) AS back, "
        "JUSTIFY_DAYS(MAKE_INTERVAL(day => 65)).months AS jm, "
        "JUSTIFY_DAYS(MAKE_INTERVAL(day => -65)).months AS jneg, "
        "JUSTIFY_HOURS(MAKE_INTERVAL(hour => 50)).days AS jhd, "
        "JUSTIFY_INTERVAL(MAKE_INTERVAL(day => 29, hour => 25)).months "
        "AS jim, "
        "MAKE_INTERVAL(1, 2, 3, 4, 5, 6).micros AS mk_us"
    ).collect()[0]
    assert r.clamp == "2024-02-29 00:00:00"      # end-of-month clamp
    assert r.full_add == "2025-03-04 04:05:06.5"
    assert r.back == "2024-02-01 00:00:00"
    assert (r.jm, r.jneg, r.jhd, r.jim) == (2, -2, 2, 1)
    assert r.mk_us == (4 * 3600 + 5 * 60 + 6) * 1_000_000
    with pytest.raises(BQDialectError, match="inverted"):
        translate("SELECT ts + INTERVAL '1' SECOND TO DAY")
    with pytest.raises(BQDialectError, match="malformed INTERVAL"):
        translate("SELECT ts + INTERVAL '1-2-3' YEAR TO MONTH")
    with pytest.raises(BQDialectError, match="unknown argument"):
        translate("SELECT MAKE_INTERVAL(week => 1)")
    # unquoted single-part intervals pass through to Spark natively
    assert translate("SELECT d + INTERVAL 3 DAY FROM t") == (
        "SELECT d + INTERVAL 3 DAY FROM t"
    )


def test_approx_top_count_sum_r10(spark):
    """r10: APPROX_TOP_COUNT / APPROX_TOP_SUM resolve to EXACT top-k
    in BigQuery's ARRAY<STRUCT> shape. NULL values count for
    TOP_COUNT; NULL weights drop the row for TOP_SUM; the sum keeps
    the weight's type; ties break value-asc with NULL last
    (deterministic where BigQuery is unspecified)."""
    import pytest as _p

    from bigquery_etl_spark.sources.bq_dialect import BQDialectError
    from bigquery_etl_spark.sources.lake_sql import LakeCatalog

    spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3), (None, 4), ("a", None), ("b", 6),
         ("c", 5), (None, 1)],
        "x string, w int",
    ).createOrReplaceTempView("atx")
    cat = LakeCatalog(spark)
    tc = cat.bq_sql(
        "SELECT APPROX_TOP_COUNT(x, 3) AS tc FROM atx"
    ).collect()[0].tc
    # a:3, b:2, NULL:2 -> NULL ties b at 2, sorts after (NULL last)
    assert [(r.value, r["count"]) for r in tc] == [
        ("a", 3), ("b", 2), (None, 2)]
    ts = cat.bq_sql(
        "SELECT APPROX_TOP_SUM(x, w, 2) AS ts FROM atx"
    ).collect()[0].ts
    # b:8, then c:5 ties NULL:5 and wins (NULL last); the
    # (a, NULL-weight) row is ignored so a stays at 4
    assert [(r.value, r["sum"]) for r in ts] == [("b", 8), ("c", 5)]
    # sum type follows the weight type (int stays int)
    row = cat.bq_sql(
        "SELECT APPROX_TOP_SUM(x, CAST(w AS FLOAT64), 1) AS ts FROM atx"
    ).collect()[0].ts[0]
    assert row["sum"] == 8.0
    # grouped form works (the aggregate sits under GROUP BY)
    g = cat.bq_sql(
        "SELECT MOD(w, 2) AS g, APPROX_TOP_COUNT(x, 1) AS tc "
        "FROM atx WHERE w IS NOT NULL GROUP BY g ORDER BY g"
    ).collect()
    assert [(r.g, r.tc[0].value) for r in g] == [(0, "b"), (1, "a")]
    with _p.raises(BQDialectError, match="literal integer"):
        cat.bq_sql("SELECT APPROX_TOP_COUNT(x, w) FROM atx")
    with _p.raises(BQDialectError, match=">= 1"):
        cat.bq_sql("SELECT APPROX_TOP_SUM(x, w, 0) FROM atx")
    with _p.raises(BQDialectError, match="expects"):
        cat.bq_sql("SELECT APPROX_TOP_COUNT(x) FROM atx")


def test_psl_private_long_tail_r10(fcat):
    """r10 PSL data extension (VERDICT r9 item 7): private-section
    hosting/CDN long tail, deep-wildcard AWS compute domains, and the
    extended ccTLD registries — all pure data additions to
    functions/psl.py RULES; the lookup codegen is unchanged."""
    p = fcat.bq_sql(
        "SELECT NET.REG_DOMAIN('mysite.blogspot.com.au') AS b1, "
        "NET.PUBLIC_SUFFIX('app.glitch.me') AS g1, "
        "NET.REG_DOMAIN('x.y.onrender.com') AS o1, "
        # deep wildcard: *.compute.amazonaws.com
        "NET.PUBLIC_SUFFIX("
        "'ec2-1-2-3-4.us-west-2.compute.amazonaws.com') AS aw, "
        "NET.REG_DOMAIN("
        "'ec2-1-2-3-4.us-west-2.compute.amazonaws.com') AS awr, "
        "NET.REG_DOMAIN('bucket.s3.eu-central-1.amazonaws.com') AS s3r, "
        "NET.REG_DOMAIN('shop.example.com.pe') AS pe, "
        "NET.PUBLIC_SUFFIX('x.gouv.sn') AS sn, "
        "NET.REG_DOMAIN('cdn.example.run.app') AS ra"
    ).collect()[0]
    assert p.b1 == "mysite.blogspot.com.au"
    assert p.g1 == "glitch.me"
    assert p.o1 == "y.onrender.com"
    assert p.aw == "us-west-2.compute.amazonaws.com"
    assert p.awr == "ec2-1-2-3-4.us-west-2.compute.amazonaws.com"
    assert p.s3r == "bucket.s3.eu-central-1.amazonaws.com"
    assert p.pe == "example.com.pe"
    assert p.sn == "gouv.sn"
    assert p.ra == "example.run.app"


def test_ml_prefuncs_analytic_r10(fcat):
    """r10: ML.STANDARD_SCALER / ML.MIN_MAX_SCALER as analytic
    functions in plain queries (window-aggregate closed forms over the
    SAME window), stateless ML.BUCKETIZE 'bin_<i>' labels; scalers
    without OVER refuse; unsupported ML.* preprocessing refuses by
    name; CREATE MODEL TRANSFORM text passes through untouched."""
    import pytest as _p

    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    r = fcat.bq_sql(
        "SELECT id, ML.MIN_MAX_SCALER(amt) OVER() AS m, "
        "ML.BUCKETIZE(amt, [15.0, 25.0]) AS b "
        "FROM ft ORDER BY id"
    ).collect()
    assert [x.m for x in r] == [0.0, 0.5, 1.0]
    assert [x.b for x in r] == ["bin_1", "bin_2", "bin_3"]
    s = fcat.bq_sql(
        "SELECT ML.STANDARD_SCALER(amt) OVER() AS s FROM ft"
    ).collect()
    assert abs(sum(x.s for x in s)) < 1e-12  # centered
    # constant column -> 0.0, not NaN/div-by-zero
    z = fcat.bq_sql(
        "SELECT ML.STANDARD_SCALER(1.0) OVER() AS s, "
        "ML.MIN_MAX_SCALER(1.0) OVER() AS m FROM ft"
    ).collect()[0]
    assert z.s == 0.0 and z.m == 0.0
    with _p.raises(BQDialectError, match="OVER"):
        fcat.bq_sql("SELECT ML.STANDARD_SCALER(amt) FROM ft")
    with _p.raises(BQDialectError, match="FEATURE_CROSS"):
        fcat.bq_sql("SELECT ML.FEATURE_CROSS(STRUCT(amt)) FROM ft")
    # DDL untouched: the TRANSFORM parser owns the spelling there
    ddl = ("CREATE MODEL m TRANSFORM(ML.STANDARD_SCALER(x) OVER() AS s, y) "
           "OPTIONS(model_type='linear_reg') AS SELECT * FROM t")
    assert "ML.STANDARD_SCALER" in translate(ddl)


def test_named_refusals_aead_llm_r10():
    """r10: surfaces with no faithful local implementation refuse BY
    NAME with the reason, instead of leaking Spark's unknown-function
    error."""
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    # r11: AEAD.ENCRYPT / KEYS.NEW_KEYSET are now IMPLEMENTED (Spark's
    # built-in AES-GCM kernel); r12: AEAD.DETERMINISTIC_* too (AES-SIV
    # via the cryptography package) — only unknown members refuse
    assert "AES_ENCRYPT" in translate(
        "SELECT AEAD.ENCRYPT(ks, 'pt', 'ad') FROM t"
    ).upper()
    assert "__bq_daead_encrypt" in translate(
        "SELECT AEAD.DETERMINISTIC_ENCRYPT(ks, 'pt', 'ad') FROM t"
    )
    with pytest.raises(BQDialectError, match="foundation"):
        translate(
            "SELECT * FROM ML.GENERATE_TEXT(MODEL m, TABLE t)"
        )
    with pytest.raises(BQDialectError, match="VECTOR_SEARCH"):
        translate(
            "SELECT * FROM ML.GENERATE_EMBEDDING(MODEL m, TABLE t)"
        )
    # strings stay protected: the names inside literals don't refuse
    assert "AEAD.ENCRYPT(" in translate("SELECT 'AEAD.ENCRYPT(x)' AS s")


def test_geodesic_segment_distance_fuzz_r11(fcat):
    """r11 geodesic upgrade (VERDICT r10 item 3): ST_DISTANCE(point,
    LINESTRING segment) is the great-circle-arc distance. Two-level
    check on random segments/points: (a) the engine value equals the
    closed 3-vector form recomputed independently in Python (tight),
    and (b) the closed form itself matches a brute-force min over a
    densely slerp-sampled arc (loose tolerance from the sampling
    step) — validating the FORMULA, not just its transcription."""
    import math
    import random

    rng = random.Random(11)
    R = 6371008.8

    def unit(lon, lat):
        la, lo = math.radians(lat), math.radians(lon)
        return (
            math.cos(la) * math.cos(lo),
            math.cos(la) * math.sin(lo),
            math.sin(la),
        )

    def cross(a, b):
        return (
            a[1] * b[2] - a[2] * b[1],
            a[2] * b[0] - a[0] * b[2],
            a[0] * b[1] - a[1] * b[0],
        )

    def dot(a, b):
        return a[0] * b[0] + a[1] * b[1] + a[2] * b[2]

    def gc_dist(p, q):
        return R * math.atan2(
            math.sqrt(sum(c * c for c in cross(p, q))), dot(p, q)
        )

    def ref_closed(P, A, B):
        n = cross(A, B)
        nn = math.sqrt(dot(n, n))
        if dot(P, cross(n, A)) >= 0 and dot(P, cross(B, n)) >= 0:
            return R * math.asin(min(1.0, abs(dot(P, n) / nn)))
        return min(gc_dist(P, A), gc_dist(P, B))

    def ref_sampled(P, A, B, steps=4000):
        # slerp along the arc, min great-circle distance to samples
        omega = math.atan2(math.sqrt(dot(cross(A, B), cross(A, B))),
                           dot(A, B))
        best = float("inf")
        for i in range(steps + 1):
            t = i / steps
            s1 = math.sin((1 - t) * omega) / math.sin(omega)
            s2 = math.sin(t * omega) / math.sin(omega)
            q = tuple(s1 * a + s2 * b for a, b in zip(A, B))
            qn = math.sqrt(dot(q, q))
            q = tuple(c / qn for c in q)
            best = min(best, gc_dist(P, q))
        return best

    cases = []
    for _ in range(40):
        ax, ay = rng.uniform(-179, 179), rng.uniform(-80, 80)
        bx, by = rng.uniform(-179, 179), rng.uniform(-80, 80)
        px, py = rng.uniform(-179, 179), rng.uniform(-85, 85)
        if abs(ax - bx) < 1e-6 and abs(ay - by) < 1e-6:
            continue
        cases.append((ax, ay, bx, by, px, py))
    sel = ", ".join(
        f"ST_DISTANCE(ST_GEOGPOINT({px!r}, {py!r}), "
        f"ST_GEOGFROMTEXT('LINESTRING({ax!r} {ay!r}, {bx!r} {by!r})'))"
        f" AS d{i}"
        for i, (ax, ay, bx, by, px, py) in enumerate(cases)
    )
    row = fcat.bq_sql(f"SELECT {sel}").collect()[0]
    for i, (ax, ay, bx, by, px, py) in enumerate(cases):
        P, A, B = unit(px, py), unit(ax, ay), unit(bx, by)
        got = row[f"d{i}"]
        want = ref_closed(P, A, B)
        assert got == pytest.approx(want, rel=1e-9, abs=1e-6), (
            i, cases[i]
        )
        approx = ref_sampled(P, A, B)
        # sampling floor: half-step chord error + generous slack
        assert abs(got - approx) < max(2500.0, 1e-3 * approx), (
            i, cases[i], got, approx
        )


def test_multipoint_multilinestring_r11(fcat):
    """r11: MULTIPOINT / MULTILINESTRING WKT parse onto the
    point/linestring machinery — min-over-members distance, summed
    length — and GEOMETRYCOLLECTION still refuses by name."""
    import math

    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    R = 6371008.8
    deg = math.radians(1.0) * R
    r = fcat.bq_sql(
        "SELECT "
        "ST_DISTANCE(ST_GEOGPOINT(0, 1), "
        "  ST_GEOGFROMTEXT('MULTIPOINT(0 0, 50 50)')) AS d_mp, "
        "ST_DISTANCE(ST_GEOGFROMTEXT('MULTIPOINT((0 0), (3 0))'), "
        "  ST_GEOGPOINT(3, 1)) AS d_mp2, "
        "ST_DISTANCE(ST_GEOGPOINT(0.5, 0.5), ST_GEOGFROMTEXT("
        "  'MULTILINESTRING((0 0, 1 0), (10 10, 11 11))')) AS d_mls, "
        "ST_LENGTH(ST_GEOGFROMTEXT("
        "  'MULTILINESTRING((0 0, 1 0), (0 10, 0 12))')) AS len_mls, "
        "ST_AREA(ST_GEOGFROMTEXT('MULTIPOINT(1 1)')) AS mp_area"
    ).collect()[0]
    assert r.d_mp == pytest.approx(deg, rel=1e-9)
    assert r.d_mp2 == pytest.approx(deg, rel=1e-9)
    assert r.d_mls == pytest.approx(0.5 * deg, rel=1e-3)
    assert r.len_mls == pytest.approx(
        deg * math.cos(math.radians(0.0)) * 1.0 + 2 * deg, rel=1e-3
    )
    assert r.mp_area == 0.0
    # r13: GEOMETRYCOLLECTION now parses (refusal retired); a nested
    # collection member still refuses by name
    out = translate(
        "SELECT ST_GEOGFROMTEXT('GEOMETRYCOLLECTION(POINT(1 1))')"
    )
    assert "geometrycollection" in out
    with pytest.raises(BQDialectError, match="nested collections"):
        translate(
            "SELECT ST_GEOGFROMTEXT('GEOMETRYCOLLECTION("
            "GEOMETRYCOLLECTION(POINT(1 1)))')"
        )
    with pytest.raises(BQDialectError, match="non-point"):
        translate(
            "SELECT ST_DISTANCE("
            "ST_GEOGFROMTEXT('MULTIPOINT(0 0)'), "
            "ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)'))"
        )
    with pytest.raises(BQDialectError, match="ST_CENTROID"):
        translate(
            "SELECT ST_CENTROID(ST_GEOGFROMTEXT('MULTIPOINT(0 0)'))"
        )
    with pytest.raises(BQDialectError, match=">= 2 vertices"):
        translate(
            "SELECT ST_GEOGFROMTEXT('MULTILINESTRING((0 0))')"
        )


def test_net_psl_full_list_r11(fcat):
    """r11 (VERDICT r10 item 4): the COMPLETE vendored PSL replaced
    the pinned subset — data-only by design. Long-tail asserts over
    registries and private-section domains ABSENT from the old subset
    (expected values per the official publicsuffix.org semantics)."""
    from bigquery_etl_spark.functions.psl import PSL_SNAPSHOT, RULES

    assert "COMPLETE" in PSL_SNAPSHOT and len(RULES) > 9000
    p = fcat.bq_sql(
        "SELECT NET.PUBLIC_SUFFIX('foo.gov.scot') AS s1, "
        "NET.REG_DOMAIN('a.b.grimstad.no') AS r1, "          # kommune
        "NET.PUBLIC_SUFFIX('x.y.kasaoka.okayama.jp') AS s2, "  # geo jp
        "NET.REG_DOMAIN('app.x.elasticbeanstalk.com') AS r2, "  # private
        "NET.REG_DOMAIN('foo.bar.pvt.k12.ma.us') AS r3, "    # us k12
        "NET.PUBLIC_SUFFIX('a.b.c.kobe.jp') AS s3, "         # *.kobe.jp
        "NET.PUBLIC_SUFFIX('city.kobe.jp') AS s4, "          # !city
        "NET.REG_DOMAIN('x.ostrowiec.pl') AS r4, "           # pl region
        "NET.REG_DOMAIN('unlisted-tld-host.zz') AS r5"       # implicit *
    ).collect()[0]
    assert p.s1 == "gov.scot"
    assert p.r1 == "b.grimstad.no"
    assert p.s2 == "kasaoka.okayama.jp"
    assert p.r2 == "x.elasticbeanstalk.com"
    assert p.r3 == "bar.pvt.k12.ma.us"
    assert p.s3 == "c.kobe.jp" and p.s4 == "kobe.jp"
    assert p.r4 == "x.ostrowiec.pl"
    assert p.r5 == "unlisted-tld-host.zz"


def test_net_psl_shared_expansion_r14(fcat, spark):
    """r14 (VERDICT r13 item 5): the adjacent
    ``PUBLIC_SUFFIX(h) AS x, REG_DOMAIN(h)`` pairing emits the 130 KB
    rules CASE once and derives REG_DOMAIN from the suffix value
    (suffix + one more label). Differential over every PSL branch
    class: the derived value must equal the full second-CASE expansion
    host by host, and the shared statement must actually be ~half the
    size."""
    from bigquery_etl_spark.functions import psl
    from bigquery_etl_spark.sources.bq_dialect import translate

    hosts = [
        "www.example.co.uk",   # 2-label rule
        "a.b.ck",              # wildcard *.ck
        "www.ck",              # exception !www.ck
        "b.ck",                # wildcard, no extra label -> reg NULL
        "city.kawasaki.jp",    # exception !city.kawasaki.jp
        "x.kawasaki.jp",       # wildcard *.kawasaki.jp, reg NULL
        "y.x.kawasaki.jp",     # wildcard with extra label
        "foo.bar.github.io",   # private section
        "example.com",         # 1-label rule
        "com",                 # bare suffix -> reg NULL
        "unlisted-host.zz",    # implicit * default
        "zz",                  # implicit *, bare -> reg NULL
        "..x",                 # empty label -> both NULL
        "UPPER.Example.COM",   # lowercasing
    ]
    vals = ", ".join(f"('{h}')" for h in hosts)
    spark.sql(f"SELECT host FROM (VALUES {vals}) AS t(host)") \
        .createOrReplaceTempView("psl_share_hosts")
    shared_sql = (
        "SELECT host, NET.PUBLIC_SUFFIX(host) AS suffix, "
        "NET.REG_DOMAIN(host) AS reg FROM psl_share_hosts"
    )
    # the share gate fired: one rules CASE, not two
    text = translate(shared_sql)
    assert len(text) < 1.3 * len(psl.spark_public_suffix("host"))
    shared = {
        r.host: (r.suffix, r.reg) for r in fcat.bq_sql(shared_sql).collect()
    }
    # fallback spelling (alias referenced elsewhere -> full expansion)
    full_sql = (
        "SELECT host, NET.PUBLIC_SUFFIX(host) AS suffix, "
        "NET.REG_DOMAIN(host) AS reg FROM psl_share_hosts ORDER BY suffix"
    )
    assert len(translate(full_sql)) > 2 * len(psl.spark_public_suffix("host"))
    full = {
        r.host: (r.suffix, r.reg) for r in fcat.bq_sql(full_sql).collect()
    }
    assert shared == full
    # spot expectations per official PSL semantics
    assert shared["www.ck"] == ("ck", "www.ck")          # exception
    assert shared["b.ck"] == ("b.ck", None)              # wildcard bare
    assert shared["a.b.ck"] == ("b.ck", "a.b.ck")
    assert shared["com"] == ("com", None)
    assert shared["..x"] == (None, None)
    assert shared["UPPER.Example.COM"] == ("com", "example.com")


def test_bignumeric_contract_r11(fcat):
    """r11 (VERDICT r10 item 6): the DECIMAL(38,19) BIGNUMERIC subset
    is now a PERMANENT contract — statements touching it analyze with
    decimal precision loss disallowed, so every arithmetic op is
    either EXACT or a loud ANSI error, never a silent rounding:
    +/- exact at scale 19, / keeps scale 18, * raises when the exact
    product has no representable type (cast an operand down for
    headroom). Full 76-digit emulation is refused for good."""
    import decimal

    # + and -: the 19th fractional digit survives exactly
    r = fcat.bq_sql(
        "SELECT BIGNUMERIC '0.0000000000000000001' + BIGNUMERIC '0' "
        "AS tiny, "
        "BIGNUMERIC '123.25' - BIGNUMERIC '0.25' AS sub, "
        "BIGNUMERIC '1' / BIGNUMERIC '3' AS third, "
        "BIGNUMERIC '1.0000000000000000001' * NUMERIC '3' AS mul_ok"
    ).collect()[0]
    assert r.tiny == decimal.Decimal("1E-19")
    assert r.sub == decimal.Decimal("123")
    # division keeps scale 18 (was silently truncated to scale 6
    # before the statement-scoped no-precision-loss contract)
    assert str(r.third) == "0." + "3" * 18
    # a down-cast operand leaves headroom: exact product at scale 28
    assert r.mul_ok == decimal.Decimal("3.0000000000000000003")
    # overflow / unrepresentable products RAISE (ANSI), never wrap
    import pytest as _pt

    for sql in (
        "SELECT BIGNUMERIC '9999999999999999999' + BIGNUMERIC '1' AS x",
        "SELECT BIGNUMERIC '-9999999999999999999' - BIGNUMERIC '1' AS x",
        "SELECT BIGNUMERIC '1.0000000000000000001' * BIGNUMERIC '3' AS x",
        "SELECT BIGNUMERIC '9999999999999999999' * BIGNUMERIC '2' AS x",
    ):
        with _pt.raises(Exception, match="Decimal|NUMERIC_VALUE"):
            fcat.bq_sql(sql).collect()
    # the conf is statement-scoped: the session default is restored
    assert fcat.spark.conf.get(
        "spark.sql.decimalOperations.allowPrecisionLoss"
    ) == "true"


def test_literal_topology_r11(fcat):
    """r11: ST_INTERSECTS / ST_INTERSECTION / ST_UNION / ST_BUFFER over
    LITERAL geographies constant-fold at translate time and compose
    with the whole polygon surface; per-row topology still refuses."""
    import math

    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    sq1 = "ST_GEOGFROMTEXT('POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))')"
    sq2 = "ST_GEOGFROMTEXT('POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))')"
    far = "ST_GEOGFROMTEXT('POLYGON((20 20, 30 20, 30 30, 20 30, 20 20))')"
    r = fcat.bq_sql(
        f"SELECT ST_INTERSECTS({sq1}, {sq2}) AS i12, "
        f"ST_INTERSECTS({sq1}, {far}) AS i1f, "
        f"ST_AREA(ST_INTERSECTION({sq1}, {sq2})) AS a_int, "
        f"ST_AREA(ST_GEOGFROMTEXT("
        "'POLYGON((5 5, 10 5, 10 10, 5 10, 5 5))')) AS a_direct, "
        f"ST_CONTAINS(ST_INTERSECTION({sq1}, {sq2}), "
        "ST_GEOGPOINT(7.0, 7.0)) AS c_in, "
        f"ST_CONTAINS(ST_INTERSECTION({sq1}, {sq2}), "
        "ST_GEOGPOINT(2.0, 2.0)) AS c_out, "
        f"ST_AREA(ST_UNION({sq1}, {far})) AS a_union, "
        f"ST_AREA({sq1}) + ST_AREA({far}) AS a_sum, "
        "ST_CONTAINS(ST_BUFFER(ST_GEOGPOINT(10.0, 45.0), 100000.0), "
        "ST_GEOGPOINT(10.5, 45.0)) AS b_near, "
        "ST_CONTAINS(ST_BUFFER(ST_GEOGPOINT(10.0, 45.0), 100000.0), "
        "ST_GEOGPOINT(13.0, 45.0)) AS b_far, "
        "ST_INTERSECTS(ST_GEOGPOINT(1.0, 1.0), "
        "ST_GEOGPOINT(1.0, 1.0)) AS pp, "
        f"ST_INTERSECTS({sq1}, ST_GEOGPOINT(5.0, 5.0)) AS poly_pt, "
        "ST_ASTEXT(ST_UNION(ST_GEOGPOINT(1.0, 2.0), "
        "ST_GEOGPOINT(1.0, 2.0))) AS pt_union"
    ).collect()[0]
    assert r.i12 is True and r.i1f is False
    # the intersection IS the 5..10 square — areas agree exactly
    assert r.a_int == pytest.approx(r.a_direct, rel=1e-12)
    assert r.c_in and not r.c_out
    # disjoint union: area is the sum of member areas
    assert r.a_union == pytest.approx(r.a_sum, rel=1e-12)
    assert r.b_near and not r.b_far
    assert r.pp is True and r.poly_pt is True
    assert r.pt_union == "POINT(1.0 2.0)"  # identical points collapse
    # buffer ring radius sanity: ~100 km at the E-W extreme
    deg = math.radians(1.0) * 6371008.8
    got_halfwidth = 100000.0 / (deg * math.cos(math.radians(45.0)))
    assert fcat.bq_sql(
        "SELECT ST_CONTAINS(ST_BUFFER(ST_GEOGPOINT(10.0, 45.0), "
        f"100000.0), ST_GEOGPOINT({10.0 + 0.95 * got_halfwidth}, 45.0))"
        " AS c"
    ).collect()[0].c
    # refusals: empty intersection, overlapping union, concave
    # intersection, computed operands, polar buffer
    with pytest.raises(BQDialectError, match="EMPTY"):
        translate(f"SELECT ST_INTERSECTION({sq1}, {far})")
    with pytest.raises(BQDialectError, match="OVERLAPPING"):
        translate(f"SELECT ST_UNION({sq1}, {sq2})")
    with pytest.raises(BQDialectError, match="CONVEX"):
        translate(
            "SELECT ST_INTERSECTION(ST_GEOGFROMTEXT("
            f"'POLYGON((0 0, 10 0, 5 5, 10 10, 0 10, 0 0))'), {sq1})"
        )
    # r12: computed point/multipoint ST_UNION is now IMPLEMENTED —
    # bare columns lower to the runtime multipoint dedup
    assert "ARRAY_UNION" in translate(
        "SELECT ST_UNION(some_col, other_col)"
    )
    with pytest.raises(BQDialectError, match="pole"):
        translate("SELECT ST_BUFFER(ST_GEOGPOINT(0.0, 89.0), 1000.0)")
    # line topology (literal): line↔polygon and line↔line fold too
    lr = fcat.bq_sql(
        f"SELECT ST_INTERSECTS({sq1}, "
        "ST_GEOGFROMTEXT('LINESTRING(2 2, 3 3)')) AS lp_in, "
        f"ST_INTERSECTS({sq1}, "
        "ST_GEOGFROMTEXT('LINESTRING(20 20, 30 30)')) AS lp_out, "
        "ST_INTERSECTS(ST_GEOGFROMTEXT('LINESTRING(0 0, 10 10)'), "
        "ST_GEOGFROMTEXT('LINESTRING(0 10, 10 0)')) AS ll_x, "
        "ST_INTERSECTS(ST_GEOGFROMTEXT('LINESTRING(0 0, 1 0)'), "
        "ST_GEOGFROMTEXT('LINESTRING(0 5, 1 5)')) AS ll_par, "
        "ST_ASTEXT(ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)')) AS lt, "
        f"ST_ASTEXT(ST_INTERSECTION({sq1}, {sq2})) AS it"
    ).collect()[0]
    assert lr.lp_in and not lr.lp_out
    assert lr.ll_x and not lr.ll_par
    assert lr.lt == "LINESTRING(0.0 0.0, 1.0 1.0)"
    assert lr.it.startswith("POLYGON((")
    with pytest.raises(BQDialectError, match="closed form"):
        translate(
            "SELECT ST_INTERSECTS(ARRAY(ST_GEOGPOINT(a, b)), "
            "ST_GEOGFROMTEXT('LINESTRING(0 0, 1 1)'))"
        )


def test_geo_accessors_and_json_keys_r11(fcat):
    """r11: ST_BOUNDINGBOX / ST_NUMPOINTS constant-fold for literal
    shapes; JSON_KEYS(j, 1) returns sorted top-level keys."""
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    r = fcat.bq_sql(
        "SELECT ST_BOUNDINGBOX(ST_GEOGFROMTEXT("
        "'POLYGON((0 0, 10 0, 10 5, 0 5, 0 0))')) AS bb, "
        "ST_BOUNDINGBOX(ST_GEOGPOINT(3.0, 4.0)) AS bp, "
        "ST_NUMPOINTS(ST_GEOGFROMTEXT("
        "'MULTILINESTRING((0 0, 1 0), (2 2, 3 3, 4 4))')) AS np, "
        "ST_NUMPOINTS(ST_GEOGPOINT(1.0, 1.0)) AS np1, "
        "JSON_KEYS('{\"b\": 1, \"a\": {\"c\": 2}}', 1) AS jk, "
        "JSON_KEYS('[1, 2]', 1) AS jarr"
    ).collect()[0]
    assert (r.bb.xmin, r.bb.ymin, r.bb.xmax, r.bb.ymax) == (0, 0, 10, 5)
    assert (r.bp.xmin, r.bp.ymax) == (3.0, 4.0)
    assert r.np == 5 and r.np1 == 1
    assert list(r.jk) == ["a", "b"]
    assert r.jarr is None  # non-object: NULL, Spark's contract
    with pytest.raises(BQDialectError, match="max_depth"):
        translate("SELECT JSON_KEYS('{}')")
    with pytest.raises(BQDialectError, match="unsupported"):
        translate("SELECT ST_BOUNDINGBOX(ARRAY(ST_GEOGPOINT(a, b)))")


# -- AEAD envelope encryption (r11) -------------------------------------------

_KS1 = (
    '{"primaryKeyId":1001,"key":[{"keyId":1001,"status":"ENABLED",'
    '"type":"AES_GCM_256",'
    '"rawKey":"AAECAwQFBgcICQoLDA0ODxAREhMUFRYXGBkaGxwdHh8="}]}'
)


def test_aead_roundtrip_string_and_bytes(fcat):
    rows = fcat.bq_sql(f"""
        SELECT id,
               AEAD.DECRYPT_STRING(KEYS.KEYSET_FROM_JSON('{_KS1}'),
                   AEAD.ENCRYPT(KEYS.KEYSET_FROM_JSON('{_KS1}'),
                       CONCAT('row-', CAST(id AS STRING)),
                       CAST(id AS STRING)),
                   CAST(id AS STRING)) AS rt,
               CAST(AEAD.DECRYPT_BYTES(KEYS.KEYSET_FROM_JSON('{_KS1}'),
                   AEAD.ENCRYPT(KEYS.KEYSET_FROM_JSON('{_KS1}'),
                       CAST('bin' AS BYTES), 'a'), 'a') AS STRING) AS bt,
               LENGTH(AEAD.ENCRYPT(KEYS.KEYSET_FROM_JSON('{_KS1}'),
                   'xx', 'a')) AS ctlen
        FROM ft ORDER BY id
    """).collect()
    assert [r.rt for r in rows] == ["row-1", "row-2", "row-3"]
    assert all(r.bt == "bin" for r in rows)
    # Tink prefix (5) + GCM IV (12) + plaintext (2) + tag (16)
    assert all(r.ctlen == 35 for r in rows)


def test_aead_new_keyset_per_row_and_rotation(fcat):
    rows = fcat.bq_sql("""
        WITH k AS (SELECT id, KEYS.NEW_KEYSET('AEAD_AES_GCM_256') AS ks
                   FROM ft),
             e AS (SELECT id, ks,
                          AEAD.ENCRYPT(ks, 'secret', 'aad') AS ct,
                          KEYS.ROTATE_KEYSET(ks, 'AEAD_AES_GCM_256')
                              AS ks2
                   FROM k)
        SELECT id,
               AEAD.DECRYPT_STRING(ks, ct, 'aad') AS rt,
               AEAD.DECRYPT_STRING(ks2, ct, 'aad') AS rt_rot,
               KEYS.KEYSET_LENGTH(ks) AS len1,
               KEYS.KEYSET_LENGTH(ks2) AS len2,
               CAST(ks AS STRING) AS ksj
        FROM e ORDER BY id
    """).collect()
    assert all(r.rt == "secret" and r.rt_rot == "secret" for r in rows)
    assert all(r.len1 == 1 and r.len2 == 2 for r in rows)
    # per-row keysets are distinct (fresh entropy each row)
    assert len({r.ksj for r in rows}) == 3


def test_aead_raw_key_decrypts_unprefixed_ciphertext(fcat):
    # a Tink RAW key (ADD_KEY_FROM_RAW_BYTES) authenticates ciphertext
    # with NO key-id prefix — exactly what a bare aes_encrypt produces
    rows = fcat.bq_sql(f"""
        SELECT AEAD.DECRYPT_STRING(
                   KEYS.ADD_KEY_FROM_RAW_BYTES(
                       KEYS.KEYSET_FROM_JSON('{_KS1}'), 'AES_GCM',
                       UNHEX('000102030405060708090A0B0C0D0E0F')),
                   AES_ENCRYPT('raw-pt',
                       UNHEX('000102030405060708090A0B0C0D0E0F'),
                       'GCM', 'DEFAULT', UNHEX(''), 'ad'),
                   'ad') AS rt
        FROM ft LIMIT 1
    """).collect()
    assert rows[0].rt == "raw-pt"


def test_aead_wrong_aad_and_tamper_raise(fcat):
    import pytest as _pt

    for bad in (
        f"AEAD.DECRYPT_STRING(KEYS.KEYSET_FROM_JSON('{_KS1}'), "
        f"AEAD.ENCRYPT(KEYS.KEYSET_FROM_JSON('{_KS1}'), 'x', 'good'), "
        "'evil')",
        # flipped last byte (the GCM tag) must fail authentication
        f"AEAD.DECRYPT_STRING(KEYS.KEYSET_FROM_JSON('{_KS1}'), "
        f"CONCAT(SUBSTRING(AEAD.ENCRYPT(KEYS.KEYSET_FROM_JSON("
        f"'{_KS1}'), 'x', 'a'), 1, 34), UNHEX('00')), 'a')",
    ):
        with _pt.raises(Exception, match="decryption failed"):
            fcat.bq_sql(f"SELECT {bad} AS v FROM ft LIMIT 1").collect()


def test_aead_null_inputs_are_null_not_errors(fcat):
    r = fcat.bq_sql(f"""
        SELECT AEAD.ENCRYPT(KEYS.KEYSET_FROM_JSON('{_KS1}'),
                            CAST(NULL AS STRING), 'a') AS e_null_pt,
               AEAD.DECRYPT_STRING(KEYS.KEYSET_FROM_JSON('{_KS1}'),
                            CAST(NULL AS BYTES), 'a') AS d_null_ct
        FROM ft LIMIT 1
    """).collect()[0]
    assert r.e_null_pt is None and r.d_null_ct is None


def test_aead_invalid_keyset_and_raw_length_raise(fcat):
    import pytest as _pt

    with _pt.raises(Exception, match="not a keyset"):
        fcat.bq_sql(
            "SELECT KEYS.KEYSET_FROM_JSON('{\"nope\": 1}') AS v "
            "FROM ft LIMIT 1"
        ).collect()
    with _pt.raises(Exception, match="16 or 32 bytes"):
        fcat.bq_sql(
            f"SELECT KEYS.ADD_KEY_FROM_RAW_BYTES("
            f"KEYS.KEYSET_FROM_JSON('{_KS1}'), 'AES_GCM', "
            f"UNHEX('AABB')) AS v FROM ft LIMIT 1"
        ).collect()


def test_aead_deterministic_and_unknown_members_refuse(fcat):
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )
    import pytest as _pt

    # r12: AEAD.DETERMINISTIC_* and SIV keysets are IMPLEMENTED
    assert "__bq_daead_decrypt" in translate(
        "SELECT AEAD.DETERMINISTIC_DECRYPT_STRING(ks, x, '') FROM t"
    )
    with _pt.raises(BQDialectError, match="not implemented"):
        translate("SELECT KEYS.KEYSET_CHAIN('kms', ks) FROM t")
    assert "AES_SIV_CMAC_256" in translate(
        "SELECT KEYS.NEW_KEYSET('DETERMINISTIC_AEAD_AES_SIV_CMAC_256')"
    )
    with _pt.raises(BQDialectError, match="key types"):
        translate("SELECT KEYS.NEW_KEYSET('CHACHA20_POLY1305')")


# -- Text analysis functions (r11) --------------------------------------------


def test_text_analyze_log_analyzer_default(fcat):
    rows = fcat.bq_sql("""
        SELECT TEXT_ANALYZE('I like pie, you like-pie, they like 2 PIEs.')
            AS toks FROM ft LIMIT 1
    """).collect()
    # the BigQuery docs example: lowercased, split on punctuation
    assert rows[0].toks == [
        "i", "like", "pie", "you", "like", "pie", "they", "like",
        "2", "pies",
    ]


def test_text_analyze_noop_pattern_and_options(fcat):
    rows = fcat.bq_sql("""
        SELECT TEXT_ANALYZE('A-B c', analyzer => 'NO_OP_ANALYZER') AS noop,
               TEXT_ANALYZE('A-B c', analyzer => 'PATTERN_ANALYZER')
                   AS pat,
               TEXT_ANALYZE('ab cde fghi', analyzer => 'PATTERN_ANALYZER',
                   analyzer_options => '{"patterns": ["\\\\b\\\\w{3,}\\\\b"]}')
                   AS pat3,
               TEXT_ANALYZE('a-b c', analyzer => 'LOG_ANALYZER',
                   analyzer_options => '{"delimiters": [" "]}') AS logd,
               TEXT_ANALYZE(CAST(NULL AS STRING)) AS nulltok
        FROM ft LIMIT 1
    """).collect()
    r = rows[0]
    assert r.noop == ["A-B c"]
    assert r.pat == ["a", "b", "c"]
    assert r.pat3 == ["cde", "fghi"]
    assert r.logd == ["a-b", "c"]  # custom delimiters keep the hyphen
    assert r.nulltok is None


def test_ml_ngrams_and_bag_of_words(fcat):
    rows = fcat.bq_sql("""
        SELECT ML.NGRAMS(ARRAY('a','b','c'), [2, 3]) AS ng,
               ML.NGRAMS(ARRAY('a','b','c'), [2], '-') AS ng2,
               ML.NGRAMS(ARRAY('x'), [2, 3]) AS short,
               ML.BAG_OF_WORDS(ARRAY('b','a','b')) AS bow
        FROM ft LIMIT 1
    """).collect()
    r = rows[0]
    assert r.ng == ["a b", "a b c", "b c"]  # position-major (BigQuery)
    assert r.ng2 == ["a-b", "b-c"]
    assert r.short == []
    assert [(b.term, b["count"]) for b in r.bow] == [("a", 1), ("b", 2)]


def test_text_analyze_refusals(fcat):
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )
    import pytest as _pt

    with _pt.raises(BQDialectError, match="unknown analyzer"):
        translate("SELECT TEXT_ANALYZE(t, analyzer => 'STEMMER') FROM x")
    with _pt.raises(BQDialectError, match="not implemented"):
        translate(
            "SELECT TEXT_ANALYZE(t, analyzer_options => "
            "'{\"stop_words\": []}') FROM x"
        )
    with _pt.raises(BQDialectError, match="min <= max"):
        translate("SELECT ML.NGRAMS(a, [3, 2]) FROM x")
    with _pt.raises(BQDialectError, match="literal"):
        translate("SELECT ML.NGRAMS(a, n) FROM x")


# -- Misc function pack (r11) ---------------------------------------------------


def test_bucket_functions(fcat):
    r = fcat.bq_sql("""
        SELECT TIMESTAMP_BUCKET(TIMESTAMP '2024-01-01 05:37:21',
                                INTERVAL 1 HOUR) AS hb,
               TIMESTAMP_BUCKET(TIMESTAMP '2024-01-01 05:37:21',
                                INTERVAL 7 DAY) AS wb,
               TIMESTAMP_BUCKET(TIMESTAMP '2024-01-03 07:00:00',
                                INTERVAL 2 DAY,
                                TIMESTAMP '2024-01-01 00:00:00') AS ob,
               DATE_BUCKET(DATE '2024-03-15', INTERVAL 14 DAY) AS db,
               DATE_BUCKET(DATE '2024-03-15', INTERVAL 1 WEEK) AS db7
        FROM ft LIMIT 1
    """).collect()[0]
    assert str(r.hb) == "2024-01-01 05:00:00"
    # 1950-01-01 (the BigQuery default origin) was a Sunday; 7-day
    # buckets anchored there land on Sundays
    assert str(r.wb) == "2023-12-31 00:00:00"
    assert str(r.ob) == "2024-01-03 00:00:00"
    assert str(r.db) == "2024-03-03"
    assert str(r.db7) == "2024-03-10"
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    with pytest.raises(BQDialectError, match="fixed-width"):
        translate("SELECT TIMESTAMP_BUCKET(ts, INTERVAL 1 MONTH) FROM t")


def test_last_day_parts(fcat):
    # 2024-03-15 is a Friday
    r = fcat.bq_sql("""
        SELECT LAST_DAY(DATE '2024-03-15') AS m,
               LAST_DAY(DATE '2024-03-15', QUARTER) AS q,
               LAST_DAY(DATE '2024-03-15', YEAR) AS y,
               LAST_DAY(DATE '2024-03-15', WEEK) AS w,
               LAST_DAY(DATE '2024-03-16', WEEK) AS w_sat,
               LAST_DAY(DATE '2024-03-15', ISOWEEK) AS iw,
               LAST_DAY(DATE '2024-03-15', WEEK(MONDAY)) AS wm
        FROM ft LIMIT 1
    """).collect()[0]
    assert (str(r.m), str(r.q), str(r.y)) == (
        "2024-03-31", "2024-03-31", "2024-12-31"
    )
    # BigQuery weeks begin Sunday -> end Saturday; a Saturday is its
    # own week-end
    assert (str(r.w), str(r.w_sat)) == ("2024-03-16", "2024-03-16")
    assert (str(r.iw), str(r.wm)) == ("2024-03-17", "2024-03-17")


def test_collate_parse_numeric_instr(fcat):
    r = fcat.bq_sql("""
        SELECT COLLATE('HeLLo', 'und:ci') = 'hello' AS ci,
               PARSE_NUMERIC(' 1.2345678949 ') AS pn,
               PARSE_BIGNUMERIC('-2.5e3') AS pb,
               INSTR('HELLO bE bEE', 'E', 1, 3) AS i3,
               INSTR('HELLO bE bEE', 'E', 1, 9) AS i9,
               INSTR('HELLO', 'L', 2) AS ipos
        FROM ft LIMIT 1
    """).collect()[0]
    assert r.ci is True
    assert str(r.pn) == "1.234567895"  # HALF_UP at the 9th digit
    assert float(r.pb) == -2500.0
    assert (r.i3, r.i9, r.ipos) == (11, 0, 3)
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    with pytest.raises(BQDialectError, match="collation"):
        translate("SELECT COLLATE(s, 'fr:ci') FROM t")
    with pytest.raises(BQDialectError, match="occurrence"):
        translate("SELECT INSTR(s, 'x', 1, n) FROM t")
    with pytest.raises(BQDialectError, match="negative"):
        translate("SELECT INSTR(s, 'x', -1) FROM t")


def test_json_constructors(fcat):
    r = fcat.bq_sql("""
        SELECT CAST(JSON_OBJECT('k', 1, 's', 'a"b', 'n',
                    CAST(NULL AS STRING)) AS STRING) AS o,
               CAST(JSON_ARRAY(1, 'a', NULL, TRUE) AS STRING) AS a,
               CAST(JSON_OBJECT() AS STRING) AS empty_o,
               CAST(JSON_ARRAY() AS STRING) AS empty_a
        FROM ft LIMIT 1
    """).collect()[0]
    # VARIANT normalizes object keys to sorted order (the C56 JSON
    # contract) — values and escapes are exact
    assert r.o == '{"k":1,"n":null,"s":"a\\"b"}'
    assert r.a == '[1,"a",null,true]'
    assert (r.empty_o, r.empty_a) == ("{}", "[]")
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    with pytest.raises(BQDialectError, match="alternating"):
        translate("SELECT JSON_OBJECT('k') FROM t")
    with pytest.raises(BQDialectError, match="string literals"):
        translate("SELECT JSON_OBJECT(k, 1) FROM t")


def test_farm_fingerprint_lowers_to_kernel():
    # r12: FARM_FINGERPRINT is IMPLEMENTED (functions/farmhash.py) —
    # the refusal is retired; the call lowers onto the registered
    # Arrow-batched exact kernel
    from bigquery_etl_spark.sources.bq_dialect import translate

    assert "__bq_farm_fingerprint(s)" in translate(
        "SELECT FARM_FINGERPRINT(s) FROM t"
    )
    # inside a string literal it stays protected
    assert "FARM_FINGERPRINT(" in translate(
        "SELECT 'FARM_FINGERPRINT(x)' AS s"
    )


def test_percentile_window_forms(fcat):
    fcat.spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (1, 4.0), (2, 10.0)], "k int, x double"
    ).createOrReplaceTempView("pw_t")
    rows = fcat.bq_sql("""
        SELECT DISTINCT k,
               PERCENTILE_CONT(x, 0.5) OVER(PARTITION BY k) AS pc,
               PERCENTILE_DISC(x, 0.75) OVER(PARTITION BY k) AS pd
        FROM pw_t ORDER BY k
    """).collect()
    # cont interpolates (median of 1,2,4 = 2); disc picks the smallest
    # value with cume_dist >= 0.75 (the 3rd of 3)
    assert [(r.pc, r.pd) for r in rows] == [(2.0, 4.0), (10.0, 10.0)]
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    with pytest.raises(BQDialectError, match="RESPECT NULLS"):
        translate(
            "SELECT PERCENTILE_CONT(x, 0.5 RESPECT NULLS) OVER() FROM t"
        )


def test_geohash_known_vectors(fcat):
    r = fcat.bq_sql("""
        SELECT ST_GEOHASH(ST_GEOGPOINT(-5.6, 42.6), 5) AS ez,
               ST_GEOHASH(ST_GEOGPOINT(-122.35, 47.62), 10) AS sea,
               ST_GEOHASH(ST_GEOGPOINT(0, 0), 1) AS origin,
               ST_GEOHASH(ST_GEOGPOINTFROMGEOHASH('u4pruydqqvj'), 11)
                   AS rt
        FROM ft LIMIT 1
    """).collect()[0]
    # the canonical public test vector (geohash.org example)
    assert r.ez == "ezs42"
    assert r.sea.startswith("c22yzu")
    assert r.origin == "s"
    assert r.rt == "u4pruydqqvj"  # decode -> cell center re-encodes
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    with pytest.raises(BQDialectError, match="maxchars"):
        translate("SELECT ST_GEOHASH(p, 25) FROM t")
    with pytest.raises(BQDialectError, match="literal"):
        translate("SELECT ST_GEOGPOINTFROMGEOHASH(col) FROM t")


def test_array_concat_agg_safe_bytes_regexp_instr(fcat):
    r = fcat.bq_sql("""
        SELECT ARRAY_LENGTH(ARRAY_CONCAT_AGG([id, id * 10])) AS n,
               MIN(SAFE_CONVERT_BYTES_TO_STRING(
                   CONCAT(CAST('ok' AS BYTES), FROM_HEX('FF')))) AS s,
               MIN(REGEXP_INSTR('ababa', 'b+', 3)) AS ri
        FROM ft
    """).collect()[0]
    assert r.n == 6  # three rows x two elements
    assert r.s == "ok�"
    assert r.ri == 4


# -- SAFE. prefix, base32, ML.IMPUTER, system variables (r11) -------------------


def test_safe_prefix_family(fcat):
    r = fcat.bq_sql("""
        SELECT SAFE.LOG(-1) AS log_neg,
               SAFE.LOG(100, 10) AS log_b,
               SAFE.SQRT(-4) AS sqrt_neg,
               SAFE.ASIN(2) AS asin_out,
               SAFE.POW(-8.0, 0.5) AS pow_nan,
               SAFE.DIVIDE(4, 0) AS div0,
               SAFE.NEGATE(5) AS neg,
               SAFE.SUBSTR('abc', 1, 2) AS sub,
               SAFE.PARSE_NUMERIC('zzz') AS pn,
               SAFE.PARSE_DATE('%Y-%m-%d', 'nope') AS pd
        FROM ft LIMIT 1
    """).collect()[0]
    assert r.log_neg is None and r.sqrt_neg is None
    assert r.asin_out is None and r.pow_nan is None
    assert r.div0 is None and r.pn is None and r.pd is None
    assert r.log_b == 2.0 and r.neg == -5 and r.sub == "ab"
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    with pytest.raises(BQDialectError, match="SAFE.ARRAY_AGG"):
        translate("SELECT SAFE.ARRAY_AGG(x) FROM t")


def test_base32_rfc4648_vectors(fcat):
    # the RFC's own published vectors, encode AND decode
    vectors = [
        ("", ""), ("f", "MY======"), ("fo", "MZXQ===="),
        ("foo", "MZXW6==="), ("foob", "MZXW6YQ="),
        ("fooba", "MZXW6YTB"), ("foobar", "MZXW6YTBOI======"),
    ]
    sel = ", ".join(
        f"TO_BASE32(CAST('{p}' AS BYTES)) AS e{i}, "
        f"CAST(FROM_BASE32('{b}') AS STRING) AS d{i}"
        for i, (p, b) in enumerate(vectors)
    )
    r = fcat.bq_sql(f"SELECT {sel} FROM ft LIMIT 1").collect()[0]
    for i, (p, b) in enumerate(vectors):
        assert r[f"e{i}"] == b, (p, r[f"e{i}"])
        assert r[f"d{i}"] == p, (b, r[f"d{i}"])
    with pytest.raises(Exception, match="invalid base32"):
        fcat.bq_sql(
            "SELECT FROM_BASE32('M!======') AS v FROM ft LIMIT 1"
        ).collect()


def test_ml_imputer_and_system_vars(fcat):
    fcat.spark.createDataFrame(
        [(4.0,), (None,), (1.0,)], "x double"
    ).createOrReplaceTempView("imp_t")
    rows = fcat.bq_sql("""
        SELECT ML.IMPUTER(x, 'mean') OVER() AS m,
               ML.IMPUTER(x, 'median') OVER() AS md
        FROM imp_t
    """).collect()
    assert sorted(r.m for r in rows) == [1.0, 2.5, 4.0]
    assert sorted(r.md for r in rows) == [1.0, 2.5, 4.0]
    r = fcat.bq_sql(
        "SELECT @@project_id AS p, @@dataset_id AS d, "
        "'@@project_id' AS lit FROM ft LIMIT 1"
    ).collect()[0]
    assert (r.p, r.d, r.lit) == ("spark-graft", "default", "@@project_id")
    from bigquery_etl_spark.sources.bq_dialect import (
        BQDialectError,
        translate,
    )

    with pytest.raises(BQDialectError, match="strategy"):
        translate("SELECT ML.IMPUTER(x, 'mode') OVER() FROM t")


def test_date_diff_counts_boundaries_r11(fcat):
    """r11 fix: BigQuery DATE_DIFF counts part boundaries CROSSED, not
    elapsed whole units (the old TIMESTAMPDIFF lowering)."""
    r = fcat.bq_sql("""
        SELECT DATE_DIFF(DATE '2024-02-01', DATE '2024-01-31', MONTH)
                   AS m,
               DATE_DIFF(DATE '2024-01-07', DATE '2024-01-06', WEEK)
                   AS w,
               DATE_DIFF(DATE '2024-01-08', DATE '2024-01-07', ISOWEEK)
                   AS iw,
               DATE_DIFF(DATE '2025-01-01', DATE '2024-12-31', YEAR)
                   AS y,
               DATE_DIFF(DATE '2024-04-01', DATE '2024-03-31', QUARTER)
                   AS q,
               DATE_DIFF(DATE '2024-12-30', DATE '2024-12-29', ISOYEAR)
                   AS iy,
               DATE_DIFF(DATE '2024-01-09', DATE '2024-01-02',
                   WEEK(TUESDAY)) AS wt,
               DATE_DIFF(DATE '2024-01-31', DATE '2024-02-01', MONTH)
                   AS m_neg,
               TIMESTAMP_DIFF(TIMESTAMP '2024-01-02 00:00:00',
                   TIMESTAMP '2024-01-01 01:00:00', DAY) AS td
        FROM ft LIMIT 1
    """).collect()[0]
    assert (r.m, r.w, r.iw, r.y, r.q, r.iy, r.wt) == (1, 1, 1, 1, 1, 1, 1)
    assert r.m_neg == -1
    # TIMESTAMP_DIFF stays elapsed-unit (BigQuery's own rule there)
    assert r.td == 0


def test_date_trunc_week_anchors_r11(fcat):
    """r11 fix: DATE_TRUNC(d, WEEK) anchors at SUNDAY (Spark 'WEEK' is
    Monday); ISOWEEK (previously a silent NULL) anchors at Monday;
    WEEK(<WEEKDAY>) anchors at the named day."""
    r = fcat.bq_sql("""
        SELECT CAST(DATE_TRUNC(DATE '2024-03-15', WEEK) AS DATE) AS w,
               CAST(DATE_TRUNC(DATE '2024-03-15', ISOWEEK) AS DATE)
                   AS iw,
               CAST(DATE_TRUNC(DATE '2024-03-15', WEEK(THURSDAY))
                   AS DATE) AS wt,
               CAST(DATE_TRUNC(DATE '2024-03-10', WEEK) AS DATE)
                   AS w_self,
               CAST(TIMESTAMP_TRUNC(TIMESTAMP '2024-03-15 07:08:09',
                   WEEK) AS DATE) AS tw
        FROM ft LIMIT 1
    """).collect()[0]
    # 2024-03-15 is a Friday: Sunday-week starts 03-10, ISO 03-11,
    # Thursday-week 03-14; a Sunday is its own week start
    assert str(r.w) == "2024-03-10"
    assert str(r.iw) == "2024-03-11"
    assert str(r.wt) == "2024-03-14"
    assert str(r.w_self) == "2024-03-10"
    assert str(r.tw) == "2024-03-10"

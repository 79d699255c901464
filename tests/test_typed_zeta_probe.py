"""The schema-aware Zeta rewrite (``rewrite_typed_zeta``) types its
ARRAY(...) and CAST(x AS DATE|TIME|TIMESTAMP) sites with zero-row
probes against the Sql transform's input frame. A site whose
expression names a qualifier the frame does not have cannot resolve,
so it is passed through without asking Spark; every other site is
probed on its own, as before the precheck existed.

The expected strings below are the rewrite's output before the
precheck existed, so these cases pin that it does not change what the
rewrite emits."""

import logging

import pytest

from seatunnel_spark.functions import (
    _dotted_heads,
    rewrite_typed_zeta,
    rewrite_zeta_sql,
)
from seatunnel_spark.transforms import get_transform

_BASE_SQL = """
SELECT CAST(20240102 AS INT) AS i, CAST(1700000000000 AS BIGINT) AS b,
       CAST(123456 AS INT) AS hms, 'x' AS s, CAST(1.5 AS DOUBLE) AS d,
       CAST(2.25 AS DECIMAL(10, 2)) AS dec, CAST(3 AS TINYINT) AS ti,
       named_struct('f', 20240101, 'g', 'y') AS st,
       array(named_struct('f', 1)) AS arr,
       CAST(20240103 AS INT) AS `weird.col`, DATE'2024-01-01' AS dt
"""

_LINEITEM_SQL = """
SELECT CAST(1 AS BIGINT) AS l_orderkey, 1 AS l_linenumber,
       CAST(30 AS DECIMAL(15, 2)) AS l_quantity,
       CAST(100 AS DECIMAL(15, 2)) AS l_extendedprice,
       CAST(0.1 AS DECIMAL(15, 2)) AS l_discount,
       'N' AS l_returnflag, 'O' AS l_linestatus,
       DATE'2024-01-05' AS l_shipdate
"""

_ORDERS_SQL = """
SELECT CAST(1 AS BIGINT) AS o_orderkey, CAST(7 AS BIGINT) AS o_custkey,
       '1-URGENT' AS o_orderpriority, DATE'2024-01-01' AS o_orderdate
"""

# The etl-shaped join: the Sql transform's input is lineitem alone, so
# the `o.` arguments of the DATEDIFF rewrite cannot resolve against it.
ETL_JOIN_SQL = """
SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
       UCASE(o.o_orderpriority) AS priority,
       DATEDIFF(o.o_orderdate, l.l_shipdate) AS ship_days,
       l.l_extendedprice * (1 - l.l_discount) AS revenue,
       CONCAT(l.l_returnflag, l.l_linestatus) AS flags
FROM zt_lineitem l JOIN zt_orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_quantity > 25
"""


def frames(spark, tmp_dir: str) -> dict:
    base = spark.sql(_BASE_SQL)
    pq = f"{tmp_dir}/typed_zeta_pq"
    spark.range(3).write.mode("overwrite").parquet(pq)
    return {
        "base": base,
        "aliased": base.alias("t"),
        "parquet": spark.read.parquet(pq),
        "lineitem": spark.sql(_LINEITEM_SQL),
    }


# (case id, frame, Zeta SQL, rewrite output before the precheck)
CASES = [
    ("array_int_string", "base",
     "SELECT ARRAY(i, s) AS a FROM t0",
     "SELECT array(CAST((i) AS string), CAST((s) AS string)) AS a FROM t0"),
    ("array_widen_double", "base",
     "SELECT ARRAY(i, b, d) AS a FROM t0",
     "SELECT array(CAST((i) AS double), CAST((b) AS double), "
     "CAST((d) AS double)) AS a FROM t0"),
    ("array_tinyint_int", "base",
     "SELECT ARRAY(ti, i) AS a FROM t0",
     "SELECT array(CAST((ti) AS int), CAST((i) AS int)) AS a FROM t0"),
    ("array_literals_null", "base",
     "SELECT ARRAY(1, 2.5, NULL) AS a FROM t0",
     "SELECT array(CAST((1) AS double), CAST((2.5) AS double), "
     "CAST((NULL) AS double)) AS a FROM t0"),
    ("array_decimal_column", "base",
     "SELECT ARRAY(dec, i) AS a FROM t0",
     "SELECT array(CAST((dec) AS string), CAST((i) AS string)) AS a FROM t0"),
    ("array_numbers_with_dots", "base",
     "SELECT ARRAY(1.5, i, 2e3) AS a FROM t0",
     "SELECT array(CAST((1.5) AS double), CAST((i) AS double), "
     "CAST((2e3) AS double)) AS a FROM t0"),
    ("array_empty", "base",
     "SELECT ARRAY() AS a FROM t0",
     "SELECT array() AS a FROM t0"),
    ("cast_int_date", "base",
     "SELECT CAST(i AS DATE) AS a FROM t0",
     "SELECT to_date(CAST((i) AS STRING), 'yyyyMMdd') AS a FROM t0"),
    ("cast_bigint_timestamp", "base",
     "SELECT CAST(b AS TIMESTAMP) AS a, CAST(b AS DATETIME) AS a2 FROM t0",
     "SELECT timestamp_millis(CAST((b) AS BIGINT)) AS a, "
     "timestamp_millis(CAST((b) AS BIGINT)) AS a2 FROM t0"),
    ("cast_int_time", "base",
     "SELECT CAST(hms AS TIME) AS a FROM t0",
     "SELECT to_time(lpad(CAST((hms) AS STRING), 6, '0'), 'HHmmss') AS a "
     "FROM t0"),
    ("cast_non_numeric", "base",
     "SELECT CAST(s AS DATE) AS a, CAST(dt AS TIMESTAMP) AS a2, "
     "CAST(i AS STRING) AS a3 FROM t0",
     "SELECT CAST(s AS DATE) AS a, CAST((dt) AS TIMESTAMP) AS a2, "
     "CAST(i AS STRING) AS a3 FROM t0"),
    # -- precheck pitfalls: none of these may be skipped ------------------
    ("lambda_param", "base",
     "SELECT ARRAY(size(filter(arr, x -> x.f > 0)), i) AS a FROM t0",
     "SELECT array(CAST((size(filter(arr, x -> x.f > 0))) AS int), "
     "CAST((i) AS int)) AS a FROM t0"),
    ("lambda_two_params", "base",
     "SELECT ARRAY(aggregate(arr, 0, (acc, x) -> acc + x.f), b) AS a FROM t0",
     "SELECT array(CAST((aggregate(arr, 0, (acc, x) -> acc + x.f)) AS bigint),"
     " CAST((b) AS bigint)) AS a FROM t0"),
    ("struct_field", "base",
     "SELECT CAST(st.f AS DATE) AS a, ARRAY(st.g, i) AS a2 FROM t0",
     "SELECT to_date(CAST((st.f) AS STRING), 'yyyyMMdd') AS a, "
     "array(CAST((st.g) AS string), CAST((i) AS string)) AS a2 FROM t0"),
    ("struct_field_other_case", "base",
     "SELECT CAST(ST.F AS DATE) AS a FROM t0",
     "SELECT to_date(CAST((ST.F) AS STRING), 'yyyyMMdd') AS a FROM t0"),
    ("qualified_function", "base",
     "SELECT ARRAY(system.builtin.abs(i), b) AS a FROM t0",
     "SELECT array(system.builtin.abs(i), b) AS a FROM t0"),
    ("back_quoted", "base",
     "SELECT CAST(`weird.col` AS DATE) AS a, CAST(`st`.f AS DATE) AS a2, "
     "ARRAY(`st`.`g`, i) AS a3 FROM t0",
     "SELECT to_date(CAST((`weird.col`) AS STRING), 'yyyyMMdd') AS a, "
     "to_date(CAST((`st`.f) AS STRING), 'yyyyMMdd') AS a2, "
     "array(CAST((`st`.`g`) AS string), CAST((i) AS string)) AS a3 FROM t0"),
    ("dotted_string_literal", "base",
     "SELECT ARRAY(i, 'o.x') AS a FROM t0",
     "SELECT array(CAST((i) AS string), CAST(('o.x') AS string)) AS a FROM t0"),
    ("frame_qualifier", "aliased",
     "SELECT CAST(t.i AS DATE) AS a, ARRAY(t.s, t.i) AS a2 FROM t0",
     "SELECT to_date(CAST((t.i) AS STRING), 'yyyyMMdd') AS a, "
     "array(CAST((t.s) AS string), CAST((t.i) AS string)) AS a2 FROM t0"),
    ("metadata_column", "parquet",
     "SELECT ARRAY(_metadata.file_size, id) AS a FROM t0",
     "SELECT array(CAST((_metadata.file_size) AS bigint), "
     "CAST((id) AS bigint)) AS a FROM t0"),
    ("scalar_subquery", "base",
     "SELECT ARRAY((SELECT max(q.id) FROM range(3) q), i) AS a FROM t0",
     "SELECT array(CAST(((SELECT max(q.id) FROM range(3) q)) AS bigint), "
     "CAST((i) AS bigint)) AS a FROM t0"),
    # -- sites that cannot resolve ----------------------------------------
    ("unknown_qualifier", "base",
     "SELECT CAST(t.i AS DATE) AS a FROM t0",
     "SELECT CAST(t.i AS DATE) AS a FROM t0"),
    ("one_unknown_site", "base",
     "SELECT ARRAY(i, q.s) AS a, CAST(i AS DATE) AS a2 FROM t0",
     "SELECT array(i, q.s) AS a, "
     "to_date(CAST((i) AS STRING), 'yyyyMMdd') AS a2 FROM t0"),
    ("nested_arrays", "base",
     "SELECT ARRAY(ARRAY(i, s), ARRAY(s)) AS a FROM t0",
     "SELECT array(CAST((array(CAST((i) AS string), CAST((s) AS string))) "
     "AS string), CAST((array(CAST((s) AS string))) AS string)) AS a FROM t0"),
    ("aggregate_mix_falls_back", "base",
     "SELECT ARRAY(count(*), i) AS a, CAST(i AS DATE) AS a2 FROM t0",
     "SELECT array(count(*), i) AS a, "
     "to_date(CAST((i) AS STRING), 'yyyyMMdd') AS a2 FROM t0"),
]


@pytest.fixture(scope="module")
def typed_frames(spark, tmp_path_factory):
    return frames(spark, str(tmp_path_factory.mktemp("typed_zeta")))


@pytest.mark.parametrize("case,frame,sql,expected", CASES,
                         ids=[c[0] for c in CASES])
def test_rewrite_matches_unprechecked_output(typed_frames, case, frame, sql,
                                             expected):
    assert rewrite_typed_zeta(sql, typed_frames[frame]) == expected


def test_session_variable_field_is_not_skipped(spark, typed_frames):
    """An unqualified session variable holding a struct resolves like a
    column; with variables declared the precheck steps aside."""
    spark.sql("DECLARE VARIABLE zt_var = named_struct('f', 20240101)")
    try:
        out = rewrite_typed_zeta(
            "SELECT CAST(zt_var.f AS DATE) AS a, "
            "CAST(session.zt_var.f AS DATE) AS a2 FROM t0",
            typed_frames["base"])
    finally:
        spark.sql("DROP TEMPORARY VARIABLE zt_var")
    assert out == ("SELECT to_date(CAST((zt_var.f) AS STRING), 'yyyyMMdd') "
                   "AS a, to_date(CAST((session.zt_var.f) AS STRING), "
                   "'yyyyMMdd') AS a2 FROM t0")


def test_join_datediff_passes_through(typed_frames):
    out = rewrite_typed_zeta(rewrite_zeta_sql(ETL_JOIN_SQL),
                             typed_frames["lineitem"])
    assert ("CAST(datediff(CAST((l.l_shipdate) AS DATE), "
            "CAST((o.o_orderdate) AS DATE)) AS BIGINT) AS ship_days") in out
    assert out == rewrite_zeta_sql(ETL_JOIN_SQL)


# (expression, lambda parameters of the query, heads the precheck
# reports as unknown when the frame's names are {i, s, st, t})
HEAD_CASES = [
    ("o.o_orderdate", set(), {"o"}),
    ("x.f", {"x"}, set()),
    ("st.f.g", set(), set()),
    ("ST.F", set(), set()),
    ("db.fn(i)", set(), set()),
    ("db.fn (i)", set(), set()),
    ("`o`.o_orderdate", set(), set()),
    ("`o.x`", set(), set()),
    ("t.`a b`", set(), set()),
    ("q.`a b`", set(), {"q"}),
    ("'o.x'", set(), set()),
    ("concat(\"o.x\", s)", set(), set()),
    ("1.5 + i", set(), set()),
    ("arr[0].f", set(), set()),
    ("named_struct('a', 1).a", set(), set()),
    ("session.v.f", set(), set()),
    ("system.session.v", set(), set()),
]


@pytest.mark.parametrize("expr,lambdas,unknown", HEAD_CASES,
                         ids=[c[0] for c in HEAD_CASES])
def test_unknown_heads(expr, lambdas, unknown):
    assert _dotted_heads(expr, lambdas) - {"i", "s", "st", "t"} == unknown


def test_dotted_heads_defers_on_subquery_and_comment():
    """Text the precheck cannot judge (a subquery binds its own
    qualifiers; a comment can hide anything) is left to Spark."""
    assert _dotted_heads("(SELECT max(q.id) FROM r q)", set()) == set()
    assert _dotted_heads("i -- o.x", set()) == set()


class _ProbeSpy:
    """Counts the zero-row probes (``selectExpr`` calls) the rewrite
    sends to Spark and how many of them fail analysis."""

    def __init__(self, monkeypatch):
        from pyspark.sql.classic.dataframe import DataFrame

        self.calls = self.failed = 0
        real = DataFrame.selectExpr

        def spy(df, *exprs):
            self.calls += 1
            try:
                return real(df, *exprs)
            except Exception:
                self.failed += 1
                raise

        monkeypatch.setattr(DataFrame, "selectExpr", spy)


class _ErrorRecords(logging.Handler):
    def __init__(self):
        super().__init__(logging.ERROR)
        self.records = []

    def emit(self, record):
        self.records.append(record)


def test_etl_join_makes_no_failing_probe(spark, typed_frames, monkeypatch):
    from pyspark.logger import PySparkLogger

    li = typed_frames["lineitem"]
    li.createOrReplaceTempView("zt_lineitem")
    spark.sql(_ORDERS_SQL).createOrReplaceTempView("zt_orders")
    spy = _ProbeSpy(monkeypatch)
    errors = _ErrorRecords()
    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    logger.addHandler(errors)
    try:
        out = get_transform("Sql", {"plugin_input": "zt_lineitem",
                                    "query": ETL_JOIN_SQL}).apply(li)
    finally:
        logger.removeHandler(errors)
    # every probe site names l. or o., which the lineitem frame lacks
    assert (spy.calls, spy.failed) == (0, 0)
    assert errors.records == []
    row = out.first()
    assert (row["ship_days"], row["priority"]) == (4, "1-URGENT")


def test_mixed_aggregate_sites_probe_once_each(typed_frames, monkeypatch):
    """An aggregate site and a column site of one GROUP BY query each
    resolve alone: one probe per site, as before the precheck, and none
    of them fails analysis."""
    spy = _ProbeSpy(monkeypatch)
    out = rewrite_typed_zeta(
        "SELECT CAST(max(b) AS TIMESTAMP) AS a, CAST(i AS DATE) AS k "
        "FROM t0 GROUP BY i",
        typed_frames["base"])
    assert (spy.calls, spy.failed) == (2, 0)
    assert out == ("SELECT timestamp_millis(CAST((max(b)) AS BIGINT)) AS a, "
                   "to_date(CAST((i) AS STRING), 'yyyyMMdd') AS k "
                   "FROM t0 GROUP BY i")

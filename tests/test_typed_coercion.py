"""MySQL's lax string→double parse dispatched on the operand's type:
Catalyst folds `typeof`, so the parse plans as a plain cast for the types
where the two agree, and the truthiness retry (`WHERE col AND …`) keeps
its comparisons in the scan's PushedFilters."""

from __future__ import annotations

import pytest

from go_mysql_server_spark.dialect import transpiler as tp
from go_mysql_server_spark.engine import Engine
from tests.conftest import SF_DIR
from tests.test_engine import rows


def _plans(df) -> tuple[str, str]:
    """(optimized logical plan, physical plan) of df."""
    qe = df._jdf.queryExecution()
    return qe.optimizedPlan().toString(), qe.executedPlan().toString()


@pytest.fixture(scope="module")
def pq(spark, tmp_path_factory):
    """An Engine over `tc_pq`, a parquet-backed view with INT i and DOUBLE
    d, and `tc_nation`, the test data's nation table."""
    path = str(tmp_path_factory.mktemp("typed") / "pq")
    spark.sql("SELECT CAST(id AS INT) AS i, CAST(id % 2 AS DOUBLE) AS d "
              "FROM range(5)").write.parquet(path)
    spark.read.parquet(path).createOrReplaceTempView("tc_pq")
    spark.read.parquet(f"{SF_DIR}/nation.parquet") \
        .createOrReplaceTempView("tc_nation")
    return Engine(spark)


@pytest.mark.parametrize(("sql", "boolean", "pushed"), [
    ("SELECT i FROM tc_pq WHERE d AND i > 1",
     "SELECT i FROM tc_pq WHERE d <> 0 AND i > 1", "GreaterThan(i,1)"),
    ("SELECT n_nationkey FROM tc_nation WHERE NOT n_regionkey",
     "SELECT n_nationkey FROM tc_nation WHERE n_regionkey = 0",
     "EqualTo(n_regionkey,0)"),
    ("SELECT n_nationkey, IF(n_regionkey, 'y', 'n') FROM tc_nation "
     "WHERE n_nationkey < 9",
     "SELECT n_nationkey, IF(n_regionkey <> 0, 'y', 'n') FROM tc_nation "
     "WHERE n_nationkey < 9", "LessThan(n_nationkey,9)"),
    ("SELECT n_nationkey, CASE WHEN n_regionkey THEN 'y' ELSE 'n' END "
     "FROM tc_nation WHERE n_nationkey < 9",
     "SELECT n_nationkey, CASE WHEN n_regionkey <> 0 THEN 'y' ELSE 'n' END "
     "FROM tc_nation WHERE n_nationkey < 9", "LessThan(n_nationkey,9)"),
], ids=["where_and", "where_not", "if", "case"])
def test_truthiness_retry_keeps_pushed_filters(pq, sql, boolean, pushed):
    """The retried statement's comparison reaches the parquet scan, no
    regexp is left in its plan, and it reads the rows of its boolean
    spelling."""
    df = pq.query(sql)
    optimized, physical = _plans(df)
    pushed_filters = physical.split("PushedFilters: [", 1)[1].split("]")[0]
    assert pushed in pushed_filters
    assert "regexp_extract" not in optimized
    assert sorted(rows(df)) == sorted(rows(pq.query(boolean)))


def _regexp_double(x: str) -> str:
    """The lax string→double parse on every type: the form
    `_lax_double_expr` had before it was dispatched on the type."""
    p = f"regexp_extract(TRIM(CAST({x} AS STRING)), {tp._LAX_PREFIX_RE}, 0)"
    return (f"(CASE WHEN {p} = '' THEN COALESCE(TRY_CAST({x} AS DOUBLE), "
            f"0.0D) ELSE CAST({p} AS DOUBLE) END)")


_VALUES = ["NULL", "0", "-0.0D", "1", "-1", "9007199254740993",
           "9223372036854775807", "CAST('NaN' AS DOUBLE)",
           "CAST('Infinity' AS DOUBLE)", "CAST('-Infinity' AS DOUBLE)",
           "1e-5D", "TRUE", "FALSE"]


def _cells(typ: str, values: list[str]) -> str:
    """A subquery whose column `x` of type `typ` holds `values`, one per
    row; read from range() so the optimizer cannot fold it."""
    whens = " ".join(f"WHEN {i} THEN TRY_CAST({v} AS {typ})"
                     for i, v in enumerate(values))
    return (f"(SELECT CASE id {whens} END AS x "
            f"FROM range({len(values)}))")


@pytest.mark.parametrize("typ", ["TINYINT", "INT", "BIGINT", "DOUBLE",
                                 "BOOLEAN"])
def test_lax_double_cast_types_match_the_parse(spark, typ):
    """For these types the typed branch's plain cast gives, row by row,
    what the string parse gives — and it is the branch that plans."""
    cells = _cells(typ, _VALUES)
    got = spark.sql(f"SELECT {tp._lax_double_expr('x')} AS typed, "
                    f"{_regexp_double('x')} AS parsed FROM {cells}")
    pairs = [(repr(r.typed), repr(r.parsed)) for r in got.collect()]
    assert len(pairs) == len(_VALUES)
    assert all(a == b for a, b in pairs), pairs
    typed = spark.sql(f"SELECT {tp._lax_double_expr('x')} AS v "
                      f"FROM {cells}")
    assert "regexp_extract" not in _plans(typed)[0]


@pytest.mark.parametrize("typ", ["FLOAT", "DECIMAL(10,3)", "VARCHAR(10)",
                                 "DATE"])
def test_lax_double_parse_types_keep_the_regexp(spark, typ):
    """FLOAT, DECIMAL, strings and dates do not take the typed branch: a
    FLOAT's or DECIMAL's double is not always its printed digits'. They
    plan the string parse, and a DATE reads as its YYYYMMDD number, as
    MySQL's does."""
    cells = _cells(typ, ["NULL", "'1'"])
    typed = spark.sql(f"SELECT typeof(x) IN ({tp._EXACT_DOUBLE_TYPES}) "
                      f"AS t FROM {cells}")
    assert {r.t for r in typed.collect()} == {False}
    if typ == "DATE":
        dates = _cells(typ, ["NULL", "'2024-01-05'"])
        df = spark.sql(f"SELECT {tp._lax_double_expr('x')} AS v "
                       f"FROM {dates}")
        assert [r.v for r in df.collect()] == [None, 20240105.0]
    else:
        df = spark.sql(f"SELECT {tp._lax_double_expr('x')} AS v "
                       f"FROM {cells}")
        assert "regexp_extract" in _plans(df)[0]

"""INSERT has two paths. Rows that read no table (VALUES, INSERT ... SET, a
SELECT of literals) are collected once and judged on the driver, with one
probe of the snapshot for their keys; any other rows are judged by Spark
actions. Both give the same outcome, and the collect-once path runs few
Spark jobs."""

from __future__ import annotations

import re

import pytest

from go_mysql_server_spark.engine import Engine, SqlError
from tests.test_engine import (_CHECK_ORDER, _CHECK_ORDER_TABLES, _KEY_CELLS,
                               _KEY_VARIANTS, rows)


def _outcome(e: Engine, stmt: str, final: str) -> tuple:
    """(error, errno, affected rows, final rows, LAST_INSERT_ID)."""
    err = errno = affected = None
    try:
        affected = e.query(stmt).rows_affected
    except SqlError as exc:
        err, errno = str(exc), exc.errno
    return (err, errno, affected, rows(e.query(final)),
            rows(e.query("SELECT LAST_INSERT_ID()"))[0][0])


def _both_paths(spark, setup: list[str], prefix: str, values: list[str],
                suffix: str, staging: str, final: str) -> list[tuple]:
    """The outcome of `prefix VALUES (v1), (v2) suffix` and of the same
    rows as INSERT ... SELECT from a staging table with columns
    `staging`."""
    out = []
    for form in ("values", "select"):
        e = Engine(spark)
        for s in setup:
            e.query(s)
        if form == "values":
            stmt = f"{prefix} VALUES " + ", ".join(f"({v})" for v in values)
        else:
            e.query(f"CREATE TABLE stg (o INT, {staging})")
            e.query("INSERT INTO stg VALUES " + ", ".join(
                f"({i}, {v})" for i, v in enumerate(values)))
            names = ", ".join(p.split()[0] for p in staging.split(", "))
            stmt = f"{prefix} SELECT {names} FROM stg ORDER BY o"
        out.append(_outcome(e, stmt + suffix, final))
    return out


def _check(got: tuple, want) -> None:
    """`want` is an error prefix or (affected rows, final rows)."""
    if isinstance(want, str):
        assert got[0] is not None and got[0].startswith(want), got
    else:
        assert (got[0], got[2], got[3]) == (None, *want)


_INSERT_CELLS = [c for c, (stmts, _) in _KEY_CELLS.items()
                 if len(stmts) == 1 and re.match(r"(INSERT|REPLACE)\b",
                                                 stmts[0])]


@pytest.mark.parametrize("variant", list(_KEY_VARIANTS))
@pytest.mark.parametrize("cell", _INSERT_CELLS)
def test_key_rule_paths_agree(spark, cell, variant):
    """test_key_rule's INSERT cells give the same error, errno, affected
    rows, final rows and LAST_INSERT_ID from VALUES and from INSERT ...
    SELECT, and the outcome test_key_rule expects."""
    _, cols, key = _KEY_VARIANTS[variant]
    stmts, expect = _KEY_CELLS[cell]
    m = re.match(r"(.*?\))\s+VALUES\s+(.*?)(\s+ON DUPLICATE KEY UPDATE .*)?$",
                 stmts[0])
    values, select = _both_paths(
        spark, [f"CREATE TABLE kt ({cols}, {key})",
                "INSERT INTO kt (a, b, c) VALUES (1, 1, 1), (2, NULL, 2)"],
        m.group(1), re.findall(r"\(([^()]*)\)", m.group(2)), m.group(3) or "",
        "a INT, b INT, c INT", "SELECT a, b, c FROM kt ORDER BY a, c")
    assert values == select
    _check(values, expect.get(variant, expect.get("*")))


@pytest.mark.parametrize("row, error, errno", _CHECK_ORDER)
def test_check_order_paths_agree(spark, row, error, errno):
    """test_key_check_order's rows break the same rule first on both
    paths, with the same errno."""
    values, select = _both_paths(
        spark, _CHECK_ORDER_TABLES, "INSERT INTO pc", [row], "",
        "k INT, u INT, n INT, e VARCHAR(5), c INT, f INT",
        "SELECT * FROM pc")
    assert values == select
    _check(values, error)
    assert values[1] == errno


_DUP = "duplicate entry for key 'PRIMARY'"
# key types where Python's equality and Spark's could differ: (type, the
# seeded key, a key Spark finds equal to it, a new key)
_KEY_TYPES = {
    "varbinary": ("VARBINARY(8)", "X'0102'", "X'0102'", "X'0A'"),
    "double_zero": ("DOUBLE", "0.0", "-0e0", "2.5"),
    "double_negative_zero": ("DOUBLE", "-0e0", "0.0", "2.5"),
    "decimal": ("DECIMAL(6,2)", "1.5", "1.50", "2.25"),
    "datetime": ("DATETIME", "'2024-01-05 10:00:00'",
                 "'2024-01-05 10:00:00.000'", "'2024-01-05 10:00:01'"),
    # Spark compares strings exactly: a trailing space makes a new key
    "varchar_trailing_space": ("VARCHAR(10)", "'a'", "'a '", "'b'"),
}
# (prefix, rows with {eq} and {new}, expected, expected for the string
# key, whose `{eq}` is a new key); expected is (an error or the affected
# rows, the final `v` column)
_KEY_TYPE_CELLS = {
    "clash": ("INSERT INTO kt", ["{eq}, 9"], (_DUP, [0]), (1, [0, 9])),
    "ignore": ("INSERT IGNORE INTO kt", ["{eq}, 1", "{new}, 2", "{new}, 3"],
               (1, [0, 2]), (2, [0, 1, 2])),
    "repeat": ("INSERT INTO kt", ["{new}, 4", "{new}, 5"], (_DUP, [0]),
               (_DUP, [0])),
}


@pytest.mark.parametrize("cell", list(_KEY_TYPE_CELLS))
@pytest.mark.parametrize("key_type", list(_KEY_TYPES))
def test_key_types_paths_agree(spark, key_type, cell):
    """Keys of types where Python's equality and Spark's could differ are
    judged alike on both paths, and as Spark's join judges them."""
    typ, seed, eq, new = _KEY_TYPES[key_type]
    prefix, cells, want, want_string = _KEY_TYPE_CELLS[cell]
    if key_type == "varchar_trailing_space":
        want = want_string
    values, select = _both_paths(
        spark, [f"CREATE TABLE kt (k {typ} PRIMARY KEY, v INT)",
                f"INSERT INTO kt VALUES ({seed}, 0)"],
        prefix, [v.format(eq=eq, new=new) for v in cells], "",
        f"k {typ}, v INT", "SELECT v FROM kt ORDER BY v")
    assert values == select
    if isinstance(want[0], str):
        _check(values, want[0])
    else:
        assert values[2] == want[0]
    assert [v for (v,) in values[3]] == want[1]


_AI_SETUP = ["CREATE TABLE ai (id INT AUTO_INCREMENT PRIMARY KEY, "
             "s VARCHAR(5))",
             "INSERT INTO ai VALUES (NULL, 'x'), (20, 'y')"]
_AI_CELLS = {
    # (prefix, rows, staging columns, affected rows, new ids, LAST_INSERT_ID)
    "omitted": ("INSERT INTO ai (s)", ["'a'", "'b'"], "s VARCHAR(5)", 2,
                [21, 22], 21),
    "explicit": ("INSERT INTO ai (id, s)",
                 ["NULL, 'a'", "30, 'b'", "NULL, 'c'", "0, 'd'", "5, 'e'"],
                 "id INT, s VARCHAR(5)", 5, [5, 21, 30, 31, 32], 21),
    "explicit_only": ("INSERT INTO ai (id, s)", ["40, 'a'"],
                      "id INT, s VARCHAR(5)", 1, [40], 1),
    "clash": ("INSERT INTO ai (id, s)", ["NULL, 'a'", "20, 'b'"],
              "id INT, s VARCHAR(5)", _DUP, [], 1),
}


@pytest.mark.parametrize("cell", list(_AI_CELLS))
def test_auto_increment_paths_agree(spark, cell):
    """AUTO_INCREMENT ids and LAST_INSERT_ID are the same on both paths,
    and the counter continues from them."""
    prefix, values, staging, want, ids, last_id = _AI_CELLS[cell]
    got = _both_paths(spark, _AI_SETUP, prefix, values, "", staging,
                      "SELECT id FROM ai ORDER BY id")
    assert got[0] == got[1]
    if isinstance(want, str):
        _check(got[0], want)
    else:
        assert got[0][2] == want
    assert [i for (i,) in got[0][3]] == sorted([1, 20] + ids)
    assert got[0][4] == last_id


# ---- job counts ------------------------------------------------------------

def _jobs(spark, fn) -> tuple[int, object]:
    """Spark jobs `fn` runs (the DAG scheduler's count, taken on the
    submitting thread) and its result."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.numTotalJobs()
    out = fn()
    return sched.numTotalJobs() - before, out


@pytest.fixture(scope="module")
def kv(spark):
    """A 1,000-row table with a PRIMARY KEY and a UNIQUE key."""
    e = Engine(spark)
    e.query("CREATE TABLE kv (k INT PRIMARY KEY, v INT, s VARCHAR(20), "
            "UNIQUE KEY uv (v))")
    e.query("INSERT INTO kv SELECT id, id, CAST(id AS STRING) "
            "FROM range(1000)")
    return e


@pytest.mark.parametrize("stmt, limit", [
    ("INSERT INTO kv VALUES (5001, 5001, 'a')", 3),
    ("INSERT INTO kv SET k = 5002, v = 5002, s = 'b'", 3),
    ("INSERT INTO kv VALUES (5003, 5003, 'c'), (5004, 5004, 'd')", 3),
    ("UPDATE kv SET s = 'u' WHERE k = 7", 2),
    ("DELETE FROM kv WHERE k = 9", 3),
    ("UPDATE kv JOIN kv AS o ON kv.k = o.k SET kv.s = 'j' WHERE o.k = 8",
     9),
    # the distributed path: no more jobs than before the collect-once path
    ("INSERT INTO kv SELECT k + 10000, v + 10000, s FROM kv WHERE k < 3",
     9),
], ids=["values", "set", "values_batch", "update_pk", "delete_pk",
        "update_join", "insert_select"])
def test_dml_job_count(spark, kv, stmt, limit):
    n, res = _jobs(spark, lambda: kv.query(stmt))
    assert res.rows_affected in (1, 2, 3)
    assert n <= limit


def test_collect_once_keeps_one_partition(kv):
    assert kv.query("SELECT * FROM kv").rdd.getNumPartitions() == 1


def test_returning_job_count(spark, kv):
    n, got = _jobs(spark, lambda: rows(kv.query(
        "INSERT INTO kv VALUES (5005, 5005, 'r') RETURNING k, s")))
    assert got == [(5005, "r")]
    assert n <= 3


def test_auto_increment_job_count(spark):
    e = Engine(spark)
    e.query("CREATE TABLE aj (id INT AUTO_INCREMENT PRIMARY KEY, v INT, "
            "UNIQUE KEY (v))")
    e.query("INSERT INTO aj (v) VALUES (1), (2)")
    n, _ = _jobs(spark, lambda: e.query("INSERT INTO aj (v) VALUES (3)"))
    assert n <= 3
    n, _ = _jobs(spark, lambda: e.query(
        "INSERT INTO aj VALUES (NULL, 4), (10, 5), (NULL, 6)"))
    assert n <= 3
    assert rows(e.query("SELECT id, v FROM aj ORDER BY id")) == [
        (1, 1), (2, 2), (3, 3), (4, 4), (10, 5), (11, 6)]
    assert rows(e.query("SELECT LAST_INSERT_ID()")) == [(4,)]


def test_last_insert_uuid_job_count(spark):
    e = Engine(spark)
    e.query("CREATE TABLE tu (id VARCHAR(36) PRIMARY KEY DEFAULT (UUID()), "
            "s VARCHAR(5))")
    n, _ = _jobs(spark, lambda: e.query("INSERT INTO tu (s) VALUES ('a')"))
    assert n <= 3
    assert rows(e.query("SELECT LAST_INSERT_UUID()")) == \
        rows(e.query("SELECT id FROM tu"))


def test_before_trigger_job_count(spark):
    e = Engine(spark)
    e.query("CREATE TABLE bt (k INT PRIMARY KEY, s VARCHAR(10))")
    e.query("CREATE TRIGGER up BEFORE INSERT ON bt FOR EACH ROW "
            "SET NEW.s = UPPER(NEW.s)")
    n, _ = _jobs(spark, lambda: e.query("INSERT INTO bt VALUES (1, 'a')"))
    assert n <= 3
    assert rows(e.query("SELECT * FROM bt")) == [(1, "A")]


# ---- cells speak MySQL -----------------------------------------------------

@pytest.mark.parametrize("stmt, want", [
    ("INSERT INTO mc (i, s) VALUES (1, DATE_FORMAT('2024-01-05', '%Y-%m'))",
     [(1, "2024-01", None)]),
    ("INSERT INTO mc SET i = 1, s = DATE_FORMAT('2024-01-05', '%Y-%m')",
     [(1, "2024-01", None)]),
    ("INSERT INTO mc SET i = 1, d = TRUNCATE(1.56, 1)", [(1, None, 1.5)]),
    ("INSERT INTO mc (i, d) VALUES (1, TRUNCATE(1.56, 1))",
     [(1, None, 1.5)]),
    # `||` is OR, as in SELECT: FALSE, stored as MySQL's 0
    ("INSERT INTO mc (i, s) VALUES (1, 'a' || 'b')", [(1, "0", None)]),
    ("INSERT INTO mc SET i = 1, s = 'a' || 'b'", [(1, "0", None)]),
    # rows an inline table refuses: a subquery, cells of differing types
    ("INSERT INTO mc (i, d) VALUES (1, (SELECT 2.5))", [(1, None, 2.5)]),
    ("INSERT INTO mc (i, s) VALUES (1, 'x'), ('2', 2)",
     [(1, "x", None), (2, "2", None)]),
], ids=["values_date_format", "set_date_format", "set_truncate",
        "values_truncate", "values_pipes", "set_pipes", "values_subquery",
        "values_mixed_types"])
def test_insert_cells_speak_mysql(spark, stmt, want):
    """VALUES and SET cells are transpiled as SELECT's are."""
    e = Engine(spark)
    e.query("CREATE TABLE mc (i INT, s VARCHAR(10), d DOUBLE)")
    e.query(stmt)
    assert rows(e.query("SELECT * FROM mc ORDER BY i")) == want

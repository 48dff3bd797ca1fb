"""Every UPDATE takes one path: single- and multi-table UPDATE stage their
rows with one SELECT through the SELECT pipeline and share one writer, so
both forms enforce the same row rules, bind names as a SELECT does and
commit the ON UPDATE foreign-key actions after the new rows. DELETE
stages its victims the same way. One shared Engine; each statement runs
inside BEGIN … ROLLBACK, so the cases leave the tables as set up."""

from __future__ import annotations

import pytest

from go_mysql_server_spark.engine import Engine, SqlError
from tests.test_engine import rows

_SETUP = [
    "CREATE TABLE p (id INT PRIMARY KEY)",
    "INSERT INTO p VALUES (1), (2)",
    "CREATE TABLE c (id INT PRIMARY KEY, pid INT, nn INT NOT NULL, "
    "tiny TINYINT, e ENUM('a','b'), chk INT, "
    "FOREIGN KEY (pid) REFERENCES p (id), CHECK (chk >= 0))",
    "INSERT INTO c VALUES (1, 1, 1, 1, 'a', 1), (2, 2, 2, 2, 'b', 2)",
    "CREATE TABLE u (id INT PRIMARY KEY, w INT)",
    "INSERT INTO u VALUES (1, 10)",
    "CREATE TABLE t1 (id INT PRIMARY KEY, s VARCHAR(5), v INT)",
    "INSERT INTO t1 VALUES (1, 'a', 1), (2, 'b', 0), (3, 'c', 1)",
    "CREATE TABLE t2 (id INT PRIMARY KEY)",
    "INSERT INTO t2 VALUES (1)",
    "CREATE DATABASE o",
    "CREATE TABLE o.x (id INT PRIMARY KEY, s VARCHAR(5))",
    "INSERT INTO o.x VALUES (1, 'a'), (2, 'b')",
    "CREATE TABLE emp (id INT PRIMARY KEY, boss INT, FOREIGN KEY (boss) "
    "REFERENCES emp (id) ON UPDATE CASCADE)",
    "INSERT INTO emp VALUES (1, NULL), (2, 1), (3, 1)",
]


@pytest.fixture(scope="module")
def eng(spark):
    e = Engine(spark)
    for s in _SETUP:
        e.query(s)
    return e


def _rolled_back(e: Engine, fn):
    e.query("BEGIN")
    try:
        return fn()
    finally:
        e.query("ROLLBACK")


# assignment to table c → the MySQL errno that refuses it
_REFUSED = {
    "fk": ("pid = 999", 1452),
    "not_null": ("nn = NULL", 1048),
    "out_of_range": ("tiny = 1000", 1264),
    "enum": ("e = 'zz'", 1265),
    "check": ("chk = -1", 3819),
}


@pytest.mark.parametrize("case", list(_REFUSED))
def test_update_join_keeps_the_row_rules(eng, case):
    """UPDATE … JOIN is refused with the errno of the single-table form,
    and the table keeps its rows."""
    assign, errno = _REFUSED[case]
    before = rows(eng.query("SELECT * FROM c ORDER BY id"))
    for sql in (f"UPDATE c SET {assign} WHERE id = 1",
                f"UPDATE c JOIN u ON c.id = u.id SET c.{assign}"):
        with pytest.raises(SqlError) as err:
            _rolled_back(eng, lambda: eng.query(sql))
        assert err.value.errno == errno, sql
    assert rows(eng.query("SELECT * FROM c ORDER BY id")) == before


# statement → (rows it reports, query reading the result, its rows)
_ANSWERS = {
    # t1.id binds to t1, not to the subquery's t2.id
    "exists": ("UPDATE t1 SET s = 'e' WHERE EXISTS "
               "(SELECT 1 FROM t2 WHERE t2.id = t1.id)", 1,
               "SELECT id, s FROM t1 ORDER BY id",
               [(1, "e"), (2, "b"), (3, "c")]),
    "comma": ("UPDATE c, u SET c.nn = u.w WHERE c.id = u.id", 1,
              "SELECT id, nn FROM c ORDER BY id", [(1, 10), (2, 2)]),
    # IGNORE clamps the value to the column's range
    "ignore_join": ("UPDATE IGNORE c JOIN u ON c.id = u.id "
                    "SET c.tiny = 1000", 1,
                    "SELECT id, tiny FROM c ORDER BY id",
                    [(1, 127), (2, 2)]),
    "cross_db_alias": ("UPDATE o.x AS ox JOIN t2 ON ox.id = t2.id "
                       "SET ox.s = 'z'", 1,
                       "SELECT id, s FROM o.x ORDER BY id",
                       [(1, "z"), (2, "b")]),
    "truthy_where": ("UPDATE t1 SET s = 't' WHERE v AND id > 1", 1,
                     "SELECT id, s FROM t1 ORDER BY id",
                     [(1, "a"), (2, "b"), (3, "t")]),
    "truthy_where_join": ("UPDATE t1 JOIN t2 ON t1.id = t2.id "
                          "SET t1.s = 'j' WHERE v AND t1.id > 0", 1,
                          "SELECT id, s FROM t1 ORDER BY id",
                          [(1, "j"), (2, "b"), (3, "c")]),
    "self_cascade": ("UPDATE emp SET id = 10 WHERE id = 1", 1,
                     "SELECT id, boss FROM emp ORDER BY id",
                     [(2, 10), (3, 10), (10, None)]),
    "delete_truthy": ("DELETE FROM t1 WHERE v AND id > 2", 1,
                      "SELECT id FROM t1 ORDER BY id", [(1,), (2,)]),
    "delete_truthy_bare": ("DELETE FROM t1 WHERE v", 2,
                           "SELECT id FROM t1 ORDER BY id", [(2,)]),
}


@pytest.mark.parametrize("case", list(_ANSWERS))
def test_update_answers(eng, case):
    sql, n, query, want = _ANSWERS[case]

    def run():
        assert eng.query(sql).rows_affected == n
        return rows(eng.query(query))
    assert _rolled_back(eng, run) == want

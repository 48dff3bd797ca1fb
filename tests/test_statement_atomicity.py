"""Every statement is atomic by one rule, the session's undo log: a
statement that raises leaves every table as it was before it, however
far it got — its triggers' and foreign-key actions' writes included —
and ROLLBACK undoes only its own session's writes. One shared Engine."""

from __future__ import annotations

import pytest

from go_mysql_server_spark.engine import Engine, SqlError
from tests.test_engine import rows


class _Fault(Exception):
    """The error an injected `_register` failure raises."""


_SETUP = [
    "CREATE DATABASE fi",
    "USE fi",
    "CREATE TABLE p (id INT PRIMARY KEY, v INT, UNIQUE KEY uv (v))",
    "INSERT INTO p VALUES (1, 10), (2, 20), (3, 30)",
    "CREATE TABLE a (id INT PRIMARY KEY AUTO_INCREMENT, s VARCHAR(10))",
    "INSERT INTO a (s) VALUES ('x'), ('y'), ('z')",
    "CREATE TABLE au (id INT)",
    "CREATE TRIGGER a_ins AFTER INSERT ON a FOR EACH ROW "
    "INSERT INTO au VALUES (NEW.id)",
    "CREATE TABLE c1 (id INT PRIMARY KEY, pid INT, FOREIGN KEY (pid) "
    "REFERENCES p (id) ON DELETE CASCADE ON UPDATE CASCADE)",
    "CREATE TABLE c2 (id INT PRIMARY KEY, pid INT, FOREIGN KEY (pid) "
    "REFERENCES p (id) ON DELETE SET NULL ON UPDATE SET NULL)",
    # created after c1, so a DELETE of p's row 3 cascades to c1 first
    "CREATE TABLE c3 (id INT PRIMARY KEY, pid INT, FOREIGN KEY (pid) "
    "REFERENCES p (id) ON DELETE RESTRICT)",
    "INSERT INTO c1 VALUES (10, 1), (20, 2), (30, 3)",
    "INSERT INTO c2 VALUES (11, 1), (21, 2)",
    "INSERT INTO c3 VALUES (31, 3)",
]

# write form → statement; `{csv}` is a two-row file for table `p`
_FORMS = {
    "insert": "INSERT INTO a (s) VALUES ('q'), ('r')",
    "replace": "REPLACE INTO a VALUES (1, 'z'), (7, 'w')",
    "odku": "INSERT INTO p VALUES (1, 99), (4, 40) "
            "ON DUPLICATE KEY UPDATE v = v + 1",
    "load_data": "LOAD DATA INFILE '{csv}' INTO TABLE p "
                 "FIELDS TERMINATED BY ','",
    "update": "UPDATE a SET s = 'u' WHERE id = 1",
    "update_join": "UPDATE a JOIN p ON a.id = p.id "
                   "SET a.s = 'j', p.v = p.v + 100",
    "update_comma": "UPDATE a, p SET a.s = 'c', p.v = p.v + 1 "
                    "WHERE a.id = p.id",
    "update_ignore_join": "UPDATE IGNORE a JOIN p ON a.id = p.id "
                          "SET a.s = 'i'",
    "update_fk": "UPDATE p SET id = 5 WHERE id = 2",
    "delete": "DELETE FROM a WHERE id = 1",
    "delete_subquery": "DELETE FROM a WHERE id IN "
                       "(SELECT id FROM p WHERE v > 15)",
    "delete_multi": "DELETE a, c2 FROM a JOIN c2 ON a.id + 10 = c2.id "
                    "WHERE a.id = 1",
    "delete_fk": "DELETE FROM p WHERE id < 3",
    "truncate": "TRUNCATE TABLE a",
    "alter": "ALTER TABLE p ADD COLUMN w INT DEFAULT 5, "
             "RENAME COLUMN id TO pk, ADD UNIQUE KEY uw (w, v)",
}


def _state(e: Engine) -> tuple:
    """Every table's snapshot (the DataFrame object: snapshots are
    immutable, so the same object means the same rows, and no Spark job
    runs), columns, keys and history length, and every table's
    triggers."""
    tables = {}
    for db, ts_by_name in e.databases.items():
        for name, ts in ts_by_name.items():
            tables[db, name] = (
                ts.df, [(c.name, c.spark_type.simpleString(), c.nullable)
                        for c in ts.columns],
                ts.primary_key, [(ix.name, ix.columns) for ix in ts.indexes],
                [(fk.columns, fk.parent_table, fk.parent_columns)
                 for fk in ts.foreign_keys],
                len(ts.history))
    return tables, {t: [x.name for x in ts] for t, ts in e.triggers.items()}


def _counters(e: Engine) -> dict:
    return {(db, name): ts.auto_inc_next
            for db, ts_by_name in e.databases.items()
            for name, ts in ts_by_name.items()}


@pytest.fixture(scope="module")
def eng(spark):
    e = Engine(spark)
    for s in _SETUP:
        e.query(s)
    return e


@pytest.fixture(scope="module")
def csv(tmp_path_factory):
    path = tmp_path_factory.mktemp("undo") / "a.csv"
    path.write_text("8,80\n9,90\n")
    return str(path)


def _run_with_fault(e: Engine, sql: str, k: int | None) -> int:
    """Run `sql` with its k-th `_register` call raising `_Fault` (none
    when k is None); returns the number of calls made."""
    calls = 0
    real = e._register

    def register(*args):
        nonlocal calls
        calls += 1
        if calls == k:
            raise _Fault(f"register call {k}")
        real(*args)
    e._register = register
    try:
        e.query(sql)
    finally:
        del e._register
    return calls


@pytest.mark.parametrize("form", list(_FORMS))
def test_failed_statement_leaves_every_table(eng, csv, form):
    """The statement runs once inside BEGIN … ROLLBACK to count its
    `_register` calls; then, for every k it reaches, its k-th call
    raises. Each time every table is as it was before, except that an
    AUTO_INCREMENT counter keeps the ids the statement took (InnoDB's
    gap) and is never lowered: a failed TRUNCATE keeps its counter."""
    sql = _FORMS[form].format(csv=csv)
    before, counters = _state(eng), _counters(eng)

    def unchanged(what: str) -> None:
        assert _state(eng) == before, what
        now = _counters(eng)
        assert all(now[t] >= n for t, n in counters.items()), what
    eng.query("BEGIN")
    n = _run_with_fault(eng, sql, None)
    eng.query("ROLLBACK")
    assert n >= 1
    unchanged("rollback")
    for k in range(1, n + 1):
        with pytest.raises(_Fault):
            _run_with_fault(eng, sql, k)
        unchanged(f"register call {k} of {n}")


def _tables(e: Engine, *ddl: str) -> None:
    for s in ddl:
        e.query(s)


def test_failed_insert_keeps_its_auto_increment_gap(eng):
    """The ids a failed multi-row INSERT took stay taken, as in InnoDB:
    the next INSERT gets the id after them."""
    _tables(eng, "CREATE TABLE g (id INT PRIMARY KEY AUTO_INCREMENT, "
                 "v TINYINT)")
    with pytest.raises(SqlError, match="out of range"):
        eng.query("INSERT INTO g (v) VALUES (1), (1000)")
    eng.query("INSERT INTO g (v) VALUES (2)")
    assert rows(eng.query("SELECT id, v FROM g")) == [(3, 2)]


def test_rollback_to_savepoint_forgets_later_savepoints(eng):
    """ROLLBACK TO a forgets every savepoint set after a, one set at the
    same position in the log included, and keeps a itself."""
    eng.query("BEGIN")
    try:
        eng.query("SAVEPOINT a")
        eng.query("SAVEPOINT b")
        eng.query("ROLLBACK TO a")
        with pytest.raises(SqlError, match="does not exist"):
            eng.query("ROLLBACK TO b")
        eng.query("ROLLBACK TO a")
    finally:
        eng.query("ROLLBACK")


def test_failed_start_replica_keeps_applied_events(eng, tmp_path):
    """START REPLICA applies events as the replica's own session: an
    event that fails does not undo the runs applied before it, which the
    replica's position already counts."""
    import json
    _tables(eng, "CREATE TABLE rp (id BIGINT PRIMARY KEY, v VARCHAR(5))")
    src = tmp_path / "stream"
    src.mkdir()
    (src / "000001.json").write_text("\n".join(json.dumps(e) for e in [
        {"gtid": 1, "table": "rp", "op": "insert",
         "row": {"id": "1", "v": "a"}},
        {"gtid": 2, "table": "rp", "op": "delete", "key": {}}]))
    eng.query(f"CHANGE REPLICATION SOURCE TO SOURCE_DIR='{src}'")
    eng.query("RESET REPLICA")
    try:
        with pytest.raises(Exception, match="without key"):
            eng.query("START REPLICA")
        assert rows(eng.query("SELECT id, v FROM rp")) == [(1, "a")]
    finally:
        eng.query("RESET REPLICA")


def test_failed_cascade_delete_keeps_children(eng):
    """c3's RESTRICT refusing the DELETE undoes the delete that c1's
    CASCADE ran before it."""
    with pytest.raises(SqlError, match="RESTRICT") as err:
        eng.query("DELETE FROM p WHERE id = 3")
    assert (err.value.errno, err.value.sqlstate) == (1451, "23000")
    assert rows(eng.query("SELECT id FROM c1 WHERE pid = 3")) == [(30,)]
    assert rows(eng.query("SELECT id FROM p WHERE id = 3")) == [(3,)]


def test_failed_multi_target_delete_keeps_first_target(eng):
    """A multi-target DELETE whose second target is refused keeps the
    first target's rows."""
    with pytest.raises(SqlError, match="RESTRICT"):
        eng.query("DELETE a, p FROM a JOIN p ON a.id = p.id WHERE a.id = 3")
    assert rows(eng.query("SELECT s FROM a WHERE id = 3")) == [("z",)]


def test_rollback_keeps_another_sessions_commit(eng):
    """Session A's ROLLBACK undoes A's INSERT, not the INSERT session B
    committed in the meantime."""
    _tables(eng, "CREATE TABLE t1 (i INT)", "CREATE TABLE t2 (i INT)")
    a, b = eng.new_session(), eng.new_session()
    a.current_db = b.current_db = "fi"
    eng.query("BEGIN", a)
    eng.query("INSERT INTO t1 VALUES (1)", a)
    eng.query("INSERT INTO t2 VALUES (7)", b)
    eng.query("ROLLBACK", a)
    assert rows(eng.query("SELECT i FROM t2")) == [(7,)]
    assert rows(eng.query("SELECT i FROM t1")) == []


def test_call_keeps_the_statements_before_a_failure(eng):
    """A CALL is not one statement: its first INSERT stays when its
    second fails."""
    _tables(eng, "CREATE TABLE cp (i INT PRIMARY KEY)",
            "CREATE PROCEDURE two_rows() BEGIN "
            "INSERT INTO cp VALUES (1); INSERT INTO cp VALUES (1); END")
    with pytest.raises(SqlError, match="duplicate entry"):
        eng.query("CALL two_rows()")
    assert rows(eng.query("SELECT i FROM cp")) == [(1,)]


def test_as_of_on_a_db_qualified_name(eng):
    """`db.t AS OF n` reads the version from the named database, from
    the current database and from another one."""
    _tables(eng, "CREATE TABLE h (i INT)", "INSERT INTO h VALUES (1)",
            "INSERT INTO h VALUES (2)")
    assert rows(eng.query("SELECT i FROM fi.h AS OF 1")) == [(1,)]
    eng.query("USE mydb")
    try:
        assert rows(eng.query("SELECT i FROM fi.h AS OF 1")) == [(1,)]
        assert rows(eng.query(
            "SELECT COUNT(*) AS c FROM fi.h AS OF 2")) == [(2,)]
        assert rows(eng.query("SELECT COUNT(*) AS c FROM fi.h")) == [(2,)]
    finally:
        eng.query("USE fi")


def test_as_of_three_part_column(eng):
    """A 3-part column of an AS OF table binds to that table's version."""
    _tables(eng, "CREATE TABLE h3 (i INT)", "INSERT INTO h3 VALUES (1)",
            "INSERT INTO h3 VALUES (2)")
    assert rows(eng.query("SELECT fi.h3.i FROM fi.h3 AS OF 1")) == [(1,)]
    assert rows(eng.query(
        "SELECT fi.h3.i FROM fi.h3 AS OF 2 ORDER BY i")) == [(1,), (2,)]


def test_bare_table_name_qualifies_a_db_qualified_table(eng):
    """An unaliased `db.t` answers to `t`, as in MySQL: `t.c` and `db.t.c`
    name its columns, and an alias still replaces the name."""
    _tables(eng, "CREATE TABLE hq (i INT, s VARCHAR(5))",
            "INSERT INTO hq VALUES (1, 'a'), (2, 'b')")
    assert rows(eng.query("SELECT hq.i FROM fi.hq ORDER BY i")) == \
        [(1,), (2,)]
    assert rows(eng.query(
        "SELECT fi.hq.s FROM fi.hq WHERE hq.i = 2")) == [("b",)]
    assert rows(eng.query(
        "SELECT x.i FROM fi.hq x JOIN fi.hq ON x.i = hq.i "
        "ORDER BY x.i")) == [(1,), (2,)]
    # where another table answers to `hq`, `db.hq.c` still tells them apart
    _tables(eng, "CREATE DATABASE fj", "CREATE TABLE fj.hq (i INT, s TEXT)",
            "INSERT INTO fj.hq VALUES (2, 'z')")
    assert rows(eng.query(
        "SELECT fi.hq.s, fj.hq.s FROM fi.hq JOIN fj.hq "
        "ON fi.hq.i = fj.hq.i")) == [("b", "z")]
    assert rows(eng.query(
        "SELECT fj.hq.s FROM fj.hq, hq WHERE hq.i = 1")) == [("z",)]


def test_insert_values_row_constructor(eng):
    """INSERT ... VALUES ROW(...), ROW(...) inserts one row per ROW, as
    MySQL's table value constructor does."""
    _tables(eng, "CREATE TABLE rr (a INT, b INT)",
            "INSERT INTO rr VALUES ROW(1, 2), ROW(3, 4)",
            "INSERT INTO rr (b, a) VALUES ROW(6, 5)")
    assert rows(eng.query("SELECT a, b FROM rr ORDER BY a")) == \
        [(1, 2), (3, 4), (5, 6)]


def test_date_in_numeric_context(eng):
    """A DATE reads as its YYYYMMDD number, as in MySQL: in CAST AS
    DOUBLE and as a truthiness operand."""
    _tables(eng, "CREATE TABLE dd (id INT, d DATE)",
            "INSERT INTO dd VALUES (1, '2024-01-05'), (2, NULL)")
    assert rows(eng.query(
        "SELECT CAST(d AS DOUBLE) AS v FROM dd ORDER BY id")) == \
        [(20240105.0,), (None,)]
    assert rows(eng.query("SELECT id FROM dd WHERE d AND id > 0")) == [(1,)]

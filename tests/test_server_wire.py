"""Wire-protocol server + DB-API driver tests.

Covers the reference's server/ surface (server_test.go behaviors: dial,
handshake, query round-trip, errors, USE, ping, concurrent connections)
and driver/ (driver_test.go: database/sql-style query/exec/params) —
re-expressed over the Spark Engine.
"""

from __future__ import annotations

import threading

import pytest

from go_mysql_server_spark import dbapi
from go_mysql_server_spark.engine import Engine
from go_mysql_server_spark.server import Client, MySQLClientError, \
    MySQLServer, OkStatus


@pytest.fixture(scope="module")
def srv(spark):
    eng = Engine(spark)
    eng.query("CREATE TABLE wt (i BIGINT PRIMARY KEY, s VARCHAR(20), "
              "d DOUBLE, ts TIMESTAMP)")
    eng.query("INSERT INTO wt VALUES (1, 'one', 1.5, "
              "'2024-01-02 03:04:05'), (2, NULL, -2.25, NULL)")
    server = MySQLServer(eng, port=0).start()
    yield server
    server.close()


@pytest.fixture()
def cli(srv):
    c = Client(srv.host, srv.port, user="root")
    yield c
    c.close()


def test_handshake_and_version(cli):
    assert cli.server_version.startswith("8.0.33")
    assert cli.ping()


def test_select_text_resultset(cli):
    rs = cli.query("SELECT i, s, d, ts FROM wt ORDER BY i")
    assert rs.columns == ["i", "s", "d", "ts"]
    assert rs.rows == [
        ("1", "one", "1.5", "2024-01-02 03:04:05"),
        ("2", None, "-2.25", None),
    ]


def test_ok_packet_affected_and_last_insert_id(cli):
    cli.query("CREATE TABLE wt2 (i BIGINT PRIMARY KEY AUTO_INCREMENT, "
              "s VARCHAR(10))")
    ok = cli.query("INSERT INTO wt2 (s) VALUES ('a'), ('b')")
    assert isinstance(ok, OkStatus)
    assert ok.affected == 2
    assert ok.last_insert_id >= 1
    rs = cli.query("SELECT COUNT(*) AS n FROM wt2")
    assert rs.rows == [("2",)]
    cli.query("DROP TABLE wt2")


def test_error_packet_has_errno_and_sqlstate(cli):
    with pytest.raises(MySQLClientError) as ei:
        cli.query("SELECT * FROM no_such_table_xyz")
    assert ei.value.errno >= 1000
    assert len(ei.value.sqlstate) == 5


def test_init_db_and_unknown_db(cli):
    cli.query("CREATE DATABASE IF NOT EXISTS wiredb")
    cli.select_db("wiredb")
    cli.query("CREATE TABLE wdt (x BIGINT)")
    cli.query("INSERT INTO wdt VALUES (42)")
    assert cli.query("SELECT x FROM wdt").rows == [("42",)]
    cli.select_db("mydb")
    with pytest.raises(MySQLClientError) as ei:
        cli.select_db("definitely_missing_db")
    assert ei.value.errno > 0


def test_connect_with_database(srv):
    c = Client(srv.host, srv.port, database="mydb")
    try:
        assert c.query("SELECT 1 + 1 AS two").rows == [("2",)]
    finally:
        c.close()


def test_concurrent_connections(srv):
    errs: list = []

    def worker(k: int):
        try:
            c = Client(srv.host, srv.port)
            got = c.query(f"SELECT {k} * 10 AS v").rows
            assert got == [(str(k * 10),)]
            c.close()
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=worker, args=(k,))
               for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not errs


def test_mysql_functions_over_wire(cli):
    rs = cli.query("SELECT CONCAT('a', 'b') AS c, IFNULL(NULL, 7) AS n, "
                   "JSON_EXTRACT('{\"k\": 3}', '$.k') AS j")
    assert rs.rows == [("ab", "7", "3")]


def test_session_isolation_between_connections(srv):
    """Two concurrent connections must never observe each other's
    session state (reference server/context.go:50 SessionManager:
    a sql.Session per connection)."""
    c1 = Client(srv.host, srv.port)
    c2 = Client(srv.host, srv.port)
    try:
        c1.query("CREATE DATABASE IF NOT EXISTS isodb")
        c1.query("SET @who = 'conn1'")
        c2.query("SET @who = 'conn2'")
        c1.select_db("isodb")
        # c2 still sees its own db and its own @who
        assert c2.query("SELECT DATABASE() AS d").rows == [("mydb",)]
        assert c2.query("SELECT @who AS w").rows == [("conn2",)]
        assert c1.query("SELECT DATABASE() AS d").rows == [("isodb",)]
        assert c1.query("SELECT @who AS w").rows == [("conn1",)]
        # per-connection LAST_INSERT_ID
        c1.select_db("mydb")
        c1.query("CREATE TABLE iso_t (i BIGINT PRIMARY KEY AUTO_INCREMENT,"
                 " v BIGINT)")
        c1.query("INSERT INTO iso_t (v) VALUES (1)")
        assert c2.query("SELECT LAST_INSERT_ID() AS l").rows == [("0",)]
        assert c1.query("SELECT LAST_INSERT_ID() AS l").rows == [("1",)]
        c1.query("DROP TABLE iso_t")
    finally:
        c1.close()
        c2.close()


def test_large_resultset_streams_without_collect(srv, cli, monkeypatch):
    """A result of more than one partition must stream partition-at-a-time
    (toLocalIterator), never through a full driver collect(): at most one
    result partition is held on the driver — the reference streams rows
    through a pull-based RowIter (server/handler.go:407)."""
    from pyspark.sql import DataFrame

    def _boom(self):
        raise AssertionError("wire server called DataFrame.collect()")

    monkeypatch.setattr(DataFrame, "collect", _boom)
    rs = cli.query(
        "SELECT x.id, x.id * 2 AS dbl FROM RANGE(120000) x")
    assert len(rs.rows) == 120000
    assert rs.rows[0] == ("0", "0")
    assert rs.rows[-1] == ("119999", "239998")


@pytest.mark.parametrize("sql, want_rows", [
    ("SELECT i, s FROM wt WHERE i = 1", [("1", "one")]),
    # a shuffle that AQE coalesces to one partition: the partition-count
    # probe runs its map stage, and collect() must reuse it
    ("SELECT x.id % 2 AS k, COUNT(*) AS n FROM RANGE(100) x "
     "GROUP BY x.id % 2", [("0", "50"), ("1", "50")]),
])
def test_one_partition_result_runs_as_many_jobs_as_collect(
        srv, cli, monkeypatch, request, sql, want_rows):
    """A one-partition wire result is fetched with the jobs of one
    collect(), not through a streamed iterator. Jobs are counted by job
    group: the server thread runs without one, the reference collect()
    inside its own."""
    from pyspark.sql import DataFrame

    eng = srv.engine
    sc = eng.spark.sparkContext
    tracker = sc.statusTracker()
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    assert eng.query(sql)._jdf.queryExecution().toRdd() \
        .getNumPartitions() == 1
    group = request.node.name
    sc.setJobGroup(group, group)
    try:
        eng.query(sql).collect()
    finally:
        sc._jsc.clearJobGroup()
    drain()
    want = len(tracker.getJobIdsForGroup(group))

    def _boom(self, *args, **kwargs):
        raise AssertionError("one-partition result streamed")

    monkeypatch.setattr(DataFrame, "toLocalIterator", _boom)
    before = set(tracker.getJobIdsForGroup(None))
    assert sorted(cli.query(sql).rows) == want_rows
    drain()
    got = len(set(tracker.getJobIdsForGroup(None)) - before)
    assert want >= 1
    assert got == want


def test_multi_statement_com_query(cli):
    """CLIENT_MULTI_STATEMENTS: several statements in one COM_QUERY
    packet, one result each, chained with SERVER_MORE_RESULTS_EXISTS
    (reference server/handler.go:337 ComMultiQuery)."""
    cli.query("CREATE TABLE mq (i BIGINT PRIMARY KEY, s VARCHAR(10))")
    results = cli.multi_query(
        "INSERT INTO mq VALUES (1, 'a'); "
        "INSERT INTO mq VALUES (2, 'b'); "
        "SELECT s FROM mq ORDER BY i")
    assert len(results) == 3
    assert isinstance(results[0], OkStatus) and results[0].affected == 1
    assert isinstance(results[1], OkStatus)
    assert results[2].rows == [("a",), ("b",)]
    # an error mid-chain terminates it with an ERR packet; statements
    # before the failure still applied (MySQL multi-statement semantics)
    cli.query("DELETE FROM mq")
    with pytest.raises(MySQLClientError):
        cli.multi_query(
            "INSERT INTO mq VALUES (3, 'c'); SELECT * FROM nope_missing")
    assert cli.query("SELECT COUNT(*) AS n FROM mq").rows == [("1",)]
    cli.query("DROP TABLE mq")


def test_multi_statement_error_packet(cli):
    with pytest.raises(MySQLClientError):
        # first statement already fails → single ERR
        cli.multi_query("SELECT * FROM missing_one; SELECT 1")


# -- binary prepared-statement protocol
# (reference server/handler.go:126 ComPrepare, :261 ComStmtExecute)


def test_stmt_prepare_execute_typed_params(cli):
    cli.query("CREATE TABLE ps (i BIGINT PRIMARY KEY, s VARCHAR(20), "
              "d DOUBLE, dt DATE)")
    ins = cli.prepare("INSERT INTO ps VALUES (?, ?, ?, ?)")
    assert ins.nparams == 4
    import datetime
    ok = cli.execute(ins, (1, "hello", 2.5, datetime.date(2024, 3, 4)))
    assert isinstance(ok, OkStatus) and ok.affected == 1
    ok = cli.execute(ins, (2, None, -1.25, None))
    assert ok.affected == 1
    sel = cli.prepare("SELECT i, s, d, dt FROM ps WHERE i = ?")
    rs = cli.execute(sel, (1,))
    assert rs.columns == ["i", "s", "d", "dt"]
    assert rs.rows == [(1, "hello", 2.5, datetime.date(2024, 3, 4))]
    rs = cli.execute(sel, (2,))
    assert rs.rows == [(2, None, -1.25, None)]
    # re-execute with new params, types already bound server-side
    rs = cli.execute(sel, (999,))
    assert rs.rows == []
    cli.stmt_close(sel)
    cli.stmt_close(ins)
    cli.query("DROP TABLE ps")


def test_stmt_execute_last_insert_id(cli):
    cli.query("CREATE TABLE psa (i BIGINT PRIMARY KEY AUTO_INCREMENT, "
              "v VARCHAR(10))")
    ins = cli.prepare("INSERT INTO psa (v) VALUES (?)")
    ok = cli.execute(ins, ("x",))
    assert ok.last_insert_id == 1
    ok = cli.execute(ins, ("y",))
    assert ok.last_insert_id == 2
    cli.query("DROP TABLE psa")


def test_stmt_binary_resultset_types(cli):
    """Binary rows round-trip ints, doubles, strings, dates, datetimes
    and NULLs with their native wire encodings."""
    sel = cli.prepare(
        "SELECT CAST(7 AS SIGNED) AS i, 1.5E0 AS d, 'txt' AS s, "
        "DATE '2020-05-06' AS dt, TIMESTAMP '2021-07-08 09:10:11' AS ts, "
        "NULL AS n")
    rs = cli.execute(sel, ())
    import datetime
    assert rs.rows == [(7, 1.5, "txt", datetime.date(2020, 5, 6),
                        datetime.datetime(2021, 7, 8, 9, 10, 11), None)]


def test_stmt_unknown_id_errors(cli):
    from go_mysql_server_spark.server.client import Prepared
    with pytest.raises(MySQLClientError) as ei:
        cli.execute(Prepared(99999, 0), ())
    assert ei.value.errno == 1243


# -- DB-API 2.0 (reference driver/driver.go)


@pytest.fixture(scope="module")
def conn(spark):
    cn = dbapi.connect(spark)
    cur = cn.cursor()
    cur.execute("CREATE TABLE dbt (i BIGINT PRIMARY KEY, s VARCHAR(20))")
    cur.execute("INSERT INTO dbt VALUES (1, 'x'), (2, 'y')")
    yield cn
    cn.close()


def test_dbapi_select_description_and_rows(conn):
    cur = conn.cursor()
    cur.execute("SELECT i, s FROM dbt ORDER BY i")
    assert [d[0] for d in cur.description] == ["i", "s"]
    assert cur.fetchall() == [(1, "x"), (2, "y")]
    assert cur.fetchone() is None


def test_dbapi_qmark_params(conn):
    cur = conn.cursor()
    cur.execute("SELECT s FROM dbt WHERE i = ? OR s = ?", (2, "it's"))
    assert cur.fetchall() == [("y",)]


def test_dbapi_named_params(conn):
    cur = conn.cursor()
    cur.execute("SELECT s FROM dbt WHERE i = :k", {"k": 1})
    assert cur.fetchall() == [("x",)]


def test_dbapi_exec_rowcount_and_lastrowid(conn):
    cur = conn.cursor()
    cur.execute("CREATE TABLE dbt2 (i BIGINT PRIMARY KEY AUTO_INCREMENT,"
                " v BIGINT)")
    cur.execute("INSERT INTO dbt2 (v) VALUES (?)", (5,))
    assert cur.rowcount == 1
    assert cur.lastrowid == 1
    cur.executemany("INSERT INTO dbt2 (v) VALUES (?)", [(6,), (7,)])
    assert cur.rowcount == 2
    cur.execute("SELECT COUNT(*) AS n FROM dbt2")
    assert cur.fetchone() == (3,)
    cur.execute("DROP TABLE dbt2")


def test_dbapi_error_maps_to_database_error(conn):
    with pytest.raises(dbapi.DatabaseError):
        conn.cursor().execute("SELECT * FROM missing_tbl_abc")


def test_dbapi_transaction_context(conn):
    cur = conn.cursor()
    cur.execute("CREATE TABLE dbt3 (i BIGINT PRIMARY KEY)")
    conn.begin()
    cur.execute("INSERT INTO dbt3 VALUES (1)")
    conn.rollback()
    cur.execute("SELECT COUNT(*) AS n FROM dbt3")
    assert cur.fetchone() == (0,)
    conn.begin()
    cur.execute("INSERT INTO dbt3 VALUES (2)")
    conn.commit()
    cur.execute("SELECT COUNT(*) AS n FROM dbt3")
    assert cur.fetchone() == (1,)
    cur.execute("DROP TABLE dbt3")


def test_load_data_local_infile_over_wire(cli, tmp_path):
    """LOAD DATA LOCAL INFILE through the real socket: the server answers
    with the 0xFB local-infile request, the client streams the file's
    bytes terminated by an empty packet, and the engine loads them via
    the regular LOAD DATA plan (reference server/handler.go local-infile
    callback; MySQL client protocol local-infile handshake)."""
    f = tmp_path / "li.tsv"
    f.write_text("1\talpha\n2\tbeta\n3\t\\N\n")
    cli.query("CREATE TABLE li_wire (a INT, b VARCHAR(20))")
    res = cli.query(f"LOAD DATA LOCAL INFILE '{f}' INTO TABLE li_wire")
    assert not hasattr(res, "rows")  # OK packet, not a resultset
    rs = cli.query("SELECT a, b FROM li_wire ORDER BY a")
    assert rs.rows == [("1", "alpha"), ("2", "beta"), ("3", None)]
    cli.query("DROP TABLE li_wire")

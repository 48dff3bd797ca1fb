"""Counted costs of start-up, loads, writes and the wire's reads: py4j round
trips and Spark jobs (`tests/counted.py`), pinned per statement class.

The counts are the driver's fixed cost per statement, which an embedding
application pays whatever the data. CHANGES.md records each class's count
before and after the change that set its pin. One shared session.
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pytest
from pyspark.errors import AnalysisException

from go_mysql_server_spark import dbapi
from go_mysql_server_spark.engine import Engine
from go_mysql_server_spark.server.server import _result_rows
from go_mysql_server_spark.session import tune_session
from go_mysql_server_spark.sources.tables import TABLES, footer_schema, load
from tests.conftest import SF_DIR
from tests.counted import counted

# ---- start-up ---------------------------------------------------------------


def test_engine_init_on_fresh_session(spark):
    """Engine() registers no function and runs no job: functions register
    when a statement first names them."""
    fresh = spark.newSession()
    with counted(fresh) as cost:
        Engine(fresh)
    assert cost.jobs == 0
    assert cost.round_trips <= 15  # 3,065 before functions registered lazily


class _HostConf:
    """A host session's conf: setting a `locked` key raises `error`."""

    def __init__(self, locked: set, error: Exception):
        self.locked, self.error, self.values = locked, error, {}

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        if key in self.locked:
            raise self.error
        self.values[key] = value


def _static_conf_error(spark) -> AnalysisException:
    """What Spark raises when a static conf is set."""
    with pytest.raises(AnalysisException) as raised:
        spark.conf.set("spark.sql.warehouse.dir", "/elsewhere")
    return raised.value


def test_tune_session_keeps_a_locked_conf(spark):
    """A conf the host session locks keeps the host's value; the others
    are set, on the first call and on the memoized ones."""
    conf = _HostConf({"spark.sql.shuffle.partitions",
                      "spark.sql.session.timeZone"}, _static_conf_error(spark))
    host = SimpleNamespace(conf=conf)
    for _ in range(2):
        assert tune_session(host) is host
    assert "spark.sql.shuffle.partitions" not in conf.values
    assert conf.values["spark.sql.ansi.enabled"] == "false"
    assert conf.values["spark.gms.tuned"] == "1"


def test_tune_session_raises_other_failures(spark):
    """Only a locked conf is passed over: any other failure of a set
    surfaces."""
    with pytest.raises(AnalysisException) as unresolved:
        spark.sql("SELECT no_such_column")
    for error in (RuntimeError("gateway gone"), unresolved.value):
        host = SimpleNamespace(conf=_HostConf({"spark.sql.ansi.enabled"},
                                              error))
        with pytest.raises(type(error)):
            tune_session(host)


@pytest.mark.parametrize("table", TABLES)
def test_load_runs_no_job(spark, table):
    fresh = spark.newSession()  # load() memoizes per session
    with counted(fresh) as cost:
        load(fresh, SF_DIR, table)
    assert cost.jobs == 0


def _perfbench_dirs(tmp_path_factory) -> list[str]:
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..",
                                    "perfbench"))
    try:
        import datagen
    finally:
        sys.path.pop(0)
    root = str(tmp_path_factory.mktemp("perfbench_data"))
    return [datagen.ensure(root, scale) for scale in (0.01, 1.0)]


def test_footer_schema_is_the_inferred_schema(spark, tmp_path_factory):
    """The footer's schema is the one inference gives, for every testdata
    table at sf0.001 and at both benchmark scales: nanosecond timestamps
    (read as long), TimestampNTZ, arrays and nested types included."""
    for sf_dir in [SF_DIR, *_perfbench_dirs(tmp_path_factory)]:
        for table in TABLES:
            path = os.path.join(sf_dir, f"{table}.parquet")
            inferred = spark.read.parquet(path).schema
            assert footer_schema(spark, path) == inferred, path
            read = spark.read.schema(footer_schema(spark, path)).parquet(path)
            assert read.schema == inferred, path


# ---- the wire's DML set-up (perfbench/dml.py), through DB-API ---------------

_COLUMNS = "k, v, code, qty"


def _row(i: int) -> tuple:
    return (i, f"value-{i * 7919 % 1000:03d}", f"code-{i:06d}", i % 97)


def _values(rows: list[tuple]) -> str:
    return ", ".join(f"({k}, '{v}', '{c}', {q})" for k, v, c, q in rows)


@pytest.fixture(scope="module")
def app_kv(spark):
    """An engine with the wire's `app_kv` table, and a DB-API cursor."""
    eng = Engine(spark)
    return eng, dbapi.connect(engine=eng).cursor()


# (class, statement, parameters, round trips at most, jobs), in the order
# the set-up runs them. Round trips before the change that set these pins:
# 11, 1079, 879, 911, 603, 55 and 10.
_APP_KV = [
    ("create", "CREATE TABLE app_kv (k BIGINT PRIMARY KEY, v VARCHAR(32) "
     "NOT NULL, code VARCHAR(16) UNIQUE, qty BIGINT NOT NULL)", None, 16, 0),
    ("insert_20", f"INSERT INTO app_kv ({_COLUMNS}) VALUES "
     + _values([_row(i) for i in range(20)]), None, 82, 1),
    ("insert_one", f"INSERT INTO app_kv ({_COLUMNS}) VALUES (?, ?, ?, ?)",
     _row(20), 75, 2),
    ("insert_multi", f"INSERT INTO app_kv ({_COLUMNS}) VALUES "
     + _values([_row(i) for i in range(21, 24)]), None, 75, 2),
    ("update_pk", "UPDATE app_kv SET qty = qty + 1 WHERE k = ?", (3,), 46,
     2),
    ("delete_pk", "DELETE FROM app_kv WHERE k = ?", (4,), 25, 3),
    ("select_pk", f"SELECT {_COLUMNS} FROM app_kv WHERE k = ?", (5,), 10, 1),
]


@pytest.mark.parametrize("cls, sql, params, round_trips, jobs", _APP_KV,
                         ids=[c[0] for c in _APP_KV])
def test_app_kv_statement_cost(spark, app_kv, cls, sql, params,
                               round_trips, jobs):
    _, cur = app_kv
    with counted(spark) as cost:
        cur.execute(sql, params)
        if cls == "select_pk":
            assert cur.fetchall() == [_row(5)]
    assert cost.jobs == jobs
    assert cost.round_trips <= round_trips


def test_insert_probe_cost_does_not_grow_with_rows(spark, app_kv):
    """A VALUES INSERT probes the snapshot for its keys with one IN list
    of SQL text: 400 rows cost at most 20 more round trips than one."""
    eng, _ = app_kv
    costs = []
    for base, n in ((10_000, 1), (20_000, 400)):
        sql = (f"INSERT INTO app_kv ({_COLUMNS}) VALUES "
               + _values([_row(base + i) for i in range(n)]))
        with counted(spark) as cost:
            assert eng.query(sql).rows_affected == n
        costs.append(cost.round_trips)
    assert costs[1] - costs[0] <= 20, costs


# ---- the wire's reads (perfbench/wire.py) -----------------------------------

_WIRE = {
    "point_orders": "SELECT o_orderkey, o_custkey, o_orderstatus, "
    "o_totalprice, o_orderpriority FROM orders WHERE o_orderkey = 7",
    "point_lineitem": "SELECT l_orderkey, l_linenumber, l_quantity, "
    "l_extendedprice, l_returnflag FROM lineitem WHERE l_orderkey = 7 "
    "ORDER BY l_linenumber",
    "point_customer": "SELECT c_custkey, c_name, c_mktsegment, c_acctbal "
    "FROM customer WHERE c_custkey = 7",
    "group_small": "SELECT o_orderpriority, COUNT(*) AS n, "
    "ROUND(SUM(o_totalprice), 2) AS total FROM orders "
    "WHERE o_custkey BETWEEN 7 AND 57 GROUP BY o_orderpriority",
    "join_topn": "SELECT c.c_name, o.o_orderkey, o.o_totalprice "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "WHERE c.c_nationkey = 3 AND o.o_orderstatus = 'F' "
    "ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 10",
    "mysql_limit": "SELECT o_orderkey, o_totalprice FROM orders "
    "WHERE o_custkey = 7 ORDER BY o_orderkey LIMIT 1, 5",
    "mysql_date_format": "SELECT DATE_FORMAT(o_orderdate, '%Y-%m') AS ym, "
    "COUNT(*) AS n FROM orders WHERE o_custkey BETWEEN 7 AND 27 "
    "GROUP BY DATE_FORMAT(o_orderdate, '%Y-%m')",
    "mysql_if": "SELECT o_orderkey, IF(o_totalprice > 200000, 'big', "
    "'small') AS size FROM orders WHERE o_custkey = 7",
    "truthiness_retry": "SELECT o_orderkey, o_totalprice FROM orders "
    "WHERE o_totalprice AND o_custkey = 7",
    "rows_10k": "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
    "WHERE o_orderkey >= 100 AND o_orderkey < 10100",
    "app_kv": "SELECT k, v, qty FROM app_kv WHERE k = 5",
}


# the result's jobs, where not one
_WIRE_JOBS = {"point_lineitem": 3, "group_small": 2, "join_topn": 2,
              "mysql_date_format": 2}


@pytest.mark.parametrize("cls", list(_WIRE))
def test_wire_select_cost(spark, app_kv, cls):
    """Analysis is one round trip (the truthiness retry twelve: its first
    refusal is read, rewritten and analyzed again); the result, ten."""
    eng, _ = app_kv
    for table in ("orders", "lineitem", "customer"):
        load(spark, SF_DIR, table).createOrReplaceTempView(table)
    eng.query(_WIRE[cls])  # the first analysis compiles what later reuse
    with counted(spark) as analysis:
        df = eng.query(_WIRE[cls])
    with counted(spark) as result:
        list(_result_rows(df))
    assert analysis.jobs == 0
    assert analysis.round_trips == (12 if cls == "truthiness_retry" else 1)
    assert result.round_trips == 10
    assert result.jobs == _WIRE_JOBS.get(cls, 1)

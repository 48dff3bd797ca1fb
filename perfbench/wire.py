"""sql_read_wire: a seeded mix of short MySQL-dialect SELECTs sent by
`server.client.Client` to an in-process `MySQLServer`.

Closed loop over two connections, so the server's statement lock is
contended (one connection in traced runs, so that the server thread's jobs
can be told apart). Loads `server/`, the SELECT path of `engine.py`,
`dialect/` and Spark; uses no registry builder.

Set-up writes `app_kv` through DB-API with a seeded DML script (dml.py):
the engine's INSERT/UPDATE/DELETE and `dbapi` are measured there, and
their cost shows in `setup_s`, and in the wire's `app_kv` point lookups
through the partitions the writes leave.

Parquet-backed statements are checked against DuckDB over the same files
after the timed window; `app_kv` reads against the DML script's model.
"""

from __future__ import annotations

import random
import threading

import common
import dml
from check import rows_problems

PER_CLASS = 6       # distinct statements per class in a run
TABLES = ("orders", "lineitem", "customer")

# Statement classes and how many of each one block of 20 holds. Every block
# has the same make-up, shuffled by the seed, so seeds change parameters and
# order but not the mix. Point lookups dominate, as in an embedding app.
# An `app_kv` lookup pays one Spark job per partition the set-up's DML left
# (~13, so ~3x a parquet point lookup); with the retried statements they
# are a fifth of the mix, which keeps the median among the cheap classes
# instead of in the gap between the two groups.
BLOCK = (
    ("point_orders", 3), ("point_lineitem", 2), ("point_customer", 3),
    ("group_small", 2), ("join_topn", 1), ("mysql_limit", 2),
    ("mysql_date_format", 1), ("mysql_if", 1), ("truthiness_retry", 2),
    ("rows_10k", 1), ("app_kv", 2),
)


def _statement(cls: str, rng: random.Random, scale: float,
               kv_keys: list[int]):
    """(MySQL text, DuckDB text or None, app_kv key or None)."""
    n_orders, n_cust = int(150_000 * scale), int(15_000 * scale)
    cust = rng.randrange(n_cust)
    if cls == "point_orders":
        k = rng.randrange(n_orders)
        sql = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
               f"o_orderpriority FROM orders WHERE o_orderkey = {k}")
        return sql, sql, None
    if cls == "point_lineitem":
        k = rng.randrange(n_orders)
        sql = ("SELECT l_orderkey, l_linenumber, l_quantity, "
               "l_extendedprice, l_returnflag FROM lineitem "
               f"WHERE l_orderkey = {k} ORDER BY l_linenumber")
        return sql, sql, None
    if cls == "point_customer":
        sql = ("SELECT c_custkey, c_name, c_mktsegment, c_acctbal "
               f"FROM customer WHERE c_custkey = {cust}")
        return sql, sql, None
    if cls == "group_small":
        sql = ("SELECT o_orderpriority, COUNT(*) AS n, "
               "ROUND(SUM(o_totalprice), 2) AS total FROM orders "
               f"WHERE o_custkey BETWEEN {cust} AND {cust + 50} "
               "GROUP BY o_orderpriority")
        return sql, sql, None
    if cls == "join_topn":
        nation = rng.randrange(25)
        sql = ("SELECT c.c_name, o.o_orderkey, o.o_totalprice "
               "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
               f"WHERE c.c_nationkey = {nation} AND o.o_orderstatus = 'F' "
               "ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 10")
        return sql, sql, None
    if cls == "mysql_limit":
        off = rng.randrange(3)
        base = ("SELECT o_orderkey, o_totalprice FROM orders "
                f"WHERE o_custkey = {cust} ORDER BY o_orderkey")
        return f"{base} LIMIT {off}, 5", f"{base} LIMIT 5 OFFSET {off}", None
    if cls == "mysql_date_format":
        where = f"WHERE o_custkey BETWEEN {cust} AND {cust + 20}"
        return (f"SELECT DATE_FORMAT(o_orderdate, '%Y-%m') AS ym, "
                f"COUNT(*) AS n FROM orders {where} "
                "GROUP BY DATE_FORMAT(o_orderdate, '%Y-%m')",
                f"SELECT strftime(o_orderdate, '%Y-%m') AS ym, "
                f"COUNT(*) AS n FROM orders {where} "
                "GROUP BY strftime(o_orderdate, '%Y-%m')", None)
    if cls == "mysql_if":
        cut = rng.randrange(100_000, 400_000)
        tail = f"FROM orders WHERE o_custkey = {cust}"
        return (f"SELECT o_orderkey, IF(o_totalprice > {cut}, 'big', "
                f"'small') AS size {tail}",
                f"SELECT o_orderkey, CASE WHEN o_totalprice > {cut} "
                f"THEN 'big' ELSE 'small' END AS size {tail}", None)
    if cls == "truthiness_retry":
        cols = "SELECT o_orderkey, o_totalprice FROM orders"
        return (f"{cols} WHERE o_totalprice AND o_custkey = {cust}",
                f"{cols} WHERE o_totalprice <> 0 AND o_custkey = {cust}",
                None)
    if cls == "rows_10k":
        k = rng.randrange(max(1, n_orders - 10_000))
        sql = ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
               f"WHERE o_orderkey >= {k} AND o_orderkey < {k + 10_000}")
        return sql, sql, None
    k = rng.choice(kv_keys)
    return (f"SELECT {dml.WIRE_COLUMNS} FROM {dml.TABLE} WHERE k = {k}",
            None, k)


def generate(seed: int, scale: float,
             kv_keys: list[int]) -> tuple[list[tuple], list[int]]:
    """A pool of distinct statements, and the seeded order to send them;
    `app_kv` lookups pick among `kv_keys`."""
    rng = random.Random(seed)
    pool, by_class = [], {}
    for cls, _ in BLOCK:
        texts: set[str] = set()
        for _ in range(50 * PER_CLASS):  # small scales have fewer keys
            stmt = _statement(cls, rng, scale, kv_keys)
            if stmt[0] not in texts:
                texts.add(stmt[0])
                by_class.setdefault(cls, []).append(len(pool))
                pool.append((cls, *stmt))
            if len(texts) == PER_CLASS:
                break
    slots = [cls for cls, n in BLOCK for _ in range(n)]
    order = []
    for _ in range(1000):
        rng.shuffle(slots)
        order += [rng.choice(by_class[cls]) for cls in slots]
    return pool, order


class Wire:
    name = "sql_read_wire"
    SCALE = 1.0  # sf0.1

    def __init__(self, data_dir: str, seed: int, scale: float,
                 tracer: common.Tracer):
        self.data_dir, self.scale, self.tracer = data_dir, scale, tracer
        self.app_kv = dml.AppKvWriter(seed, tracer)
        self.pool, self.order = generate(seed, scale,
                                         sorted(self.app_kv.model))
        self.connections = 1 if tracer.enabled else 2
        self.ops: list[dict] = []
        self.results: list[tuple[dict, int, list]] = []
        self.layer: dict[str, list[float]] = {}
        self.excluded_s = 0.0
        self.server = None
        self.clients: list = []

    def setup(self, spark) -> dict[str, float]:
        from go_mysql_server_spark.engine import Engine
        from go_mysql_server_spark.server import Client, MySQLServer
        from go_mysql_server_spark.sources.tables import load

        self.spark = spark
        self.counter = common.JobCounter(spark)
        t0 = common.now()
        self.engine = Engine(spark)
        init_ms = common.ms(t0, common.now())
        for table in TABLES:
            load(spark, self.data_dir, table).createOrReplaceTempView(table)
        self.app_kv.write(self.engine, self.counter)
        self.layer.update(self.app_kv.layer)  # no key the ops record
        self.server = MySQLServer(self.engine, port=0).start()
        self.clients = [Client(self.server.host, self.server.port)
                        for _ in range(self.connections)]
        return {"engine.init_ms": init_ms}

    def teardown(self) -> None:
        for c in self.clients:
            c.close()
        if self.server is not None:
            self.server.close()
        self.clients, self.server = [], None

    def _add(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def _traced_extras(self, op: int, sql: str, roundtrip_ms: float) -> None:
        """Re-run the statement on the engine directly, split by layer."""
        from go_mysql_server_spark.dialect.transpiler import transpile_select

        tr, jc = self.tracer, self.counter
        with tr.span("dialect.transpile", op) as sp:
            spark_sql = transpile_select(sql)
        self._add("dialect.transpile_ms", sp.ms)
        try:
            self.spark.sql(spark_sql)
            retried = 0
        except Exception:  # noqa: BLE001 — analysis failure means a retry
            retried = 1
        self._add("engine.retry_ratio", retried)
        with tr.span("engine.query", op) as sp:
            df = self.engine.query(sql)
        query_ms = sp.ms
        self._add("engine.query_ms", query_ms)
        with tr.span("exec.plan", op) as sp:
            common.executed_plan(df)
        self._add("exec.plan_ms", sp.ms)
        with tr.span("exec.run", op) as sp:
            group = jc.new_group("exec")
            common.noop_run(df)
        run_ms = sp.ms
        self._add("exec.run_ms", run_ms)
        for k, v in jc.stats(jc.jobs(group)).items():
            self._add(f"exec.{k}", v)
        with tr.span("engine.collect", op) as sp:
            jc.new_group("sink")
            rows = df.collect()
        self._add("engine.collect_ms", sp.ms)
        self._add("sink.collect_ms", sp.ms - run_ms)
        self._add("sink.rows", len(rows))
        self._add("server.overhead_ms", roundtrip_ms - query_ms - sp.ms)

    def _client_loop(self, client, next_index, deadline: float) -> None:
        while common.now() < deadline:
            i = next_index()
            cls, sql, _, _ = self.pool[self.order[i % len(self.order)]]
            op = i
            if not self.tracer.enabled:
                t0 = common.now()
                res = client.query(sql)
                t1 = common.now()
            else:
                jc = self.counter
                before = jc.ungrouped_jobs()
                t0 = common.now()
                with self.tracer.span("server.roundtrip", op):
                    res = client.query(sql)
                t1 = common.now()
                self._add("server.roundtrip_ms", common.ms(t0, t1))
                self._add("server.jobs_per_stmt",
                          len(jc.ungrouped_jobs() - before))
                self._traced_extras(op, sql, common.ms(t0, t1))
            record = {"cls": cls, "kind": "read", "ok": True,
                      "ms": common.ms(t0, t1),
                      "wall_ms": common.ms(t0, common.now())}
            self.ops.append(record)
            self.results.append((record, self.order[i % len(self.order)],
                                 res.rows))

    def run(self, seconds: float) -> None:
        lock = threading.Lock()
        counter = iter(range(10**9))

        def next_index() -> int:
            with lock:
                return next(counter)

        deadline = common.now() + seconds
        threads = [threading.Thread(target=self._client_loop,
                                    args=(c, next_index, deadline))
                   for c in self.clients[1:]]
        for t in threads:
            t.start()
        self._client_loop(self.clients[0], next_index, deadline)
        for t in threads:
            t.join()

    def check(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        con.execute("PRAGMA threads=2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.data_dir}/{t}.parquet'")
        expected: dict[int, list] = {}
        failures = []
        for record, idx, rows in self.results:
            cls, sql, duck_sql, kv = self.pool[idx]
            if idx not in expected:
                expected[idx] = (con.sql(duck_sql).fetchall() if duck_sql
                                 else [dml.wire_row(self.app_kv.model, kv)])
            problems = rows_problems(expected[idx], rows)
            if problems:
                record["ok"] = False
                failures.append(f"{cls} {sql!r}: {problems[0]}")
        con.close()
        self.results = []
        return failures + self.app_kv.failures

    def extra_metrics(self) -> dict[str, tuple[float, str, int]]:
        return self.app_kv.extra_metrics()

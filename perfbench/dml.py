"""The DML part of sql_read_wire's set-up: `app_kv` is created and written
through `dbapi.connect(engine=...)`, and the wire then reads it back.

The script has one fixed shape — a preload, single-row and multi-row
INSERTs, UPDATE and DELETE by primary key, and read-after-write SELECTs,
in one fixed order — and the seed picks its keys. Snapshot-rewrite DML
adds partitions to the table, and every later read pays for them, so the
fixed shape keeps runs comparable. Every `rowcount` and every read is
checked against an in-memory model of the table; the wire's `app_kv`
statements are checked against the same model. This part bypasses
`server/` and `plans/`.
"""

from __future__ import annotations

import random

import common

TABLE = "app_kv"
PRELOAD = 20            # rows, one multi-row INSERT
# statements after the preload, by class, in one fixed order: a read's cost
# grows with the writes before it, so the seed picks keys but not positions
SCRIPT = (("insert_one", 2), ("insert_multi", 1), ("update_pk", 1),
          ("delete_pk", 1), ("select_pk", 3))
COLUMNS = "k, v, code, qty"
WIRE_COLUMNS = "k, v, qty"  # what the wire's point lookups select


def _row(i: int) -> tuple:
    return (i, f"value-{i * 7919 % 1000:03d}", f"code-{i:06d}", i % 97)


def _values(rows: list[tuple]) -> str:
    return ", ".join(f"({k}, '{v}', '{c}', {q})" for k, v, c, q in rows)


def script(seed: int) -> tuple[list[tuple], dict[int, tuple]]:
    """The DML statements as (class, SQL text, params, expectation), and
    the model of the table after them; every statement succeeds."""
    rng = random.Random(f"{TABLE}-{seed}")
    model = {r[0]: r for r in map(_row, range(PRELOAD))}
    next_k = PRELOAD
    written: list[int] = []
    ops = []
    slots = [cls for cls, n in SCRIPT for _ in range(n)]
    random.Random(0).shuffle(slots)
    for cls in slots:
        if cls == "insert_one":
            row = _row(next_k)
            next_k += 1
            model[row[0]] = row
            written.append(row[0])
            ops.append((cls, f"INSERT INTO {TABLE} ({COLUMNS}) "
                        "VALUES (?, ?, ?, ?)", row, 1))
        elif cls == "insert_multi":
            rows = [_row(next_k + j) for j in range(3)]
            next_k += 3
            for row in rows:
                model[row[0]] = row
                written.append(row[0])
            ops.append((cls, f"INSERT INTO {TABLE} ({COLUMNS}) VALUES "
                        + _values(rows), None, 3))
        elif cls == "update_pk":
            key = rng.choice(sorted(model))
            k, v, c, q = model[key]
            model[key] = (k, v, c, q + 1)
            written.append(key)
            ops.append((cls, f"UPDATE {TABLE} SET qty = qty + 1 WHERE k = ?",
                        (key,), 1))
        elif cls == "delete_pk":
            key = rng.choice(sorted(model))
            del model[key]
            ops.append((cls, f"DELETE FROM {TABLE} WHERE k = ?", (key,), 1))
        else:
            # read-after-write: mostly rows this script touched
            pick = written if written and rng.random() < 0.8 else sorted(model)
            key = rng.choice(pick)
            want = [model[key]] if key in model else []
            ops.append((cls, f"SELECT {COLUMNS} FROM {TABLE} WHERE k = ?",
                        (key,), want))
    return ops, model


def wire_row(model: dict[int, tuple], key: int) -> tuple:
    k, v, _, q = model[key]
    return (k, v, q)


class AppKvWriter:
    """Runs the script once through DB-API. `stmts` holds each statement's
    class, kind and latency; with tracing on, `layer` holds the engine's
    DML times, jobs per statement, the table's partitions and the DB-API
    overhead of the reads."""

    def __init__(self, seed: int, tracer: common.Tracer):
        self.tracer = tracer
        self.ops, self.model = script(seed)
        self.stmts: list[dict] = []
        self.layer: dict[str, list[float]] = {}
        self.failures: list[str] = []

    def _add(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def write(self, engine, counter: common.JobCounter) -> None:
        from go_mysql_server_spark import dbapi

        self.engine, self.counter = engine, counter
        cur = self.cursor = dbapi.connect(engine=engine).cursor()
        cur.execute(f"CREATE TABLE {TABLE} (k BIGINT PRIMARY KEY, "
                    "v VARCHAR(32) NOT NULL, code VARCHAR(16) UNIQUE, "
                    "qty BIGINT NOT NULL)")
        cur.execute(f"INSERT INTO {TABLE} ({COLUMNS}) VALUES "
                    + _values([_row(i) for i in range(PRELOAD)]))
        for n, (cls, sql, params, want) in enumerate(self.ops):
            latency = self._execute(n, cls, sql, params)
            if cls == "select_pk":
                got = [tuple(r) for r in cur.fetchall()]
            else:
                got = cur.rowcount
            if got != want:
                self.failures.append(f"{cls} {sql!r} {params}: got {got!r}, "
                                     f"want {want!r}")
            self.stmts.append({"cls": cls, "ms": latency,
                               "kind": "read" if cls == "select_pk"
                               else "write"})
        if self.tracer.enabled:
            parts = engine.query(f"SELECT * FROM {TABLE}")
            self._add("engine.table_partitions",
                      parts.rdd.getNumPartitions())

    def _execute(self, n: int, cls: str, sql: str, params) -> float:
        op = f"{TABLE}-{n}"
        if not self.tracer.enabled:
            t0 = common.now()
            self.cursor.execute(sql, params)
            return common.ms(t0, common.now())
        tr, jc = self.tracer, self.counter
        group = jc.new_group("dml")
        with tr.span("dbapi.execute", op) as sp:
            self.cursor.execute(sql, params)
        if cls == "select_pk":
            self._traced_read(op, sql, params, sp.ms)
        else:
            self._add(f"engine.{cls.split('_')[0]}_ms", sp.ms)
            self._add("engine.dml_jobs_per_stmt", len(jc.jobs(group)))
        return sp.ms

    def _traced_read(self, op: str, sql: str, params, execute_ms: float):
        """Re-run a read on the engine directly: what DB-API adds to it."""
        bound = sql.replace("?", str(params[0]))  # the key is an int
        with self.tracer.span("engine.query", op) as sp:
            df = self.engine.query(bound)
        query_ms = sp.ms
        with self.tracer.span("engine.collect", op) as sp:
            df.collect()
        self._add("dbapi.overhead_ms", execute_ms - query_ms - sp.ms)

    def extra_metrics(self) -> dict[str, tuple[float, str, int]]:
        writes = [s["ms"] for s in self.stmts if s["kind"] == "write"]
        reads = [s["ms"] for s in self.stmts if s["kind"] == "read"]
        return {"write_p50_ms": (common.percentile(writes, 50), "ms",
                                 len(writes)),
                "write_p90_ms": (common.percentile(writes, 90), "ms",
                                 len(writes)),
                "read_p50_ms": (common.percentile(reads, 50), "ms",
                                len(reads))}

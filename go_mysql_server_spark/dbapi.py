"""DB-API 2.0 embedding surface over the Engine.

The reference ships a database/sql driver so Go programs embed the
engine behind the standard database API (reference driver/driver.go:83
OpenConnector, driver/conn.go QueryContext/ExecContext); this is the
Python-standard equivalent (PEP 249): `connect(spark)` → Connection →
Cursor with execute/fetchmany/description/rowcount, qmark + named
paramstyles, context-manager transactions. Each Connection owns one
engine Session, as each database/sql conn owns one sql.Session.
"""

from __future__ import annotations

from .engine import Engine, OkResult, SqlError

apilevel = "2.0"
threadsafety = 1  # threads may share the module, not connections
paramstyle = "qmark"


class Error(Exception):
    pass


class DatabaseError(Error):
    def __init__(self, msg: str, errno: int = 1105,
                 sqlstate: str = "HY000"):
        super().__init__(msg)
        self.errno, self.sqlstate = errno, sqlstate


class InterfaceError(Error):
    pass


def connect(spark=None, database: str = "mydb",
            engine: Engine | None = None) -> "Connection":
    """Open a connection over an existing SparkSession (or an existing
    Engine — the driver/conn.go pattern of many conns on one engine)."""
    if engine is None:
        if spark is None:
            raise InterfaceError("connect() needs spark= or engine=")
        engine = Engine(spark, default_db=database)
    return Connection(engine)


def _render_param(v) -> str:
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return "'%s'" % str(v)
    if isinstance(v, (bytes, bytearray)):
        return "x'%s'" % bytes(v).hex()
    return "'%s'" % str(v).replace("\\", "\\\\").replace("'", "''")


def _bind(sql: str, params) -> str:
    """qmark (?) and named (:name / %(name)s) binding, literal-safely."""
    from .dialect.transpiler import mask_literals, unmask_literals

    if params is None:
        return sql
    masked, lits = mask_literals(sql)
    if isinstance(params, dict):
        for k, v in params.items():
            masked = masked.replace(f":{k}", _render_param(v))
            masked = masked.replace(f"%({k})s", _render_param(v))
    else:
        parts = masked.split("?")
        if len(parts) - 1 != len(params):
            raise InterfaceError(
                f"{len(parts) - 1} placeholders, {len(params)} params")
        masked = "".join(
            a + (_render_param(params[i]) if i < len(params) else "")
            for i, a in enumerate(parts))
    return unmask_literals(masked, lits)


class Connection:
    def __init__(self, engine: Engine):
        self._engine = engine
        self._session = engine.new_session()
        self._closed = False

    def cursor(self) -> "Cursor":
        if self._closed:
            raise InterfaceError("connection closed")
        return Cursor(self)

    def _exec(self, sql: str):
        try:
            return self._engine.query(sql, self._session)
        except SqlError as exc:
            raise DatabaseError(str(exc), exc.errno, exc.sqlstate) from exc
        except Exception as exc:  # noqa: BLE001 — Spark analyzer/runtime
            msg = str(exc)
            if "TABLE_OR_VIEW_NOT_FOUND" in msg:
                raise DatabaseError(msg[:300], 1146, "42S02") from exc
            raise DatabaseError(msg[:300]) from exc

    def commit(self) -> None:
        if self._session.in_txn:
            self._exec("COMMIT")

    def rollback(self) -> None:
        if self._session.in_txn:
            self._exec("ROLLBACK")

    def begin(self) -> None:
        self._exec("BEGIN")

    def close(self) -> None:
        self.rollback()
        self._closed = True

    def __enter__(self) -> "Connection":
        return self

    def __exit__(self, exc_type, *_):
        if exc_type is None:
            self.commit()
        else:
            self.rollback()


class Cursor:
    arraysize = 1

    def __init__(self, conn: Connection):
        self._conn = conn
        self.description = None
        self.rowcount = -1
        self.lastrowid = None
        self._rows: list[tuple] = []
        self._pos = 0

    def execute(self, sql: str, params=None) -> "Cursor":
        res = self._conn._exec(_bind(sql, params))
        self._pos = 0
        if isinstance(res, OkResult):
            self.description = None
            self._rows = []
            self.rowcount = res.rows_affected
            self.lastrowid = res.last_insert_id
        else:
            self.description = [
                (f.name, f.dataType.simpleString(), None, None, None,
                 None, f.nullable) for f in res.schema.fields]
            self._rows = [tuple(r) for r in res.collect()]
            self.rowcount = len(self._rows)
        return self

    def executemany(self, sql: str, seq_of_params) -> "Cursor":
        total = 0
        for params in seq_of_params:
            self.execute(sql, params)
            total += max(self.rowcount, 0)
        self.rowcount = total
        return self

    def fetchone(self):
        if self._pos >= len(self._rows):
            return None
        row = self._rows[self._pos]
        self._pos += 1
        return row

    def fetchmany(self, size: int | None = None):
        size = size or self.arraysize
        out = self._rows[self._pos:self._pos + size]
        self._pos += len(out)
        return out

    def fetchall(self):
        out = self._rows[self._pos:]
        self._pos = len(self._rows)
        return out

    def __iter__(self):
        while True:
            row = self.fetchone()
            if row is None:
                return
            yield row

    def close(self) -> None:
        self._rows = []

    def setinputsizes(self, sizes) -> None:  # noqa: D401 — PEP 249 no-op
        pass

    def setoutputsize(self, size, column=None) -> None:
        pass

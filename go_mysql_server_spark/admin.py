"""Admin surface: users/grants/roles, events, indexes, ANALYZE, KILL, and
the long tail of SHOW variants.

Reference parity targets:
- users/grants/roles     → reference sql/plan/grant.go:1-723, ddl_user.go
- CREATE/ALTER/DROP EVENT → reference sql/plan/ddl_event.go:1-647,
  eventscheduler/event_scheduler.go. No background thread here: due events
  run synchronously at the next statement boundary (`run_due_events`),
  which is observable and deterministic — the honest single-process
  analogue of the reference's scheduler goroutine.
- ANALYZE TABLE [UPDATE HISTOGRAM] → reference sql/plan/analyze.go:1-90,
  sql/stats/. Statistics are computed with one distributed aggregation
  (count / approx ndv / min / max / null-count per column) and equi-height
  histograms via approxQuantile; stored on the TableState for SHOW and
  information_schema-style introspection.
- SHOW *                 → reference sql/plan/show_*.go (~20 nodes).
- KILL / FLUSH / LOCK    → reference sql/plan/kill.go, LockSubsystem;
  single-session acks.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


@dataclass
class IndexDef:
    name: str
    columns: tuple[str, ...]
    unique: bool = False
    kind: str = "BTREE"  # advisory; Spark scans + pushdown replace lookups


@dataclass
class UserEntry:
    user: str
    host: str = "%"
    password: str | None = None
    roles: list[str] = field(default_factory=list)


@dataclass
class EventDef:
    name: str
    body: str
    at_ts: float | None = None        # ON SCHEDULE AT — one shot
    every_secs: float | None = None   # ON SCHEDULE EVERY — recurring
    enabled: bool = True
    preserve: bool = False            # ON COMPLETION PRESERVE
    starts_ts: float | None = None    # EVERY ... STARTS
    ends_ts: float | None = None      # EVERY ... ENDS
    comment: str = ""
    db: str = ""                      # schema the body runs in
    last_run: float | None = None
    # LAST_EXECUTED bookkeeping (reference eventscheduler/event_executor.go
    # records execution times; surfaced by SHOW EVENTS)
    last_executed: float | None = None
    created: float = field(default_factory=time.time)


_INTERVAL_SECS = {
    "SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400, "WEEK": 604800,
    "MONTH": 2592000, "QUARTER": 7776000, "YEAR": 31536000,
}

# composite interval units: 'a:b[:c[:d]]' quoted values — per-part
# multipliers in order (reference sql/types/conversions for EVERY
# intervals; MySQL EVERY '1:2' MINUTE_SECOND = 62 seconds)
_COMPOSITE_UNITS = {
    "MINUTE_SECOND": (60, 1),
    "HOUR_SECOND": (3600, 60, 1),
    "HOUR_MINUTE": (3600, 60),
    "DAY_SECOND": (86400, 3600, 60, 1),
    "DAY_MINUTE": (86400, 3600, 60),
    "DAY_HOUR": (86400, 3600),
    "YEAR_MONTH": (31536000, 2592000),
    "SECOND_MICROSECOND": (1, 1e-6),
    "MINUTE_MICROSECOND": (60, 1, 1e-6),
    "HOUR_MICROSECOND": (3600, 60, 1, 1e-6),
    "DAY_MICROSECOND": (86400, 3600, 60, 1, 1e-6),
}


def _interval_secs(value: str, unit: str) -> float:
    """n SECOND / '1:2' MINUTE_SECOND → seconds."""
    from .engine import SqlError
    unit = unit.upper()
    value = value.strip().strip("'")
    if unit in _COMPOSITE_UNITS:
        mults = _COMPOSITE_UNITS[unit]
        parts = [p for p in re.split(r"[:. ]", value) if p != ""]
        if len(parts) > len(mults):
            raise SqlError(f"bad composite interval {value!r} for {unit}")
        # right-align: '2' MINUTE_SECOND means 2 seconds
        mults = mults[len(mults) - len(parts):]
        return sum(float(p) * m for p, m in zip(parts, mults))
    u = unit.rstrip("S")
    if u not in _INTERVAL_SECS:
        raise SqlError(f"unsupported interval unit {unit!r}")
    return float(value) * _INTERVAL_SECS[u]


def _parse_ts_expr(text: str) -> float:
    """Event timestamp expression: CURRENT_TIMESTAMP | 'literal'
    [ +/- INTERVAL v unit ]* — lenient literal parse (2-digit years,
    1-digit fields, trailing dot: '38-01-16 12:2:3.')."""
    import time as _time
    from .engine import SqlError
    text = text.strip()
    m = re.match(r"(CURRENT_TIMESTAMP(?:\s*\(\s*\))?|NOW\s*\(\s*\)"
                 r"|'[^']*')", text, re.I)
    if not m:
        raise SqlError(f"cannot parse event timestamp: {text[:40]!r}")
    head = m.group(1)
    if head.startswith("'"):
        lit = head.strip("'").strip()
        tm = re.match(r"(\d{1,4})-(\d{1,2})-(\d{1,2})"
                      r"(?:[ T](\d{1,2}):(\d{1,2})(?::(\d{1,2}))?)?", lit)
        if not tm:
            raise SqlError(f"invalid event timestamp literal {lit!r}")
        import datetime as _dt
        y = int(tm.group(1))
        if y < 70:
            y += 2000  # MySQL 2-digit year
        elif y < 100:
            y += 1900
        base = _dt.datetime(y, int(tm.group(2)), int(tm.group(3)),
                            int(tm.group(4) or 0), int(tm.group(5) or 0),
                            int(tm.group(6) or 0)).timestamp()
    else:
        base = _time.time()
    for im in re.finditer(r"([+-])\s*INTERVAL\s+('[^']*'|[\d.]+)\s+(\w+)",
                          text[m.end():]):
        delta = _interval_secs(im.group(2), im.group(3))
        base += delta if im.group(1) == "+" else -delta
    return base


# ---- users / grants ---------------------------------------------------------

_USER_RE = re.compile(r"'?([\w.%-]+)'?(?:@'?([\w.%-]+)'?)?")


def _object_name(sql: str) -> str:
    """Object name from a SHOW CREATE <KIND> statement: strips a trailing
    ';' and an optional `db`. qualification (reuses Engine._split_name)."""
    from .engine import Engine
    tok = sql.strip().rstrip(";").split()[-1]
    _, name = Engine._split_name(tok)
    return name


def _parse_user(spec: str) -> tuple[str, str]:
    m = _USER_RE.match(spec.strip().strip("`"))
    return m.group(1), m.group(2) or "%"


def create_user(eng, sql: str):
    from .engine import OkResult, SqlError
    m = re.match(
        r"CREATE\s+USER\s+(IF\s+NOT\s+EXISTS\s+)?(\S+(?:@\S+)?)"
        r"(?:\s+IDENTIFIED\s+BY\s+'([^']*)')?", sql, re.I)
    if not m:
        raise SqlError(f"cannot parse CREATE USER: {sql[:60]!r}")
    user, host = _parse_user(m.group(2))
    key = f"{user}@{host}"
    if key in eng.users:
        if m.group(1):
            return OkResult(0)
        raise SqlError(f"user {key!r} exists")
    eng.users[key] = UserEntry(user, host, m.group(3))
    return OkResult(0)


def drop_user(eng, sql: str):
    from .engine import OkResult, SqlError
    m = re.match(r"DROP\s+USER\s+(IF\s+EXISTS\s+)?(\S+(?:@\S+)?)", sql, re.I)
    user, host = _parse_user(m.group(2))
    key = f"{user}@{host}"
    if key not in eng.users:
        if m.group(1):
            return OkResult(0)
        raise SqlError(f"unknown user {key!r}")
    del eng.users[key]
    eng.grants.pop(key, None)
    return OkResult(0)


def q_grant(eng, sql: str):
    from .engine import OkResult, SqlError
    m = re.match(r"GRANT\s+(.+?)\s+ON\s+(\S+)\s+TO\s+(\S+(?:@\S+)?)"
                 r"(\s+WITH\s+GRANT\s+OPTION)?", sql, re.I)
    if m:
        user, host = _parse_user(m.group(3))
        key = f"{user}@{host}"
        if key not in eng.users:
            raise SqlError(f"unknown user {key!r}")
        privs = tuple(p.strip().upper() for p in m.group(1).split(","))
        eng.grants.setdefault(key, []).append(
            (privs, m.group(2), bool(m.group(4))))
        return OkResult(0)
    # GRANT role TO user
    m = re.match(r"GRANT\s+(\S+)\s+TO\s+(\S+(?:@\S+)?)", sql, re.I)
    if m:
        user, host = _parse_user(m.group(2))
        key = f"{user}@{host}"
        if key not in eng.users:
            raise SqlError(f"unknown user {key!r}")
        eng.users[key].roles.append(m.group(1).strip("`'"))
        return OkResult(0)
    raise SqlError(f"cannot parse GRANT: {sql[:60]!r}")


def q_revoke(eng, sql: str):
    from .engine import OkResult, SqlError
    m = re.match(r"REVOKE\s+(.+?)\s+ON\s+(\S+)\s+FROM\s+(\S+(?:@\S+)?)", sql, re.I)
    if not m:
        raise SqlError(f"cannot parse REVOKE: {sql[:60]!r}")
    user, host = _parse_user(m.group(3))
    key = f"{user}@{host}"
    privs = tuple(p.strip().upper() for p in m.group(1).split(","))
    eng.grants[key] = [
        g for g in eng.grants.get(key, []) if not (g[0] == privs and g[1] == m.group(2))
    ]
    return OkResult(0)


def show_grants(eng, sql: str) -> DataFrame:
    m = re.search(r"FOR\s+(\S+(?:@\S+)?)", sql, re.I)
    if m:
        user, host = _parse_user(m.group(1))
        key = f"{user}@{host}"
    else:
        key = "root@localhost"
    rows = [(f"GRANT USAGE ON *.* TO `{key.split('@')[0]}`@`{key.split('@')[1]}`",)]
    for privs, target, grant_opt in eng.grants.get(key, []):
        suffix = " WITH GRANT OPTION" if grant_opt else ""
        rows.append((
            f"GRANT {', '.join(privs)} ON {target} TO "
            f"`{key.split('@')[0]}`@`{key.split('@')[1]}`{suffix}",))
    return eng.spark.createDataFrame(rows, f"`Grants for {key}` string")


# ---- events -----------------------------------------------------------------

_TS_EXPR = (r"(?:CURRENT_TIMESTAMP(?:\s*\(\s*\))?|NOW\s*\(\s*\)|'[^']*')"
            r"(?:\s*[+-]\s*INTERVAL\s+(?:'[^']*'|[\d.]+)\s+\w+)*")


def create_event(eng, sql: str):
    """CREATE EVENT: AT/EVERY schedules with composite interval units
    ('1:2' MINUTE_SECOND), STARTS/ENDS bounds, ON COMPLETION, ENABLE /
    DISABLE [ON SLAVE], COMMENT (reference sql/plan/create_event.go +
    eventscheduler/)."""
    from .engine import OkResult, SqlError
    m = re.match(
        r"CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?EVENT\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"[`]?(\w+)[`]?\s+ON\s+SCHEDULE\s+"
        rf"(AT\s+{_TS_EXPR}"
        rf"|EVERY\s+(?:'[^']*'|[\d.]+)\s+\w+"
        rf"(?:\s+STARTS\s+{_TS_EXPR})?(?:\s+ENDS\s+{_TS_EXPR})?)"
        r"(\s+ON\s+COMPLETION\s+(?:NOT\s+)?PRESERVE)?"
        r"(?:\s+(ENABLE|DISABLE(?:\s+ON\s+SLAVE)?))?"
        r"(?:\s+COMMENT\s+('(?:[^']|'')*'))?"
        r"\s+DO\s+(.*)$", sql, re.I | re.S)
    if not m:
        raise SqlError(f"cannot parse CREATE EVENT: {sql[:80]!r}")
    name = m.group(2)
    if name in eng.events:
        if m.group(1):
            return OkResult(0)
        raise SqlError(f"event {name!r} exists")
    ev = EventDef(name, m.group(7).strip(),
                  preserve=bool(m.group(4)) and "NOT" not in (m.group(4) or "").upper(),
                  enabled=(m.group(5) or "ENABLE").upper().startswith("ENABLE"),
                  comment=(m.group(6) or "''").strip("'"),
                  db=eng.session.current_db)
    _apply_schedule(ev, m.group(3))
    eng.events[name] = ev
    return OkResult(0)


def _apply_schedule(ev: EventDef, sched: str) -> None:
    ev.at_ts = ev.every_secs = ev.starts_ts = ev.ends_ts = None
    sm = re.match(r"EVERY\s+('[^']*'|[\d.]+)\s+(\w+)(.*)$", sched,
                  re.I | re.S)
    if sm:
        ev.every_secs = _interval_secs(sm.group(1), sm.group(2))
        rest = sm.group(3)
        stm = re.search(rf"\bSTARTS\s+({_TS_EXPR})", rest, re.I)
        if stm:
            ev.starts_ts = _parse_ts_expr(stm.group(1))
        enm = re.search(rf"\bENDS\s+({_TS_EXPR})", rest, re.I)
        if enm:
            ev.ends_ts = _parse_ts_expr(enm.group(1))
        base = ev.starts_ts if ev.starts_ts is not None else time.time()
        ev.last_run = max(base, time.time())  # first run one interval out
    else:
        am = re.match(rf"AT\s+({_TS_EXPR})", sched, re.I | re.S)
        ev.at_ts = _parse_ts_expr(am.group(1))


def _event_expired(ev: EventDef, now: float) -> bool:
    """One-shot whose AT has passed (and already ran / lies in the past
    at creation), or a recurring event past its ENDS bound."""
    if ev.ends_ts is not None and now >= ev.ends_ts:
        return True
    return ev.at_ts is not None and ev.at_ts < now and not ev.enabled


def alter_event(eng, sql: str):
    """ALTER EVENT: any combination of ON SCHEDULE, ON COMPLETION,
    RENAME TO, COMMENT, ENABLE/DISABLE, DO (reference
    sql/plan/alter_event.go). Re-enabling an expired event keeps it
    disabled (PRESERVE) or drops it (NOT PRESERVE) — MySQL scheduler
    semantics."""
    from .engine import OkResult, SqlError
    m = re.match(r"ALTER\s+(?:DEFINER\s*=\s*\S+\s+)?EVENT\s+"
                 r"[`]?(\w+)[`]?\s+(.*)$", sql, re.I | re.S)
    if not m:
        raise SqlError(f"cannot parse ALTER EVENT: {sql[:60]!r}")
    key = next((k for k in eng.events if k.lower() == m.group(1).lower()),
               None)
    if key is None:
        raise SqlError(f"unknown event {m.group(1)!r}")
    ev = eng.events[key]
    rest = m.group(2).strip().rstrip(";")
    now = time.time()
    sm = re.match(rf"ON\s+SCHEDULE\s+(AT\s+{_TS_EXPR}"
                  rf"|EVERY\s+(?:'[^']*'|[\d.]+)\s+\w+"
                  rf"(?:\s+STARTS\s+{_TS_EXPR})?(?:\s+ENDS\s+{_TS_EXPR})?)"
                  r"\s*(.*)$", rest, re.I | re.S)
    if sm:
        _apply_schedule(ev, sm.group(1))
        rest = sm.group(2).strip()
    cm = re.match(r"ON\s+COMPLETION\s+((?:NOT\s+)?PRESERVE)\s*(.*)$",
                  rest, re.I | re.S)
    if cm:
        ev.preserve = "NOT" not in cm.group(1).upper()
        rest = cm.group(2).strip()
    rm = re.match(r"RENAME\s+TO\s+[`]?(\w+)[`]?\s*(.*)$", rest,
                  re.I | re.S)
    if rm:
        new = rm.group(1)
        ev.name = new
        eng.events[new] = eng.events.pop(key)
        key = new
        rest = rm.group(2).strip()
    com = re.match(r"COMMENT\s+('(?:[^']|'')*')\s*(.*)$", rest,
                   re.I | re.S)
    if com:
        ev.comment = com.group(1).strip("'")
        rest = com.group(2).strip()
    em = re.match(r"(ENABLE|DISABLE(?:\s+ON\s+SLAVE)?)\s*(.*)$", rest,
                  re.I | re.S)
    if em:
        want = em.group(1).upper().startswith("ENABLE")
        if want and _event_expired(ev, now):
            _complete(eng, key, ev)  # expired: ENABLE does not revive it
            return OkResult(0)
        ev.enabled = want
        rest = em.group(2).strip()
    dm = re.match(r"DO\s+(.*)$", rest, re.I | re.S)
    if dm:
        ev.body = dm.group(1).strip()
        rest = ""
    if rest:
        raise SqlError(f"cannot parse/resolve ALTER EVENT: {rest[:60]!r}")
    return OkResult(0)


def drop_event(eng, sql: str):
    from .engine import OkResult, SqlError
    m = re.match(r"DROP\s+EVENT\s+(IF\s+EXISTS\s+)?[`]?(\w+)[`]?", sql, re.I)
    key = next((k for k in eng.events
                if k.lower() == m.group(2).lower()), None)
    if key is None and not m.group(1):
        raise SqlError(f"unknown event {m.group(2)!r}")
    eng.events.pop(key, None)
    return OkResult(0)


def _complete(eng, name: str, ev: EventDef) -> None:
    """ON COMPLETION: a finished event stays disabled (PRESERVE) or is
    dropped."""
    if ev.preserve:
        ev.enabled = False
    else:
        eng.events.pop(name, None)


def run_due_events(eng) -> None:
    """Execute due events at a statement boundary (the deterministic
    single-process analogue of the reference's scheduler goroutine) in
    the engine's event session, set to the event's own schema. As in
    MySQL, a failing body ends its run unseen by any client, and the run
    still counts: the event does not stay due."""
    if eng.session is eng.event_session or not eng.events:
        return
    now = time.time()
    from .procedures import split_statements
    for name in list(eng.events):
        ev = eng.events.get(name)
        if ev is None or not ev.enabled:
            continue
        if ev.ends_ts is not None and now >= ev.ends_ts:
            _complete(eng, name, ev)  # recurring event past its ENDS bound
            continue
        due = (ev.at_ts is not None and now >= ev.at_ts) or (
            ev.every_secs is not None
            and now >= (ev.last_run or 0) + ev.every_secs
            and (ev.starts_ts is None or now >= ev.starts_ts))
        if not due:
            continue
        eng.event_session.current_db = ev.db
        try:
            for stmt in split_statements(ev.body):
                if stmt.strip():
                    eng.query(stmt, session=eng.event_session)
        except Exception:  # noqa: BLE001 — as the scheduler thread does
            pass
        ev.last_executed = now
        if ev.at_ts is not None:  # one-shot
            _complete(eng, name, ev)
        else:
            ev.last_run = now


def set_event_scheduler(eng, enabled: bool) -> None:
    """SET GLOBAL event_scheduler = ON|OFF — background scheduler thread
    (the async analogue of the reference's eventscheduler goroutine,
    eventscheduler/event_scheduler.go; wired engine.go:722-729). OFF keeps
    the default deterministic statement-boundary execution. The thread
    takes the engine's statement lock, so event bodies serialize with user
    statements exactly like the reference's single applier."""
    import threading

    current = getattr(eng, "_event_scheduler", None)
    if enabled and current is None:
        stop = threading.Event()

        def loop() -> None:
            while not stop.wait(0.2):
                try:
                    with eng._stmt_lock:
                        run_due_events(eng)
                except Exception:  # noqa: BLE001 — scheduler must survive
                    pass

        th = threading.Thread(target=loop, daemon=True,
                              name="gms-event-scheduler")
        eng._event_scheduler = (th, stop)
        th.start()
    elif not enabled and current is not None:
        current[1].set()
        eng._event_scheduler = None


def show_events(eng) -> DataFrame:
    import datetime as _dt

    rows = []
    for ev in eng.events.values():
        kind = "ONE TIME" if ev.at_ts is not None else "RECURRING"
        last = (_dt.datetime.utcfromtimestamp(ev.last_executed)
                .strftime("%Y-%m-%d %H:%M:%S")
                if ev.last_executed is not None else None)
        rows.append((ev.db, ev.name, "root@localhost", kind,
                     "ENABLED" if ev.enabled else "DISABLED", last))
    schema = ("Db string, Name string, Definer string, Type string, "
              "Status string, Last_Executed string")
    return (eng.spark.createDataFrame(rows, schema) if rows
            else eng.spark.createDataFrame([], schema))


# ---- ANALYZE / statistics ---------------------------------------------------

def q_analyze(eng, sql: str):
    from .engine import SqlError
    m = re.match(
        r"ANALYZE\s+TABLE\s+([`\w.]+)"
        r"(?:\s+UPDATE\s+HISTOGRAM\s+ON\s+([\w`,\s]+?)(?:\s+WITH\s+(\d+)\s+BUCKETS)?)?\s*$",
        sql, re.I)
    if not m:
        raise SqlError(f"cannot parse ANALYZE: {sql[:60]!r}")
    ts = eng._table(m.group(1))
    if m.group(2):  # UPDATE HISTOGRAM
        cols = [c.strip().strip("`") for c in m.group(2).split(",")]
        buckets = int(m.group(3) or 10)
        rows = []
        for col in cols:
            qs = [i / buckets for i in range(buckets + 1)]
            try:
                bounds = ts.df.stat.approxQuantile(col, qs, 0.01)
            except Exception as exc:
                raise SqlError(f"cannot build histogram on {col!r}: {exc}")
            ts.histograms[col] = bounds  # equi-height bucket boundaries
            rows.append((ts.name, "histogram", "status",
                         f"Histogram statistics created for column '{col}'."))
        return eng.spark.createDataFrame(
            rows, "Table string, Op string, Msg_type string, Msg_text string")
    # plain ANALYZE: one aggregation pass for rowcount + per-column stats
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in ts.columns:
        aggs.append(F.approx_count_distinct(c.name).alias(f"__ndv_{c.name}"))
        aggs.append(F.sum(F.when(F.col(c.name).isNull(), 1).otherwise(0))
                    .alias(f"__nulls_{c.name}"))
    row = ts.df.agg(*aggs).first()
    ts.stats = {"rows": row["__n"]}
    for c in ts.columns:
        ts.stats[c.name] = {"ndv": row[f"__ndv_{c.name}"],
                            "nulls": row[f"__nulls_{c.name}"]}
    return eng.spark.createDataFrame(
        [(ts.name, "analyze", "status", "OK")],
        "Table string, Op string, Msg_type string, Msg_text string")


# ---- indexes ----------------------------------------------------------------

def create_index(eng, sql: str):
    """CREATE [UNIQUE|FULLTEXT|SPATIAL] INDEX binds the index element ALTER
    TABLE ADD INDEX binds. A FULLTEXT index is materialized now and kept
    through DML (reference sql/fulltext/fulltext.go); the others are
    bookkeeping, as Spark pushdown/pruning replace index lookups."""
    from .engine import OkResult, SqlError
    m = re.match(r"CREATE\s+(?:(UNIQUE|FULLTEXT|SPATIAL)\s+)?INDEX\s+"
                 r"(?:IF\s+NOT\s+EXISTS\s+)?([`]?\w+[`]?)\s*"
                 r"(?:USING\s+\w+\s*)?ON\s+([`\w.]+)\s*(\(.*)$",
                 sql, re.I | re.S)
    if not m:
        raise SqlError(f"cannot parse CREATE INDEX: {sql[:60]!r}")
    kind = (m.group(1) or "").upper()
    ts = eng._table(m.group(3))
    eng._record(ts)
    eng._add_element(ts, f"{kind} INDEX {m.group(2)} {m.group(4)}".strip())
    return OkResult(0, info="fulltext index materialized"
                    if kind == "FULLTEXT" else "index recorded (advisory)")


def drop_index(eng, sql: str):
    from .engine import OkResult
    m = re.match(r"DROP\s+INDEX\s+[`]?(\w+)[`]?\s+ON\s+([`\w.]+)", sql, re.I)
    if m:
        ts = eng._table(m.group(2))
        eng._record(ts)
        eng._drop_index(ts, m.group(1))
    return OkResult(0)


def show_index(eng, sql: str) -> DataFrame:
    from .engine import SqlError
    m = re.search(r"(?:FROM|IN)\s+([`\w.]+)", sql, re.I)
    if not m:
        raise SqlError("SHOW INDEX needs FROM <table>")
    schema = ("Table string, Non_unique int, Key_name string, "
              "Seq_in_index int, Column_name string, Index_type string")
    try:
        ts = eng._table(m.group(1))
    except SqlError:
        # a VIEW has no indexes — SHOW KEYS/INDEX returns empty
        _, vname = eng._split_name(m.group(1))
        if eng.spark.catalog.tableExists(vname):
            return eng.spark.createDataFrame([], schema)
        raise
    rows = []
    for seq, col in enumerate(ts.primary_key, 1):
        rows.append((ts.name, 0, "PRIMARY", seq, col, "BTREE"))
    for ix in ts.indexes:
        for seq, col in enumerate(ix.columns, 1):
            rows.append((ts.name, 0 if ix.unique else 1, ix.name, seq, col, ix.kind))
    return eng.spark.createDataFrame(rows, schema) if rows else \
        eng.spark.createDataFrame([], schema)


# ---- misc SHOW --------------------------------------------------------------

_CHARSETS = [
    ("utf8mb4", "UTF-8 Unicode", "utf8mb4_0900_ai_ci", 4),
    ("latin1", "cp1252 West European", "latin1_swedish_ci", 1),
    ("binary", "Binary pseudo charset", "binary", 1),
    ("ascii", "US ASCII", "ascii_general_ci", 1),
]

_COLLATIONS = [
    ("utf8mb4_0900_ai_ci", "utf8mb4", 255, "Yes"),
    ("utf8mb4_bin", "utf8mb4", 46, ""),
    ("utf8mb4_general_ci", "utf8mb4", 45, ""),
    ("latin1_swedish_ci", "latin1", 8, "Yes"),
    ("binary", "binary", 63, "Yes"),
]


def show_misc(eng, sql: str) -> DataFrame | None:
    """The stateless SHOW variants; returns None if not handled."""
    up = sql.upper()
    sp = eng.spark
    if up.startswith(("SHOW CHARSET", "SHOW CHARACTER SET")):
        return sp.createDataFrame(
            _CHARSETS, "Charset string, Description string, "
                       "`Default collation` string, Maxlen int")
    if up.startswith("SHOW COLLATION"):
        return sp.createDataFrame(
            _COLLATIONS, "Collation string, Charset string, Id int, Default string")
    if up.startswith("SHOW ENGINES"):
        return sp.createDataFrame(
            [("InnoDB", "DEFAULT", "Spark-backed snapshot storage", "YES", "YES", "YES")],
            "Engine string, Support string, Comment string, "
            "Transactions string, XA string, Savepoints string")
    if up.startswith(("SHOW WARNINGS", "SHOW ERRORS")):
        return sp.createDataFrame(
            [], "Level string, Code int, Message string")
    if up.startswith("SHOW PROCESSLIST") or up.startswith("SHOW FULL PROCESSLIST"):
        return sp.createDataFrame(
            [(eng.session.id, "root", "localhost", eng.session.current_db,
              "Query", 0, "executing", "SHOW PROCESSLIST")],
            "Id bigint, User string, Host string, db string, Command string, "
            "Time int, State string, Info string")
    if up.startswith("SHOW STATUS") or re.match(
            r"SHOW\s+(GLOBAL|SESSION)\s+STATUS", up):
        return sp.createDataFrame(
            [("Uptime", str(int(time.time() - eng._started))),
             ("Threads_connected", "1"),
             ("Queries", str(eng._query_count))],
            "Variable_name string, Value string")
    if up.startswith("SHOW TRIGGERS"):
        rows = []
        for tbl, trigs in eng.triggers.items():
            for tr in trigs:
                rows.append((tr.name, tr.event, tbl, tr.body, tr.timing))
        schema = ("Trigger string, Event string, Table string, "
                  "Statement string, Timing string")
        return sp.createDataFrame(rows, schema) if rows else \
            sp.createDataFrame([], schema)
    if re.match(r"SHOW\s+(PROCEDURE|FUNCTION)\s+STATUS", up):
        rows = [(eng.session.current_db, p.name, "PROCEDURE") for p in
                eng.procedures.values()]
        schema = "Db string, Name string, Type string"
        return sp.createDataFrame(rows, schema) if rows else \
            sp.createDataFrame([], schema)
    if up.startswith("SHOW TABLE STATUS"):
        rows = []
        for name, ts in sorted(eng._db(None).items()):
            n = ts.stats.get("rows") if ts.stats else None
            rows.append((name, "InnoDB", n))
        return sp.createDataFrame(rows, "Name string, Engine string, Rows bigint")
    if up.startswith("SHOW PRIVILEGES"):
        return sp.createDataFrame(
            [("Select", "Tables", "To retrieve rows from table"),
             ("Insert", "Tables", "To insert data into tables"),
             ("Update", "Tables", "To update existing rows"),
             ("Delete", "Tables", "To delete existing rows"),
             ("Create", "Databases,Tables,Indexes", "To create new databases and tables"),
             ("Drop", "Databases,Tables", "To drop databases, tables, and views")],
            "Privilege string, Context string, Comment string")
    if up.startswith("SHOW OPEN TABLES"):
        return sp.createDataFrame(
            [(eng.session.current_db, n, 0, 0) for n in sorted(eng._db(None))],
            "Database string, Table string, In_use int, Name_locked int")
    if up.startswith("SHOW EVENTS"):
        return show_events(eng)
    if up.startswith("SHOW GRANTS"):
        return show_grants(eng, sql)
    if up.startswith(("SHOW INDEX", "SHOW INDEXES", "SHOW KEYS")):
        return show_index(eng, sql)
    if up.startswith("SHOW CREATE PROCEDURE"):
        name = _object_name(sql).lower()
        proc = eng.procedures.get(name)
        if proc is None:
            from .engine import SqlError
            raise SqlError(f"PROCEDURE {name} does not exist")
        params = ", ".join(f"{m} {n} {t}".strip() for m, n, t in proc.params)
        ddl = f"CREATE PROCEDURE `{proc.name}`({params})\n{proc.body}"
        return sp.createDataFrame(
            [(proc.name, "STRICT_TRANS_TABLES", ddl, "utf8mb4",
              "utf8mb4_0900_ai_ci", "utf8mb4_0900_ai_ci")],
            "Procedure string, sql_mode string, `Create Procedure` string, "
            "character_set_client string, collation_connection string, "
            "`Database Collation` string")
    if up.startswith("SHOW CREATE FUNCTION"):
        name = _object_name(sql).lower()
        ddl = eng.functions.get(name)
        if ddl is None:
            from .engine import SqlError
            raise SqlError(f"FUNCTION {name} does not exist")
        return sp.createDataFrame(
            [(name, "STRICT_TRANS_TABLES", ddl, "utf8mb4",
              "utf8mb4_0900_ai_ci", "utf8mb4_0900_ai_ci")],
            "Function string, sql_mode string, `Create Function` string, "
            "character_set_client string, collation_connection string, "
            "`Database Collation` string")
    if up.startswith("SHOW CREATE TRIGGER"):
        name = _object_name(sql)
        for tbl, trigs in eng.triggers.items():
            for tr in trigs:
                if tr.name.lower() == name.lower():
                    ddl = (f"CREATE TRIGGER `{tr.name}` {tr.timing} "
                           f"{tr.event} ON `{tbl}` FOR EACH ROW {tr.body}")
                    return sp.createDataFrame(
                        [(tr.name, "STRICT_TRANS_TABLES", ddl, "utf8mb4",
                          "utf8mb4_0900_ai_ci", "utf8mb4_0900_ai_ci")],
                        "Trigger string, sql_mode string, "
                        "`SQL Original Statement` string, "
                        "character_set_client string, "
                        "collation_connection string, "
                        "`Database Collation` string")
        from .engine import SqlError
        raise SqlError(f"trigger {name} does not exist")
    if up.startswith("SHOW CREATE EVENT"):
        name = _object_name(sql)
        ev = next((v for k, v in eng.events.items()
                   if k.lower() == name.lower()), None)
        if ev is None:
            from .engine import SqlError
            raise SqlError(f"event {name} does not exist")
        sched = (f"AT '{ev.at_ts}'" if ev.at_ts is not None
                 else f"EVERY {ev.every_secs} SECOND")
        ddl = (f"CREATE EVENT `{ev.name}` ON SCHEDULE {sched} "
               f"ON COMPLETION {'PRESERVE' if ev.preserve else 'NOT PRESERVE'}"
               f" {'ENABLE' if ev.enabled else 'DISABLE'} DO {ev.body}")
        return sp.createDataFrame(
            [(ev.name, "STRICT_TRANS_TABLES", "SYSTEM", ddl, "utf8mb4",
              "utf8mb4_0900_ai_ci", "utf8mb4_0900_ai_ci")],
            "Event string, sql_mode string, time_zone string, "
            "`Create Event` string, character_set_client string, "
            "collation_connection string, `Database Collation` string")
    if up.startswith(("SHOW PROCEDURE STATUS", "SHOW FUNCTION STATUS")):
        kind = "PROCEDURE" if "PROCEDURE" in up else "FUNCTION"
        names = (sorted(eng.procedures) if kind == "PROCEDURE"
                 else sorted(eng.functions))
        return sp.createDataFrame(
            [(eng.session.current_db, n, kind, "root@%") for n in names],
            "Db string, Name string, Type string, Definer string")
    if up.startswith("SHOW BINARY LOGS"):
        # no binlog subsystem: empty set, same as a server with logging off
        return sp.createDataFrame(
            [], "Log_name string, File_size bigint, Encrypted string")
    if up.startswith(("SHOW BINLOG STATUS", "SHOW MASTER STATUS")):
        return sp.createDataFrame(
            [], "File string, Position bigint, Binlog_Do_DB string, "
                "Binlog_Ignore_DB string, Executed_Gtid_Set string")
    if up.startswith(("SHOW REPLICA STATUS", "SHOW SLAVE STATUS")):
        # configured → one status row (streaming/replication.py); not a
        # replica → empty result set, MySQL behavior
        return sp.createDataFrame(
            eng.replica.status_rows(),
            "Replica_IO_State string, Source_Host string, "
            "Source_User string, Source_Port int, Connect_Retry int, "
            "Replica_IO_Running string, Replica_SQL_Running string, "
            "Exec_Source_Gtid bigint, Events_Applied bigint, "
            "Last_Error string")
    if up.startswith(("SHOW REPLICAS", "SHOW SLAVE HOSTS")):
        # this engine never acts as a *source* with connected replicas
        return sp.createDataFrame(
            [], "Server_Id bigint, Host string, Port int, "
                "Source_Id bigint, Replica_UUID string")
    if up.startswith("SHOW PLUGINS"):
        return sp.createDataFrame(
            [("InnoDB", "ACTIVE", "STORAGE ENGINE", None, "GPL"),
             ("mysql_native_password", "ACTIVE", "AUTHENTICATION", None,
              "GPL")],
            "Name string, Status string, Type string, Library string, "
            "License string")
    return None


# ---- table maintenance ------------------------------------------------------

def q_checksum(eng, sql: str) -> DataFrame:
    """CHECKSUM TABLE t1[, t2 ...] — a REAL checksum, not an ack: xor of
    per-row xxhash64 over every column, which is order-independent (rows
    are unordered) and distributed (one aggregate, no collect). MySQL's
    native CHECKSUM is a row-order-dependent CRC and engine-specific, so
    value parity is impossible by design — determinism-per-engine is the
    contract (same as InnoDB vs MyISAM differing)."""
    from .engine import SqlError
    m = re.match(r"CHECKSUM\s+TABLES?\s+(.+?)(?:\s+QUICK|\s+EXTENDED)?$",
                 sql, re.I)
    if not m:
        raise SqlError(f"cannot parse CHECKSUM: {sql[:60]!r}")
    rows = []
    for name in (n.strip().strip("`") for n in m.group(1).split(",")):
        ts = eng._table(name)
        agg = ts.df.select(
            F.xxhash64(*ts.df.columns).alias("h")
        ).agg(F.expr("cast(coalesce(bit_xor(h), 0) as bigint)").alias("c"))
        rows.append((f"{eng.session.current_db}.{name}", agg.first()["c"]))
    return eng.spark.createDataFrame(rows, "Table string, Checksum bigint")


def q_table_maint(eng, sql: str, kind: str) -> DataFrame:
    """CHECK / OPTIMIZE / REPAIR TABLE — the status-row protocol shapes
    (reference analyze.go-family nodes). CHECK actually validates the
    snapshot is readable (count action); OPTIMIZE reports the InnoDB-style
    'recreate + analyze' note; REPAIR is a no-op OK (nothing to repair in
    immutable snapshots)."""
    from .engine import SqlError
    m = re.match(rf"{kind}\s+TABLES?\s+(.+?)$", sql, re.I)
    if not m:
        raise SqlError(f"cannot parse {kind.upper()}: {sql[:60]!r}")
    rows = []
    for name in (n.strip().strip("`") for n in m.group(1).split(",")):
        name = re.sub(r"\s+(QUICK|FAST|MEDIUM|EXTENDED|CHANGED|USE_FRM)$",
                      "", name, flags=re.I)
        ts = eng._table(name)
        full = f"{eng.session.current_db}.{name}"
        if kind == "check":
            ts.df.count()  # provably readable
            rows.append((full, "check", "status", "OK"))
        elif kind == "optimize":
            rows.append((full, "optimize", "note",
                         "Table does not support optimize, doing recreate + "
                         "analyze instead"))
            rows.append((full, "optimize", "status", "OK"))
        else:
            rows.append((full, "repair", "status", "OK"))
    return eng.spark.createDataFrame(
        rows, "Table string, Op string, Msg_type string, Msg_text string")

"""Stored procedures, triggers, and prepared statements.

The reference interprets procedure bodies over its plan executor
(reference sql/procedures/interpreter_*.go, rule 'interpreter'
sql/analyzer/rules.go:98; nodes block.go / if_else.go / while.go /
repeat.go / case.go / signal.go / declare_handler.go / declare_condition.go)
and rewrites triggers into the DML plan (reference sql/plan/trigger.go:1-96,
rules triggers.go/load_triggers.go). Prepared statements cache the parsed
statement and rebind on execute (reference engine.go:174,
PrepareParsedQuery).

Spark-first stance: control flow is *driver-side* interpretation (it's
per-statement logic, not per-row), while every statement the body executes
is a full distributed Spark job through Engine.query. Triggers apply
set-based: a BEFORE INSERT trigger's `SET NEW.c = expr` becomes one extra
projection over the whole incoming DataFrame — not a per-row callback.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass
class Trigger:
    name: str
    timing: str        # BEFORE | AFTER
    event: str         # INSERT | UPDATE | DELETE
    table: str
    body: str          # single statement (or BEGIN...END block)


@dataclass
class Procedure:
    name: str
    params: list[tuple[str, str, str]]  # (mode, name, type)
    body: str


@dataclass
class PreparedStatement:
    name: str
    sql: str
    n_params: int


@dataclass
class Handler:
    """DECLARE CONTINUE|EXIT HANDLER FOR <conditions> <stmt>
    (reference sql/plan/declare_handler.go:25-80)."""

    action: str                      # CONTINUE | EXIT
    conds: list                      # ('not_found'|'sqlexception'|'sqlwarning'
                                     #  |('sqlstate', s)|('errno', n))
    stmt: str
    frame_id: int = 0
    active: bool = False  # True while the handler body runs — a handler is
                          # not eligible for conditions it raises itself
                          # (else RESIGNAL inside it would recurse forever)


# a BEGIN that ends its statement, or BEGIN WORK, starts a transaction;
# any other BEGIN opens a block
_OPENER_RE = r"(BEGIN(?!\s*(?:;|$)|\s+WORK\b)|IF|WHILE|REPEAT|CASE|LOOP)\b"
_CLOSER_RE = r"END\s*(IF|WHILE|REPEAT|CASE|LOOP)?\b"


def _top_level_spans(body: str, pattern: str) -> list[re.Match]:
    """Matches of `pattern` at nesting depth 0, outside string literals.

    Depth is tracked with the same BEGIN/IF/WHILE/REPEAT/CASE/LOOP openers
    as split_statements, so a WHEN inside a nested CASE (or inside a SQL
    CASE *expression*) is never treated as a branch of the outer statement.
    """
    out, depth, i, n = [], 0, 0, len(body)
    while i < n:
        c = body[i]
        if c == "'":
            i += 1
            while i < n and body[i] != "'":
                i += 1
            i += 1
            continue
        at_word_start = i == 0 or not (body[i - 1].isalnum() or body[i - 1] == "_")
        if at_word_start:
            m_end = re.match(_CLOSER_RE, body[i:], re.I)
            if m_end and depth > 0:
                depth -= 1
                i += m_end.end()
                continue
            m_open = re.match(_OPENER_RE, body[i:], re.I)
            if m_open:
                depth += 1
                i += m_open.end()
                continue
            if depth == 0:
                m = re.match(pattern, body[i:], re.I)
                if m:
                    out.append((i, i + m.end(), m))
                    i += m.end()
                    continue
        i += 1
    return out


def _split_on_keywords(body: str, pattern: str) -> list[tuple[str | None, str]]:
    """Split `body` on top-level keyword matches → [(None, head), (kw, chunk)…]."""
    spans = _top_level_spans(body, pattern)
    parts: list[tuple[str | None, str]] = []
    prev_end, prev_kw = 0, None
    for start, end, m in spans:
        parts.append((prev_kw, body[prev_end:start]))
        prev_kw, prev_end = m.group(0).strip().upper(), end
    parts.append((prev_kw, body[prev_end:]))
    return parts


def split_statements(body: str) -> list[str]:
    """Split a BEGIN...END body, or a multi-statement query, on ';' at
    top nesting level (respects nested BEGIN/END, IF/END IF, WHILE/END
    WHILE and string literals; a transaction's BEGIN is a statement)."""
    body = body.strip()
    m = re.match(_OPENER_RE, body, re.I)
    if m and m.group(1).upper() == "BEGIN":
        body = re.sub(r"\bEND\s*$", "", body[m.end():], flags=re.I)
    out, depth, cur, i, n = [], 0, [], 0, len(body)
    while i < n:
        c = body[i]
        if c == "'":
            cur.append(c)
            i += 1
            while i < n:
                cur.append(body[i])
                if body[i] == "'":
                    break
                i += 1
        else:
            at_word_start = i == 0 or not (body[i - 1].isalnum() or body[i - 1] == "_")
            m = re.match(_OPENER_RE, body[i:], re.I) if at_word_start else None
            m_end = re.match(_CLOSER_RE, body[i:], re.I) if at_word_start else None
            if m_end and depth > 0:
                depth -= 1
                cur.append(body[i:i + m_end.end()])
                i += m_end.end()
                continue
            if m:
                depth += 1
                cur.append(body[i:i + m.end()])
                i += m.end()
                continue
            if c == ";" and depth == 0:
                stmt = "".join(cur).strip()
                if stmt:
                    out.append(stmt)
                cur = []
                i += 1
                continue
            cur.append(c)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


class _Leave(Exception):
    """Control-flow escape for LEAVE <label>."""

    def __init__(self, label: str):
        self.label = label


class _Iterate(Exception):
    """Control-flow escape for ITERATE <label>."""

    def __init__(self, label: str):
        self.label = label


class _ExitBlock(Exception):
    """An EXIT handler fired: unwind to the block whose frame declared it
    (reference declare_handler.go DeclareHandlerAction_Exit)."""

    def __init__(self, frame_id: int):
        self.frame_id = frame_id


# sentinel: a name not bound before this block DECLAREd it
_UNBOUND = object()


class _Cursor:
    """Materialized cursor over a SELECT's rows (reference fetch.go).

    The reference streams the cursor over its iterator; here the SELECT runs
    as one distributed job and the driver walks the collected rows — cursors
    are a per-row control-flow construct, inherently driver-side."""

    def __init__(self, rows):
        self.rows = rows
        self.pos = 0
        self.sql: str | None = None  # bound SELECT, for re-OPEN

    def fetch(self):
        if self.pos >= len(self.rows):
            return None
        row = self.rows[self.pos]
        self.pos += 1
        return row


# SQLSTATE for a condition spec token (reference declare_condition.go).
_COND_TOKEN_RE = re.compile(
    r"NOT\s+FOUND|SQLEXCEPTION|SQLWARNING|SQLSTATE(?:\s+VALUE)?\s+'([0-9A-Z]{5})'"
    r"|(\d+)|([A-Za-z_]\w*)",
    re.I,
)


class ProcedureInterpreter:
    """Executes a procedure body statement-by-statement through the engine.

    Supported control flow (reference block.go/if_else.go/while.go/repeat.go/
    case.go/loop.go/fetch.go/signal.go/declare_handler.go): DECLARE (vars,
    CURSOR FOR, named CONDITIONs, CONTINUE/EXIT HANDLER FOR NOT FOUND /
    SQLEXCEPTION / SQLWARNING / SQLSTATE / errno / condition name), SET,
    IF/ELSEIF/ELSE, [label:] WHILE / REPEAT..UNTIL / LOOP with
    LEAVE/ITERATE, CASE statements (both searched and value forms), nested
    BEGIN..END blocks with block-scoped handlers, SIGNAL/RESIGNAL,
    OPEN/FETCH/CLOSE, SELECT (last SELECT is the CALL result), any DML/DDL.
    """

    MAX_LOOP = 100_000

    def __init__(self, engine):
        self.engine = engine
        self.cursors: dict[str, _Cursor | str] = {}
        self.frames: list[dict] = []        # [{"id", "handlers", "conditions"}]
        self._next_frame = 0
        self._handling: list = []           # stack of errors being handled
        # per-row trigger context: NEW./OLD. column values, bound as
        # literals by _bind; SET NEW.col writes back (reference
        # rowexec/trigger.go runs FOR EACH ROW bodies one row at a time)
        self.trigger_new: dict | None = None
        self.trigger_old: dict | None = None

    def run_trigger(self, body: str, new: dict | None = None,
                    old: dict | None = None) -> dict | None:
        """Execute a trigger body for ONE row. `new`/`old` map lowercase
        column name → Python value; SET NEW.c mutates `new` in place."""
        self.trigger_new, self.trigger_old = new, old
        try:
            self._exec_block(split_statements(body), {})
        finally:
            self.trigger_new = self.trigger_old = None
        return new

    MAX_SP_RECURSION = 64

    def call(self, proc: Procedure, args: list,
             scope_out: dict | None = None):
        from .engine import SqlError
        if len(args) != len(proc.params):
            raise SqlError(
                f"procedure {proc.name} expects {len(proc.params)} args, got {len(args)}")
        # recursion guard (MySQL max_sp_recursion_depth; reference
        # planbuilder call depth check) — a body whose CALL re-enters the
        # engine must bottom out as error 1456, not a Python RecursionError
        depth = getattr(self.engine, "_sp_depth", 0)
        if depth >= self.MAX_SP_RECURSION:
            raise SqlError(
                f"Recursive limit {self.MAX_SP_RECURSION} (as set by the "
                f"max_sp_recursion_depth variable) was exceeded for routine "
                f"{proc.name}", sqlstate="HY000", errno=1456)
        self.engine._sp_depth = depth + 1
        try:
            scope = {p[1].lower(): a for p, a in zip(proc.params, args)}
            result = self._exec_block(split_statements(proc.body), scope)
        finally:
            self.engine._sp_depth = depth
        if scope_out is not None:
            # final parameter values, for the caller's OUT/INOUT
            # writeback (reference sql/plan/call.go)
            scope_out.update(scope)
        return result

    # ---- block / handler machinery ------------------------------------------

    def _push_frame(self) -> dict:
        frame = {"id": self._next_frame, "handlers": [], "conditions": {},
                 "saved": {}}
        self._next_frame += 1
        self.frames.append(frame)
        return frame

    def _declare_var(self, name: str, value, scope: dict) -> None:
        """Bind a DECLAREd variable in the CURRENT block's scope (MySQL
        block scoping, reference sql/plan/block.go + declare.go): the
        prior binding — an outer block's variable or a same-named
        parameter — is shadowed for the block's duration and restored on
        exit, so inner assignments to the shadow never leak out."""
        frame = self.frames[-1]
        if name not in frame["saved"]:
            frame["saved"][name] = scope.get(name, _UNBOUND)
        scope[name] = value

    def _exec_block(self, stmts: list[str], scope: dict):
        """Run a statement list inside a fresh handler scope; EXIT handlers
        declared here unwind to exactly this block, and variables DECLAREd
        here go out of scope (shadowed bindings restored) on exit."""
        frame = self._push_frame()
        result = None
        try:
            for stmt in stmts:
                result = self._exec_guarded(stmt, scope) or result
        except _ExitBlock as ex:
            if ex.frame_id != frame["id"]:
                raise
        finally:
            for name, old in frame["saved"].items():
                if old is _UNBOUND:
                    scope.pop(name, None)
                else:
                    scope[name] = old
            self.frames.pop()
        return result

    def _exec_guarded(self, stmt: str, scope: dict):
        """Execute one statement; on SqlError, dispatch to the innermost
        matching handler (reference declare_handler.go matching order:
        specific errno/sqlstate, then class handlers)."""
        from .engine import SqlError
        try:
            return self._exec(stmt, scope)
        except (_Leave, _Iterate, _ExitBlock):
            raise
        except SqlError as e:
            handler = self._find_handler(e)
            if handler is None:
                raise
            self._handling.append(e)
            handler.active = True
            try:
                self._exec_guarded(handler.stmt, scope)
            finally:
                handler.active = False
                self._handling.pop()
            if handler.action == "EXIT":
                raise _ExitBlock(handler.frame_id)
            return None  # CONTINUE: resume after the failed statement

    def _find_handler(self, e) -> Handler | None:
        def rank(h: Handler):
            # numeric min with an explicit None sentinel: `best or 9`
            # treats a matched rank of 0 (errno, most specific) as falsy
            # and let a less-specific condition in the same handler win
            best = None

            def _upd(n):
                nonlocal best
                best = n if best is None else min(best, n)

            for c in h.conds:
                if isinstance(c, tuple) and c[0] == "errno" and c[1] == e.errno:
                    _upd(0)
                elif isinstance(c, tuple) and c[0] == "sqlstate" and c[1] == e.sqlstate:
                    _upd(1)
                elif c == "not_found" and e.sqlstate.startswith("02"):
                    _upd(2)
                elif c == "sqlwarning" and e.sqlstate.startswith("01"):
                    _upd(2)
                elif c == "sqlexception" and not (
                    e.sqlstate.startswith("01") or e.sqlstate.startswith("02")
                ):
                    _upd(3)
            return best
        # innermost frame first, most specific condition wins within a frame
        for frame in reversed(self.frames):
            matches = [(rank(h), h) for h in frame["handlers"] if not h.active]
            matches = [(r, h) for r, h in matches if r is not None]
            if matches:
                return min(matches, key=lambda rh: rh[0])[1]
        return None

    def _parse_conditions(self, text: str, frame: dict) -> tuple[list, str]:
        """Parse the comma-separated condition list of a DECLARE HANDLER,
        returning (conditions, remaining statement text)."""
        conds = []
        rest = text.lstrip()
        while True:
            m = _COND_TOKEN_RE.match(rest)
            if not m:
                break
            tok = m.group(0).upper()
            if tok.startswith("NOT"):
                conds.append("not_found")
            elif tok == "SQLEXCEPTION":
                conds.append("sqlexception")
            elif tok == "SQLWARNING":
                conds.append("sqlwarning")
            elif tok.startswith("SQLSTATE"):
                conds.append(("sqlstate", m.group(1).upper()))
            elif m.group(2):
                conds.append(("errno", int(m.group(2))))
            else:
                named = self._lookup_condition(m.group(3))
                if named is None:
                    break  # not a condition name → start of the handler stmt
                conds.append(named)
            rest = rest[m.end():].lstrip()
            if rest.startswith(","):
                rest = rest[1:].lstrip()
                continue
            break
        return conds, rest

    def _lookup_condition(self, name: str):
        for frame in reversed(self.frames):
            if name.lower() in frame["conditions"]:
                return frame["conditions"][name.lower()]
        return None

    # ---- statement dispatch -------------------------------------------------

    def _exec(self, stmt: str, scope: dict):
        from .engine import SqlError
        stripped = stmt.strip()
        up = stripped.upper()
        lb = re.match(r"(?:(\w+)\s*:\s*)?BEGIN\b", stripped, re.I)
        if lb:
            # [label:] BEGIN ... END — LEAVE <label> unwinds to the end of
            # the block (reference sql/plan/block.go labeled blocks)
            label = (lb.group(1) or "").lower()
            body = stripped[lb.end(1):].lstrip(": \t\n") if lb.group(1) \
                else stripped
            try:
                return self._exec_block(split_statements(body), scope)
            except _Leave as lv:
                if label and lv.label == label:
                    return None
                raise
        m = re.match(r"DECLARE\s+(\w+)\s+CURSOR\s+FOR\s+(.*)$", stripped,
                     re.I | re.S)
        if m:
            self.cursors[m.group(1).lower()] = m.group(2)  # SELECT bound at OPEN
            return None
        m = re.match(
            r"DECLARE\s+(\w+)\s+CONDITION\s+FOR\s+"
            r"(?:SQLSTATE(?:\s+VALUE)?\s+'([0-9A-Za-z]{5})'|(\d+))\s*$",
            stripped, re.I)
        if m:
            cond = (("sqlstate", m.group(2).upper()) if m.group(2)
                    else ("errno", int(m.group(3))))
            self.frames[-1]["conditions"][m.group(1).lower()] = cond
            return None
        m = re.match(r"DECLARE\s+(CONTINUE|EXIT)\s+HANDLER\s+FOR\s+(.*)$",
                     stripped, re.I | re.S)
        if m:
            conds, hstmt = self._parse_conditions(m.group(2), self.frames[-1])
            if not conds:
                raise SqlError(f"cannot parse handler conditions: {stmt[:60]!r}")
            self.frames[-1]["handlers"].append(Handler(
                m.group(1).upper(), conds, hstmt.strip(),
                self.frames[-1]["id"]))
            return None
        if up.startswith("DECLARE"):
            # DECLARE a[, b, ...] <type> [DEFAULT expr] — every name in
            # the list gets the same type and default (MySQL syntax;
            # reference sql/plan/declare.go)
            m = re.match(
                r"DECLARE\s+((?:\w+\s*,\s*)*\w+)\s+\S+"
                r"(?:\s+DEFAULT\s+(.*))?$",
                stripped, re.I | re.S)
            if m:
                default = (self._eval(m.group(2), scope)
                           if m.group(2) else None)
                for name in m.group(1).split(","):
                    self._declare_var(name.strip().lower(), default, scope)
            return None
        if up.startswith("SIGNAL") or up.startswith("RESIGNAL"):
            return self._exec_signal(stripped, scope)
        if up.startswith("OPEN "):
            name = stripped.split()[1].strip().lower()
            sel = self.cursors.get(name)
            if isinstance(sel, _Cursor):
                sel = sel.sql  # re-OPEN after CLOSE / without CLOSE
            if not isinstance(sel, str):
                raise SqlError(f"cursor {name!r} not declared")
            df = self.engine.query(self._bind(sel, scope))
            cur = _Cursor([tuple(r) for r in df.collect()])
            cur.sql = sel
            self.cursors[name] = cur
            return None
        if up.startswith("FETCH"):
            m = re.match(r"FETCH\s+(?:NEXT\s+FROM\s+|FROM\s+)?(\w+)\s+INTO\s+(.*)$",
                         stripped, re.I | re.S)
            cur = self.cursors.get(m.group(1).lower())
            targets = [v.strip().lstrip("@").lower() for v in m.group(2).split(",")]
            row = cur.fetch() if isinstance(cur, _Cursor) else None
            if row is None:
                # MySQL error 1329 / SQLSTATE 02000 — a NOT FOUND (or
                # SQLSTATE '02000') handler intercepts it via _exec_guarded
                raise SqlError("No data - zero rows fetched, selected, or processed",
                               sqlstate="02000", errno=1329)
            for name, value in zip(targets, row):
                scope[name] = value
            return None
        if up.startswith("CLOSE "):
            # CLOSE releases the result set; the DECLARE stays in scope
            # so a later OPEN re-runs the bound SELECT (reference
            # fetch.go cursor lifecycle)
            cname = stripped.split()[1].strip().lower()
            cur = self.cursors.get(cname)
            if isinstance(cur, _Cursor) and isinstance(cur.sql, str):
                self.cursors[cname] = cur.sql
            return None
        m = re.match(r"(?:(\w+)\s*:\s*)?LOOP\b(.*)\bEND\s+LOOP\s*(\w+)?$",
                     stripped, re.I | re.S)
        if m:
            return self._exec_loop(m.group(1) or "", m.group(2), scope)
        m = re.match(r"(?:(\w+)\s*:\s*)?REPEAT\b(.*)\bEND\s+REPEAT\s*(\w+)?$",
                     stripped, re.I | re.S)
        if m:
            return self._exec_repeat(m.group(1) or "", m.group(2), scope)
        if up.startswith("LEAVE"):
            raise _Leave(stripped.split()[1].strip().lower()
                         if len(stripped.split()) > 1 else "")
        if up.startswith("ITERATE"):
            raise _Iterate(stripped.split()[1].strip().lower()
                           if len(stripped.split()) > 1 else "")
        if up.startswith("SET "):
            from .engine import _split_top_level

            for assign in _split_top_level(stripped[4:]):
                name, expr = assign.split("=", 1)
                name = name.strip()
                if name.endswith(":"):  # MySQL's `SET x := expr`
                    name = name[:-1].strip()
                nm = re.fullmatch(r"NEW\.[`]?(\w+)[`]?", name, re.I)
                if nm and self.trigger_new is not None:
                    self.trigger_new[nm.group(1).lower()] = \
                        self._eval(expr, scope)
                    continue
                if re.fullmatch(r"OLD\.[`]?\w+[`]?", name, re.I):
                    raise SqlError(
                        "updating of OLD row is not allowed in trigger",
                        sqlstate="HY000", errno=1362)
                if name.startswith("@@"):
                    # system variable write mid-body routes through the
                    # engine's SET statement (scope/validation there)
                    self.engine.query(
                        f"SET {name} = {self._bind(expr, scope)}")
                    continue
                if name.startswith("@"):
                    # user variables are session-scoped, visible after
                    # the CALL returns (reference sql/expression/
                    # user_variable.go)
                    self.engine.session.user_vars[name[1:]] = \
                        self._eval(expr, scope)
                    continue
                scope[name.lower()] = self._eval(expr, scope)
            return None
        if up.startswith("IF"):
            return self._exec_if(stmt, scope)
        m = re.match(r"(?:(\w+)\s*:\s*)?WHILE\b", stripped, re.I)
        if m and re.search(r"\bEND\s+WHILE\s*(\w+)?$", stripped, re.I):
            return self._exec_while(m.group(1) or "", stripped, scope)
        if up.startswith("CASE"):
            return self._exec_case(stripped, scope)
        if up.startswith("SELECT") and re.search(r"\bINTO\b", up):
            # SELECT ... INTO <local vars / @vars> (reference
            # sql/plan/into.go bound to procedure scope): strip the INTO
            # clause BEFORE binding so scope targets aren't literalized
            from .dialect.transpiler import mask_literals, unmask_literals

            masked, lits = mask_literals(stripped)
            im = re.search(
                r"\bINTO\s+((?:@?\w+\s*,\s*)*@?\w+)(\s+FROM\b|\s*$)",
                masked, re.I)
            if im:
                targets = [t.strip() for t in im.group(1).split(",")]
                tail = masked[im.start(2):] if im.group(2).strip() else ""
                rest = unmask_literals(masked[:im.start()] + tail, lits)
                df = self.engine.query(self._bind(rest, scope))
                rows = df.collect()
                if len(rows) > 1:
                    from .engine import SqlError
                    raise SqlError("Result consisted of more than one row",
                                   sqlstate="21000", errno=1172)
                if not rows:
                    from .engine import SqlError
                    raise SqlError(
                        "No data - zero rows fetched, selected, or "
                        "processed", sqlstate="02000", errno=1329)
                for t, v in zip(targets, rows[0]):
                    if t.startswith("@"):
                        self.engine.session.user_vars[t[1:]] = v
                    else:
                        scope[t.lower()] = v
                return None
        if up.startswith("CALL"):
            # nested CALL with by-reference OUT/INOUT writeback: a bare
            # scope variable passed to an OUT/INOUT parameter receives the
            # callee's final value (reference sql/plan/call.go — binding
            # through _bind would literalize the arg and lose the
            # writeback; `CALL p2(x)` must mutate x)
            m = re.match(r"CALL\s+([`\w.]+)\s*(?:\((.*)\))?\s*$", stripped,
                         re.I | re.S)
            if m:
                pname = m.group(1).strip("`").split(".")[-1].lower()
                proc = self.engine.procedures.get(pname)
                if proc is not None:
                    from .engine import _split_top_level
                    arg_txts = ([a.strip()
                                 for a in _split_top_level(m.group(2))]
                                if m.group(2) and m.group(2).strip() else [])
                    args = []
                    for i, a in enumerate(arg_txts):
                        mode = (proc.params[i][0]
                                if i < len(proc.params) else "IN")
                        args.append(None if mode == "OUT"
                                    else self._eval(a, scope))
                    scope_out: dict = {}
                    result = ProcedureInterpreter(self.engine).call(
                        proc, args, scope_out=scope_out)
                    for i, a in enumerate(arg_txts):
                        if i >= len(proc.params) \
                                or proc.params[i][0] not in ("OUT", "INOUT"):
                            continue
                        val = scope_out.get(proc.params[i][1].lower())
                        if a.startswith("@"):
                            self.engine.session.user_vars[a[1:]] = val
                        elif re.fullmatch(r"\w+", a) and a.lower() in scope:
                            scope[a.lower()] = val
                    return result
        return self.engine.query(self._bind(stmt, scope))

    # ---- control-flow statements --------------------------------------------

    def _run_loop(self, label: str, body_fn):
        """Shared LEAVE/ITERATE label protocol for LOOP/WHILE/REPEAT."""
        result = None
        label = label.lower()
        for _ in range(self.MAX_LOOP):
            try:
                done, result = body_fn(result)
                if done:
                    return result
            except _Leave as lv:
                if lv.label in ("", label):
                    return result
                raise
            except _Iterate as it:
                if it.label in ("", label):
                    continue
                raise
        from .engine import SqlError
        raise SqlError("loop exceeded iteration limit")

    def _exec_loop(self, label: str, body: str, scope: dict):
        stmts = split_statements(body)

        def once(result):
            for s in stmts:
                result = self._exec_guarded(s, scope) or result
            return False, result

        return self._run_loop(label, once)

    def _exec_repeat(self, label: str, inner: str, scope: dict):
        """REPEAT body UNTIL cond END REPEAT (reference sql/plan/repeat.go):
        body runs at least once; the condition is tested after each pass."""
        spans = _top_level_spans(inner, r"UNTIL\b")
        if not spans:
            from .engine import SqlError
            raise SqlError(f"cannot parse REPEAT (missing UNTIL): {inner[:60]!r}")
        start, end, _ = spans[-1]
        body, cond = inner[:start], inner[end:].strip()
        stmts = split_statements(body)

        def once(result):
            for s in stmts:
                result = self._exec_guarded(s, scope) or result
            return self._truthy(self._eval(cond, scope)), result

        return self._run_loop(label, once)

    def _exec_if(self, stmt: str, scope: dict):
        m = re.match(r"IF\s+(.*?)\s+THEN\s+(.*)\s+END\s+IF$", stmt.strip(),
                     re.I | re.S)
        if not m:
            from .engine import SqlError
            raise SqlError(f"cannot parse IF: {stmt[:60]!r}")
        cond, rest = m.group(1), m.group(2)
        branches: list[tuple[str | None, str]] = []
        parts = _split_on_keywords(rest, r"(ELSEIF|ELSE)\b")
        branches.append((cond, parts[0][1]))
        for kw, chunk in parts[1:]:
            if kw == "ELSEIF":
                m2 = re.match(r"\s*(.*?)\s+THEN\s+(.*)$", chunk, re.S | re.I)
                branches.append((m2.group(1), m2.group(2)))
            else:
                branches.append((None, chunk))
        result = None
        for cond, body in branches:
            if cond is None or self._truthy(self._eval(cond, scope)):
                for s in split_statements(body):
                    result = self._exec_guarded(s, scope) or result
                break
        return result

    def _exec_while(self, label: str, stmt: str, scope: dict):
        m = re.match(r"(?:\w+\s*:\s*)?WHILE\s+(.*?)\s+DO\s+(.*)\s+END\s+WHILE\s*(\w+)?$",
                     stmt.strip(), re.I | re.S)
        if not m:
            from .engine import SqlError
            raise SqlError(f"cannot parse WHILE: {stmt[:60]!r}")
        cond, body = m.group(1), m.group(2)
        stmts = split_statements(body)

        def once(result):
            if not self._truthy(self._eval(cond, scope)):
                return True, result
            for s in stmts:
                result = self._exec_guarded(s, scope) or result
            return False, result

        return self._run_loop(label, once)

    def _exec_case(self, stmt: str, scope: dict):
        """CASE statement, both forms (reference sql/plan/case.go):
        CASE [expr] WHEN v THEN stmts… [ELSE stmts…] END CASE."""
        from .engine import SqlError
        m = re.match(r"CASE\b(.*)\bEND\s+CASE$", stmt.strip(), re.I | re.S)
        if not m:
            raise SqlError(f"cannot parse CASE: {stmt[:60]!r}")
        parts = _split_on_keywords(m.group(1), r"(WHEN|ELSE)\b")
        subject = parts[0][1].strip()  # empty → searched CASE
        branches: list[tuple[str | None, str]] = []
        for kw, chunk in parts[1:]:
            if kw == "WHEN":
                m2 = re.match(r"\s*(.*?)\s+THEN\s+(.*)$", chunk, re.S | re.I)
                if not m2:
                    raise SqlError(f"cannot parse CASE WHEN: {chunk[:60]!r}")
                branches.append((m2.group(1), m2.group(2)))
            else:
                branches.append((None, chunk))
        result = None
        for cond, body in branches:
            if cond is None:
                fire = True
            elif subject:
                # plain equality, not <=>: CASE NULL WHEN NULL must NOT
                # fire (NULL = NULL is unknown) and falls through to the
                # 1339 error below — reference sql/plan/case.go
                fire = self._truthy(
                    self._eval(f"({subject}) = ({cond})", scope))
            else:
                fire = self._truthy(self._eval(cond, scope))
            if fire:
                for s in split_statements(body):
                    result = self._exec_guarded(s, scope) or result
                return result
        if branches and branches[-1][0] is not None:
            # no branch matched and no ELSE → MySQL error 1339 (case.go)
            raise SqlError("Case not found for CASE statement",
                           sqlstate="20000", errno=1339)
        return result

    def _exec_signal(self, stmt: str, scope: dict):
        """SIGNAL / RESIGNAL (reference sql/plan/signal.go): raise (or
        re-raise, inside a handler) a condition with SQLSTATE + items."""
        from .engine import SqlError
        m = re.match(
            r"(SIGNAL|RESIGNAL)\s*"
            r"(?:SQLSTATE(?:\s+VALUE)?\s+'([0-9A-Za-z]{5})'|(?!SET\b)([A-Za-z_]\w*))?"
            r"\s*(?:SET\s+(.*))?$",
            stmt.strip(), re.I | re.S)
        if not m:
            raise SqlError(f"cannot parse SIGNAL: {stmt[:60]!r}")
        kind = m.group(1).upper()
        sqlstate, errno, message = None, None, None
        if m.group(2):
            sqlstate = m.group(2).upper()
        elif m.group(3):
            cond = self._lookup_condition(m.group(3))
            if cond is None:
                raise SqlError(f"Undefined CONDITION: {m.group(3)}",
                               sqlstate="42000", errno=1319)
            if cond[0] == "sqlstate":
                sqlstate = cond[1]
            else:
                errno = cond[1]
        if kind == "RESIGNAL":
            if not self._handling:
                raise SqlError(
                    "RESIGNAL when handler not active",
                    sqlstate="0K000", errno=1645)
            prev = self._handling[-1]
            sqlstate = sqlstate or prev.sqlstate
            errno = errno or prev.errno
            message = str(prev)
        elif sqlstate is None and errno is None:
            raise SqlError(f"SIGNAL requires SQLSTATE or condition: {stmt[:60]!r}")
        # split items on commas outside string literals
        for assign in re.split(r",(?=(?:[^']*'[^']*')*[^']*$)", m.group(4) or ""):
            if not assign.strip():
                continue
            name, expr = assign.split("=", 1)
            name = name.strip().upper()
            val = self._eval(expr, scope)
            if name == "MESSAGE_TEXT":
                message = str(val)
            elif name == "MYSQL_ERRNO":
                errno = int(val)
        if sqlstate is None:
            sqlstate = "HY000"
        if message is None:
            message = ("Unhandled user-defined exception condition"
                       if sqlstate.startswith("45") else
                       f"Signal condition {sqlstate}")
        if errno is None:
            errno = 1644 if sqlstate.startswith("45") else 1105
        raise SqlError(message, sqlstate=sqlstate, errno=errno)

    # ---- expression / binding helpers ---------------------------------------

    def _bind(self, stmt: str, scope: dict) -> str:
        """Substitute scope variables (bare identifiers) with literals."""
        from .engine import Engine

        def repl(m: re.Match) -> str:
            name = m.group(0).lower()
            if name in scope:
                return Engine._lit(scope[name])
            return m.group(0)

        def repl_row(m: re.Match) -> str:
            row = (self.trigger_new if m.group(1).upper() == "NEW"
                   else self.trigger_old)
            key = m.group(2).lower()
            if row is not None and key in row:
                return Engine._lit(row[key])
            return m.group(0)

        # an INSERT's column list is a column-position context — names
        # there are columns even when a param/var shares the name
        # (MySQL shadowing applies to expressions, not column lists)
        colist = re.match(
            r"((?:INSERT|REPLACE)\s+(?:IGNORE\s+)?INTO\s+[`\w.]+\s*"
            r"\([^)]*\))(.*)$", stmt, re.I | re.S)
        if colist:
            return colist.group(1) + self._bind(colist.group(2), scope)
        # don't touch quoted strings; cheap approach: substitute outside quotes
        parts = re.split(r"('(?:[^']|'')*')", stmt)
        out = []
        for p in parts:
            if p.startswith("'"):
                out.append(p)
                continue
            if self.trigger_new is not None or self.trigger_old is not None:
                p = re.sub(r"\b(NEW|OLD)\.[`]?(\w+)[`]?", repl_row, p,
                           flags=re.I)
            # @name lives in the session user-variable namespace, which
            # MySQL keeps DISTINCT from params/DECLAREd locals — never
            # bind it from scope (a local `v` must not shadow `@v`).
            # Lookup is case-insensitive like MySQL's; an unbound @var
            # stays intact for the engine's own substitution.
            def repl_uvar(m: re.Match) -> str:
                uv = self.engine.session.user_vars
                if m.group(1) in uv:
                    return Engine._lit(uv[m.group(1)])
                key = m.group(1).lower()
                for k in uv:
                    if k.lower() == key:
                        return Engine._lit(uv[k])
                return m.group(0)

            p = re.sub(r"(?<!@)@(\w+)", repl_uvar, p)
            out.append(re.sub(r"(?<![@.`])\b[A-Za-z_]\w*\b", repl, p))
        return "".join(out)

    def _eval(self, expr: str, scope: dict):
        row = self.engine.spark.sql(
            f"SELECT ({self._bind(expr, scope)}) AS v"
        ).first()
        return row["v"]

    @staticmethod
    def _truthy(v) -> bool:
        return bool(v) and v != 0

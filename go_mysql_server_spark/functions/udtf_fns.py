"""Python UDTF registration surface (table functions).

The reference supports integrator-registered table functions
(reference sql/core.go TableFunction, enginetest/memory TableFunc
fixtures): a function call that appears in FROM position and yields rows.
Spark 4's Python UDTFs are the native analogue — `@udtf` classes
registered once per session, callable from SQL as `FROM fn(args)` or in
LATERAL position. Rows stream through Arrow batches; the planner treats
the call as a generator node (no driver materialization).

These three close the r1 "no registration surface" gap:
- tokenize_text(text)        → (pos, token) rows
- generate_series(start, stop [, step]) → (value) rows (MySQL's closest
  cousin is the reference's sequence table fixture)
- json_each(doc)             → (key, value) rows over a JSON object
"""

from __future__ import annotations

import json

from pyspark.sql.functions import udtf


@udtf(returnType="pos: int, token: string")
class TokenizeText:
    def eval(self, text: str):  # noqa: D102 — UDTF contract
        if text is None:
            return
        for i, tok in enumerate(text.strip().lower().split()):
            yield i, tok


@udtf(returnType="value: bigint")
class GenerateSeries:
    def eval(self, start: int, stop: int, step: int = 1):
        if start is None or stop is None or not step:
            return
        v = start
        while (step > 0 and v <= stop) or (step < 0 and v >= stop):
            yield (v,)
            v += step


@udtf(returnType="key: string, value: string")
class JsonEach:
    def eval(self, doc: str):
        if doc is None:
            return
        try:
            obj = json.loads(doc)
        except ValueError:
            return
        if isinstance(obj, dict):
            for k, v in obj.items():
                yield k, json.dumps(v)
        elif isinstance(obj, list):
            for i, v in enumerate(obj):
                yield str(i), json.dumps(v)


def declare_udtfs(reg) -> None:
    reg.udtf("tokenize_text", TokenizeText)
    reg.udtf("generate_series_tf", GenerateSeries)
    reg.udtf("json_each", JsonEach)
    reg.udtf("__json_table_rows", JsonTableRows)


def _jt_path_get(obj, path: str):
    """Minimal MySQL JSON path evaluation: $, $.a.b, $[n], trailing [*]
    handled by the caller. Returns (found, value)."""
    if path in ("$", ""):
        return True, obj
    cur = obj
    i = 1  # skip '$'
    while i < len(path):
        if path[i] == ".":
            m = __import__("re").match(r'\.(?:"([^"]+)"|(\w+))', path[i:])
            if not m or not isinstance(cur, dict):
                return False, None
            key = m.group(1) or m.group(2)
            if key not in cur:
                return False, None
            cur = cur[key]
            i += m.end()
        elif path[i] == "[":
            m = __import__("re").match(r"\[(\d+)\]", path[i:])
            if not m or not isinstance(cur, list):
                return False, None
            idx = int(m.group(1))
            if idx >= len(cur):
                return False, None
            cur = cur[idx]
            i += m.end()
        else:
            return False, None
    return True, cur


def _jt_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, (dict, list)):
        return json.dumps(v)
    return str(v)


def _jt_elems(doc, path: str):
    """Root/NESTED path: trailing [*] iterates an array; otherwise the
    single addressed value is the one element (MySQL json_table.go)."""
    starred = path.endswith("[*]")
    base = path[:-3] if starred else path
    found, v = _jt_path_get(doc, base)
    if not found:
        return []
    if starred:
        if isinstance(v, list):
            return v
        # MySQL auto-wraps a SCALAR at a starred path as [scalar] but an
        # OBJECT yields no rows (reference json_table corpus: '{}' with
        # '$[*]' returns empty)
        return [] if isinstance(v, dict) else [v]
    return [v]


def _jt_expand(elem, cols, out_row, rows):
    """Depth-first expansion of one element against a colspec list.
    Sibling NESTED paths expand sequentially (union with NULLs for the
    other siblings — reference rowexec/rel.go json_table sibling mode);
    a parent with no nested specs emits one row."""
    base = list(out_row)
    nested = []
    for spec in cols:
        kind = spec["kind"]
        if kind == "ord":
            pass  # already stamped by the caller for this level
        elif kind == "exists":
            found, _v = _jt_path_get(elem, spec["path"])
            base[spec["slot"]] = "1" if found else "0"
        elif kind == "path":
            found, v = _jt_path_get(elem, spec["path"])
            if not found or v is None:
                oe = spec.get("on_empty", ["null"])
                if oe[0] == "default":
                    base[spec["slot"]] = oe[1]
                elif oe[0] == "error":
                    raise ValueError(
                        f"missing value at path {spec['path']}")
                else:
                    base[spec["slot"]] = None
            else:
                cell = _jt_cell(v)
                oe2 = spec.get("on_error")
                typ = spec.get("sqltype", "")
                if oe2 and typ.startswith(("int", "bigint", "smallint",
                                           "tinyint", "double", "float",
                                           "decimal")):
                    # value present but not convertible to the declared
                    # numeric type → ON ERROR applies (MySQL CAST error)
                    try:
                        float(cell)
                    except (TypeError, ValueError):
                        if oe2[0] == "error":
                            raise ValueError(
                                f"cannot convert {cell!r} at "
                                f"{spec['path']}")
                        cell = oe2[1]
                base[spec["slot"]] = cell
        else:
            nested.append(spec)
    if not nested:
        rows.append(base)
        return
    emitted = False
    for spec in nested:
        sub = _jt_elems(elem, spec["path"])
        for i, child in enumerate(sub):
            row2 = list(base)
            for s2 in spec["cols"]:
                if s2["kind"] == "ord":
                    row2[s2["slot"]] = str(i + 1)
            _jt_expand(child, spec["cols"], row2, rows)
            emitted = True
    if not emitted:
        rows.append(base)


@udtf(returnType="ord: bigint, cells: array<string>")
class JsonTableRows:
    """Generic JSON_TABLE shredder (reference sql/plan/json_table.go,
    exec sql/rowexec/rel.go): the engine rewrites SQL-text JSON_TABLE
    into a LATERAL subquery over this UDTF, projecting/CASTing `cells`
    positions to the declared column names and types. Arrow-batched;
    acceptable Python because JSON_TABLE is inherently a per-row
    re-parse (the DataFrame twin json_table_shred stays JVM-side)."""

    def eval(self, doc: str, root: str, colspec: str):
        spec = json.loads(colspec)
        if doc is None:
            return
        try:
            parsed = json.loads(doc)
        except ValueError:
            if spec.get("error_on_error"):
                raise ValueError(f"invalid JSON document: {doc[:40]!r}")
            return
        rows: list[list] = []
        for i, elem in enumerate(_jt_elems(parsed, root)):
            row = [None] * spec["width"]
            for s in spec["cols"]:
                if s["kind"] == "ord":
                    row[s["slot"]] = str(i + 1)
            _jt_expand(elem, spec["cols"], row, rows)
        for n, r in enumerate(rows):
            yield n, r

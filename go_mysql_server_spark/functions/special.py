"""JSON / crypto / network / uuid / system / vector shims.

JSON read functions map to Spark's get_json_object family (JSON stays a
string column — pushdown-friendly at scale). JSON *mutation* functions
(json_set/insert/replace/remove/merge_patch/array_append — reference
sql/expression/function/json/*.go) have no Spark builtins; they run as
Python UDFs over json.loads/dumps. That's the sanctioned slow path: these
appear in write-side projections, not scan-side hot loops.

Network/uuid/system shims follow reference registry.go semantics.
"""

from __future__ import annotations

import json
import re
import uuid as uuidlib
import zlib

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


# ---- JSON read (expression-level) ------------------------------------------

def _ensure_wild_registered() -> None:
    """The Column-API json_extract references the json_extract_wild UDF
    in its plan, so the UDF must exist at ANALYSIS time — register it
    lazily against the active session (idempotent) so mysql_fn users
    don't need to construct an Engine first."""
    from pyspark.sql import SparkSession
    s = SparkSession.getActiveSession()
    if s is not None and s.conf.get(
            "spark.gms.jsonWildRegistered", "") != "1":
        s.udf.register("json_extract_wild", _extract_wild, T.StringType())
        s.conf.set("spark.gms.jsonWildRegistered", "1")


def _json_extract(doc, path) -> Column:
    _ensure_wild_registered()
    if isinstance(path, str) and "*" in path:
        # wildcard legs ($.*, $[*], $**.k) exceed get_json_object — route
        # to the Python path evaluator (declared in declare_udfs)
        return F.call_udf("json_extract_wild", _c(doc), F.lit(path))
    # NULL from get_json_object is ambiguous: missing key vs JSON null
    # value — the evaluator distinguishes (missing → NULL, null → 'null');
    # gate the per-row fallback on the document containing 'null' at all,
    # so the common missing-key case stays on the JVM fast path
    return F.coalesce(
        F.get_json_object(_c(doc), path),
        F.when(F.instr(_c(doc), "null") > 0,
               F.call_udf("json_extract_wild", _c(doc), F.lit(path))))


def _extract_wild(doc: str | None, path: str | None):
    """JSON_EXTRACT with wildcard path legs (reference sql/types/json_value.go
    path evaluation): `.*` all members, `[*]` all elements, `**` any depth.
    A wildcard path autowraps results as an array (MySQL semantics); no
    match → NULL."""
    if doc is None or path is None:
        return None
    try:
        obj = json.loads(doc)
    except ValueError:
        return None
    p = path.strip()
    if not p.startswith("$"):
        return None
    frontier, wild, i = [obj], False, 1
    while i < len(p):
        if p.startswith("**", i):
            wild = True
            out: list = []

            def desc(o):
                out.append(o)
                if isinstance(o, dict):
                    for v in o.values():
                        desc(v)
                elif isinstance(o, list):
                    for v in o:
                        desc(v)

            for o in frontier:
                desc(o)
            frontier = out
            i += 2
        elif p[i] == ".":
            i += 1
            if i < len(p) and p[i] == "*":
                wild = True
                frontier = [v for o in frontier if isinstance(o, dict)
                            for v in o.values()]
                i += 1
            elif i < len(p) and p[i] == '"':
                j = p.index('"', i + 1)
                key = p[i + 1:j]
                frontier = [o[key] for o in frontier
                            if isinstance(o, dict) and key in o]
                i = j + 1
            else:
                m = re.match(r"\w+", p[i:])
                if not m:
                    return None
                key = m.group(0)
                frontier = [o[key] for o in frontier
                            if isinstance(o, dict) and key in o]
                i += m.end()
        elif p[i] == "[":
            j = p.index("]", i)
            tok = p[i + 1:j].strip()
            if tok == "*":
                wild = True
                frontier = [v for o in frontier if isinstance(o, list)
                            for v in o]
            else:
                idx = int(tok)
                nxt = []
                for o in frontier:
                    if isinstance(o, list):
                        if idx < len(o):
                            nxt.append(o[idx])
                    elif idx == 0:
                        nxt.append(o)  # MySQL scalar autowrap: x == [x][0]
                frontier = nxt
            i = j + 1
        else:
            return None
    if not frontier:
        return None
    if wild or len(frontier) > 1:
        return json.dumps(frontier, separators=(", ", ": "))
    return json.dumps(frontier[0], separators=(", ", ": "))


def _json_unquote(x) -> Column:
    # full JSON string decode (\t, \uXXXX, \" …) via the JVM JSON parser:
    # wrap in a one-element array and extract (reference
    # sql/expression/function/json/json_unquote.go)
    x = _c(x)
    return F.when(
        x.startswith('"') & x.endswith('"'),
        F.get_json_object(F.concat(F.lit("["), x, F.lit("]")), "$[0]"),
    ).otherwise(x)


# ---- JSON mutation (Python UDF) --------------------------------------------

def _norm_path(path: str) -> list:
    """'$.a.b[0]' → ['a', 'b', 0] (subset of MySQL JSON path)."""
    assert path.startswith("$"), f"bad JSON path {path!r}"
    out: list = []
    for part in path[1:].replace("[", ".[").split("."):
        if not part:
            continue
        if part.startswith("["):
            out.append(int(part[1:-1]))
        else:
            out.append(part)
    return out


def _mutate(doc: str | None, path: str, value_json: str | None, mode: str):
    if doc is None:
        return None
    obj = json.loads(doc)
    keys = _norm_path(path)
    if not keys:
        return doc
    parent = obj
    for k in keys[:-1]:
        try:
            parent = parent[k]
        except (KeyError, IndexError, TypeError):
            return json.dumps(obj, separators=(", ", ": "))
    last = keys[-1]
    exists = (
        isinstance(parent, dict) and last in parent
        or isinstance(parent, list) and isinstance(last, int) and last < len(parent)
    )
    # SQL callers pass native scalars (JSON_SET(doc, path, 2)); the
    # DataFrame builders pass JSON-encoded text. Parse only strings that
    # ARE valid JSON; a non-JSON string is MySQL's string scalar.
    if value_json is None:
        val = None
    elif isinstance(value_json, str):
        try:
            val = json.loads(value_json)
        except ValueError:
            val = value_json
    else:
        val = value_json
    if mode == "set" or (mode == "insert" and not exists) or (
        mode == "replace" and exists
    ):
        try:
            parent[last] = val
        except (IndexError, TypeError):
            pass
    elif mode == "remove" and exists:
        del parent[last]
    elif mode == "array_append" and exists:
        tgt = parent[last]
        if isinstance(tgt, list):
            tgt.append(val)
        else:
            parent[last] = [tgt, val]
    return json.dumps(obj, separators=(", ", ": "))


def _merge_patch(a: str | None, b: str | None):
    if a is None or b is None:
        return None

    def patch(x, y):
        if not isinstance(y, dict):
            return y
        if not isinstance(x, dict):
            x = {}
        out = dict(x)
        for k, v in y.items():
            if v is None:
                out.pop(k, None)
            else:
                out[k] = patch(out.get(k), v)
        return out

    return json.dumps(patch(json.loads(a), json.loads(b)),
                      separators=(", ", ": "))


def _udfw(fn, rtype):
    """Wrap a Python fn as a UDF whose plain-Python args become literals
    (bare F.udf treats str args as column names)."""
    u = F.udf(fn, rtype)

    def call(*args):
        return u(*[_c(a) for a in args])

    # expose for the SQL-text declaration sweep (functions.declare_sql):
    # a udf-backed builder's underlying Python fn is declared directly
    call._py_fn, call._rtype = fn, rtype
    return call


_json_set_udf = _udfw(lambda d, p, v: _mutate(d, p, v, "set"), T.StringType())
_json_insert_udf = _udfw(lambda d, p, v: _mutate(d, p, v, "insert"), T.StringType())
_json_replace_udf = _udfw(lambda d, p, v: _mutate(d, p, v, "replace"), T.StringType())
_json_remove_udf = _udfw(lambda d, p: _mutate(d, p, None, "remove"), T.StringType())
_json_append_udf = _udfw(lambda d, p, v: _mutate(d, p, v, "array_append"),
                         T.StringType())
_json_merge_patch_udf = _udfw(_merge_patch, T.StringType())

JSON_FNS = {
    "json_array": lambda *a: F.to_json(F.array(*[_c(x) for x in a])),
    "json_object": lambda *kv: F.to_json(
        F.create_map(*[_c(x) for x in kv])
    ),
    "json_extract": _json_extract,
    "json_value": _json_extract,
    "json_unquote": _json_unquote,
    "json_quote": lambda s: F.concat(
        F.lit('"'), F.regexp_replace(_c(s), r'(["\\])', r"\\$1"), F.lit('"')
    ),
    "json_valid": lambda s: F.get_json_object(_c(s), "$").isNotNull().cast("int"),
    "json_length": lambda s, *p: F.json_array_length(
        F.get_json_object(_c(s), p[0]) if p else _c(s)
    ),
    "json_keys": lambda s, *p: F.to_json(F.json_object_keys(
        F.get_json_object(_c(s), p[0]) if p else _c(s)
    )),
    "json_depth": _udfw(
        lambda s: None if s is None else _depth(json.loads(s)), T.IntegerType()
    ),
    "json_type": _udfw(lambda s: None if s is None else _jtype(json.loads(s)),
                       T.StringType()),
    "json_contains": _udfw(
        lambda doc, cand: None if doc is None or cand is None
        else int(_contains(json.loads(doc), json.loads(cand))),
        T.IntegerType(),
    ),
    "json_set": _json_set_udf,
    "json_insert": _json_insert_udf,
    "json_replace": _json_replace_udf,
    "json_remove": _json_remove_udf,
    "json_array_append": _json_append_udf,
    "json_merge_patch": _json_merge_patch_udf,
    "json_pretty": _udfw(
        lambda s: None if s is None else json.dumps(json.loads(s), indent=2),
        T.StringType(),
    ),
}


def _depth(x) -> int:
    if isinstance(x, dict):
        return 1 + max((_depth(v) for v in x.values()), default=0)
    if isinstance(x, list):
        return 1 + max((_depth(v) for v in x), default=0)
    return 1


def _jtype(x) -> str:
    return {dict: "OBJECT", list: "ARRAY", str: "STRING", bool: "BOOLEAN",
            int: "INTEGER", float: "DOUBLE", type(None): "NULL"}[type(x)]


def _contains(doc, cand) -> bool:
    if isinstance(cand, dict):
        return isinstance(doc, dict) and all(
            k in doc and _contains(doc[k], v) for k, v in cand.items()
        )
    if isinstance(cand, list):
        return isinstance(doc, list) and all(
            any(_contains(d, c) for d in doc) for c in cand
        )
    if isinstance(doc, list):
        return cand in doc
    return doc == cand


# ---- crypto / encoding ------------------------------------------------------

_compress_udf = F.udf(
    lambda b: None if b is None else (
        len(b).to_bytes(4, "little") + zlib.compress(b) if b else b""
    ),
    T.BinaryType(),
)
_uncompress_udf = F.udf(
    lambda b: None if b is None else (zlib.decompress(bytes(b[4:])) if b else b""),
    T.BinaryType(),
)

CRYPTO_FNS = {
    "md5": lambda x: F.md5(_c(x).cast("binary")),
    "sha": lambda x: F.sha1(_c(x).cast("binary")),
    "sha1": lambda x: F.sha1(_c(x).cast("binary")),
    "sha2": lambda x, bits: F.sha2(_c(x).cast("binary"), bits),
    "compress": lambda x: _compress_udf(_c(x).cast("binary")),
    "uncompress": lambda x: _uncompress_udf(_c(x)),
    "uncompressed_length": lambda x: F.when(
        F.octet_length(_c(x)) == 0, 0
    ).otherwise(
        F.conv(F.concat(
            F.hex(F.substring(_c(x), 4, 1)), F.hex(F.substring(_c(x), 3, 1)),
            F.hex(F.substring(_c(x), 2, 1)), F.hex(F.substring(_c(x), 1, 1)),
        ), 16, 10).cast("long")
    ),
}

# ---- network / uuid ---------------------------------------------------------

def _inet_aton(ip) -> Column:
    p = F.split(_c(ip), r"\.")
    ok = F.size(p) == 4
    val = (
        p.getItem(0).cast("long") * 16777216 + p.getItem(1).cast("long") * 65536
        + p.getItem(2).cast("long") * 256 + p.getItem(3).cast("long")
    )
    return F.when(ok, val).otherwise(F.lit(None))


def _inet_ntoa(n) -> Column:
    n = _c(n).cast("long")
    return F.concat_ws(
        ".",
        ((n / 16777216) % 256).cast("long").cast("string"),
        ((n / 65536) % 256).cast("long").cast("string"),
        ((n / 256) % 256).cast("long").cast("string"),
        (n % 256).cast("string"),
    )


_IPV4_RE = r"^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$"
_UUID_RE = r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"

NETWORK_FNS = {
    "inet_aton": _inet_aton,
    "inet_ntoa": _inet_ntoa,
    "is_ipv4": lambda s: _c(s).rlike(_IPV4_RE).cast("int"),
    "is_ipv6": lambda s: (_c(s).contains(":") & _c(s).rlike(r"^[0-9a-fA-F:]+$")).cast("int"),
    "is_uuid": lambda s: _c(s).rlike(_UUID_RE).cast("int"),
    "uuid": lambda: F.expr("uuid()"),
    "uuid_to_bin": lambda s: F.unhex(F.regexp_replace(_c(s), "-", "")),
    "bin_to_uuid": lambda b: F.lower(F.concat_ws(
        "-",
        F.substring(F.hex(_c(b)), 1, 8), F.substring(F.hex(_c(b)), 9, 4),
        F.substring(F.hex(_c(b)), 13, 4), F.substring(F.hex(_c(b)), 17, 4),
        F.substring(F.hex(_c(b)), 21, 12),
    )),
}

# ---- system / session -------------------------------------------------------

SYSTEM_FNS = {
    "connection_id": lambda: F.lit(1).cast("long"),
    "database": lambda: F.lit("mydb"),
    "schema": lambda: F.lit("mydb"),
    "user": lambda: F.lit("root@localhost"),
    "current_user": lambda: F.lit("root@localhost"),
    "version": lambda: F.lit("8.0.0-gms-spark"),
    "found_rows": lambda: F.lit(0).cast("long"),
    "row_count": lambda: F.lit(-1).cast("long"),
    "sleep": lambda s: F.lit(0),  # no-op: blocking a distributed task is wrong
    "get_lock": lambda name, timeout: F.lit(1),   # single-session semantics
    "release_lock": lambda name: F.lit(1),
    "is_free_lock": lambda name: F.lit(1),
    "last_insert_id": lambda: F.lit(0).cast("long"),
}

# ---- vector -----------------------------------------------------------------

def _vec(x) -> Column:
    return F.transform(_c(x), lambda v: v.cast("double"))


def _vdot(a, b) -> Column:
    return F.aggregate(F.zip_with(_vec(a), _vec(b), lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _l2sq(a, b) -> Column:
    return F.aggregate(
        F.zip_with(_vec(a), _vec(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x,
    )


VECTOR_FNS = {
    # reference function/vector/distance.go:62-145
    "vec_distance": _l2sq,               # MySQL default metric: L2²
    "vec_distance_l2_squared": _l2sq,
    "vec_distance_euclidean": lambda a, b: F.sqrt(_l2sq(a, b)),
    "vec_distance_cosine": lambda a, b: F.lit(1.0) - _vdot(a, b) / (
        F.sqrt(_vdot(a, a)) * F.sqrt(_vdot(b, b))
    ),
    "vector_to_string": lambda v: F.to_json(_c(v)),
    "vec_totext": lambda v: F.to_json(_c(v)),
    "string_to_vector": lambda s: F.from_json(_c(s), "array<float>"),
    "vec_fromtext": lambda s: F.from_json(_c(s), "array<float>"),
}

FUNCTIONS = {**JSON_FNS, **CRYPTO_FNS, **NETWORK_FNS, **SYSTEM_FNS, **VECTOR_FNS}


def declare_udfs(reg) -> None:
    """Declare the UDF-backed shims SQL text calls (`sql_index`)."""
    reg.udf("json_set", lambda d, p, v: _mutate(d, p, v, "set"),
            T.StringType())
    reg.udf("json_insert", lambda d, p, v: _mutate(d, p, v, "insert"),
            T.StringType())
    reg.udf("json_replace", lambda d, p, v: _mutate(d, p, v, "replace"),
            T.StringType())
    reg.udf("json_remove", lambda d, p: _mutate(d, p, None, "remove"),
            T.StringType())
    reg.udf("json_merge_patch", _merge_patch, T.StringType())
    # SQL-text spellings for the remaining JSON inspectors (reference
    # sql/expression/function/json/json_{depth,type,quote,search,length}.go)
    reg.udf(
        "json_depth",
        lambda s: None if s is None else _depth(json.loads(s)),
        T.IntegerType())
    def _jtype_sql(s):
        if s is None:
            return None
        try:
            return _jtype(json.loads(s))
        except ValueError:
            # an extracted string value arrives unquoted → STRING
            return "STRING"

    reg.udf("json_type", _jtype_sql, T.StringType())
    reg.udf(
        "json_quote",
        lambda s: None if s is None else json.dumps(s),
        T.StringType())
    from .extra_fns import _json_search
    reg.udf("json_search", _json_search, T.StringType())
    # (json_length is a SQL macro — dialect/sql_macros.py — not a UDF)
    reg.udf(
        "json_contains",
        lambda doc, cand: None if doc is None or cand is None
        else int(_contains(json.loads(doc), json.loads(cand))),
        T.IntegerType())
    # Runtime MySQL-%-token → Java DateTimeFormatter translation for the
    # dynamic-format branch of DATE_FORMAT/STR_TO_DATE (dialect/transpiler.py)
    from ..dialect.transpiler import translate_datetime_format as _tdf
    reg.udf(
        "mysql_datefmt_to_java",
        lambda f: None if f is None else _tdf(f), T.StringType())
    reg.udf(
        "mysql_datefmt_to_java_parse",
        lambda f: None if f is None else _tdf(f, parse=True), T.StringType())
    reg.udf("json_extract_wild", _extract_wild, T.StringType())

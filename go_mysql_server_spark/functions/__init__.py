"""MySQL scalar-function shim registry.

The reference registers ~300 scalar functions by name
(reference sql/expression/function/registry.go). Here each MySQL name maps
to a builder `(*Column) -> Column` producing idiomatic Spark expressions —
JVM-side compositions of pyspark.sql.functions wherever possible; Python
UDFs only for the few semantics Spark can't express (MySQL JSON mutation,
compress). `mysql_fn(name, *cols)` is the uniform entry point;
`declare_sql` declares the UDF-backed names to the SQL-text index
(`sql_index`), which registers each when a statement first calls it.

Coverage philosophy: ~80% of MySQL names have same-name Spark builtins
(SURVEY.md §2.9 table); those map 1:1. The rest are MySQL-specific
(dayname, to_days, inet_aton, …) and are built as expression compositions
documented per-function.
"""

from __future__ import annotations

from pyspark.sql import Column

from . import datetime_fns, extra_fns, scalar_basic, spatial, special, wkb_fns

REGISTRY: dict[str, object] = {}
for mod in (scalar_basic, datetime_fns, special, spatial, extra_fns, wkb_fns):
    REGISTRY.update(mod.FUNCTIONS)


def mysql_fn(name: str, *args) -> Column:
    """Build a Column for the MySQL function `name` (case-insensitive)."""
    try:
        builder = REGISTRY[name.lower()]
    except KeyError:
        raise KeyError(f"unknown MySQL function: {name}") from None
    return builder(*args)


def names() -> list[str]:
    return sorted(REGISTRY)


def declare_sql(reg) -> None:
    """Declare the SQL-text twins of the builders (`sql_index`): the JSON
    UDFs, the table functions, the UDF-backed builders, spatial SQL and
    the misc bridges, in that precedence order."""
    special.declare_udfs(reg)
    from .udtf_fns import declare_udtfs
    declare_udtfs(reg)
    _declare_udf_backed_builders(reg)
    from .spatial_sql import declare_spatial_sql
    declare_spatial_sql(reg)
    _declare_misc_sql(reg)


def _declare_udf_backed_builders(reg) -> None:
    """Generic SQL-text sweep: every REGISTRY builder created through
    `_udfw` carries its underlying Python fn (`_py_fn`) — declare it
    under the MySQL name so SQL-text callers resolve it, unless Spark (or
    an earlier declaration) already owns the name. r4 audit found 111 of
    the 329 reference names were DataFrame-builder-only."""
    # Spark 4 owns some of these names with INCOMPATIBLE semantics (its
    # json_array_insert differs from MySQL's); force ours for those — a
    # registered temp function shadows the builtin.
    force = {"json_array_insert"}
    for name, builder in REGISTRY.items():
        fn = getattr(builder, "_py_fn", None)
        if fn is not None:
            reg.udf(name, fn, builder._rtype, yields=name not in force)


def _declare_misc_sql(reg) -> None:
    """Hand bridges for pure-Column builders whose SQL twins are small
    (reference registry.go names with no Spark builtin and no UDF body)."""
    import datetime as _dt
    import os as _os
    import secrets as _secrets
    import uuid as _uuid

    from pyspark.sql import types as T

    def _reg(name, fn, rtype):
        reg.udf(name, fn, rtype, yields=True)

    def _convert_tz(ts, from_tz, to_tz):
        if ts is None or from_tz is None or to_tz is None:
            return None

        def off(tz):
            if tz.upper() in ("UTC", "SYSTEM"):
                return _dt.timedelta(0)
            m = __import__("re").match(r"([+-])(\d{1,2}):(\d{2})$", tz)
            if not m:
                return None
            sign = 1 if m.group(1) == "+" else -1
            return sign * _dt.timedelta(hours=int(m.group(2)),
                                        minutes=int(m.group(3)))

        a, b = off(from_tz), off(to_tz)
        if a is None or b is None:
            return None
        t = _dt.datetime.fromisoformat(str(ts))
        return (t - a + b).strftime("%Y-%m-%d %H:%M:%S")

    _reg("convert_tz", _convert_tz, T.StringType())

    _GET_FORMATS = {
        ("DATE", "USA"): "%m.%d.%Y", ("DATE", "JIS"): "%Y-%m-%d",
        ("DATE", "ISO"): "%Y-%m-%d", ("DATE", "EUR"): "%d.%m.%Y",
        ("DATE", "INTERNAL"): "%Y%m%d",
        ("DATETIME", "USA"): "%Y-%m-%d %H.%i.%s",
        ("DATETIME", "JIS"): "%Y-%m-%d %H:%i:%s",
        ("DATETIME", "ISO"): "%Y-%m-%d %H:%i:%s",
        ("DATETIME", "EUR"): "%Y-%m-%d %H.%i.%s",
        ("DATETIME", "INTERNAL"): "%Y%m%d%H%i%s",
        ("TIME", "USA"): "%h:%i:%s %p", ("TIME", "JIS"): "%H:%i:%s",
        ("TIME", "ISO"): "%H:%i:%s", ("TIME", "EUR"): "%H.%i.%s",
        ("TIME", "INTERNAL"): "%H%i%s",
    }

    def _get_format(kind, loc):
        if kind is None or loc is None:
            return None
        return _GET_FORMATS.get((str(kind).upper(), str(loc).upper()))

    _reg("get_format", _get_format, T.StringType())

    def _timediff(a, b):
        if a is None or b is None:
            return None

        def parse(s):
            s = str(s)
            if " " in s or "T" in s:
                return _dt.datetime.fromisoformat(s.replace("T", " "))
            h, m, sec = (s.split(":") + ["0", "0"])[:3]
            return _dt.datetime(1970, 1, 1, 0, 0, 0) + _dt.timedelta(
                hours=int(h), minutes=int(m), seconds=float(sec))

        d = parse(a) - parse(b)
        neg = d.total_seconds() < 0
        d = abs(d)
        hours = d.days * 24 + d.seconds // 3600
        return (f"{'-' if neg else ''}{hours:02d}:"
                f"{(d.seconds // 60) % 60:02d}:{d.seconds % 60:02d}")

    _reg("timediff", _timediff, T.StringType())
    _reg("microsecond",
         lambda ts: None if ts is None
         else _dt.datetime.fromisoformat(str(ts).replace("T", " ")).microsecond,
         T.IntegerType())
    # volatile functions: registered asNondeterministic so Catalyst never
    # constant-folds or CSE-shares a call — a "deterministic" uuid_short
    # would return one value for every row of a scan
    def _reg_volatile(name, fn, rtype):
        reg.udf(name, fn, rtype, yields=True, volatile=True)

    _reg_volatile(
        "utc_timestamp",
        lambda: _dt.datetime.now(_dt.timezone.utc).strftime(
            "%Y-%m-%d %H:%M:%S"),
        T.StringType())
    _reg_volatile(
        "uuid_short",
        lambda: int.from_bytes(_os.urandom(7), "big"), T.LongType())
    _reg_volatile(
        "random_bytes",
        lambda n: None if n is None else _secrets.token_bytes(int(n)),
        T.BinaryType())

    def _sleep(n):
        import time as _t
        if n is not None:
            _t.sleep(min(float(n), 5.0))  # bounded: test harness safety
        return 0

    _reg_volatile("sleep", _sleep, T.IntegerType())
    _reg("load_file", lambda p: None, T.StringType())  # priv-gated → NULL
    _reg("is_used_lock", lambda name: None, T.LongType())  # no lock held
    _reg("is_binary",
         lambda v: None if v is None else int(isinstance(v, (bytes, bytearray))),
         T.IntegerType())

    def _pw_strength(pw):
        if pw is None:
            return None
        pw = str(pw)
        score = 0
        if len(pw) >= 4:
            score = 25
        if len(pw) >= 8:
            score = 50
            classes = sum((any(c.islower() for c in pw),
                           any(c.isupper() for c in pw),
                           any(c.isdigit() for c in pw),
                           any(not c.isalnum() for c in pw)))
            if classes >= 3:
                score = 75
            if classes == 4:
                score = 100
        return score

    _reg("validate_password_strength", _pw_strength, T.IntegerType())

    def _pw_strength_policy(pw, length, ncount, mcount, scount):
        """Policy-parameterized strength (reference sql/expression/
        function/hash.go ValidatePasswordStrength.Eval): 0 below 4
        chars, 25 below validate_password.length, 50 when the
        number/mixed-case/special counts fail, else 100 (dictionary
        matching unsupported upstream too)."""
        if pw is None:
            return None
        pw = str(pw)
        if len(pw) < 4:
            return 0
        if len(pw) < int(length):
            return 25
        num, lower, upper, special = (int(ncount), int(mcount),
                                      int(mcount), int(scount))
        for c in pw:
            if c.isdigit():
                num -= 1
            elif c.isupper():
                upper -= 1
            elif c.islower():
                lower -= 1
            else:
                special -= 1
        if num > 0 or upper > 0 or lower > 0 or special > 0:
            return 50
        return 100

    _reg("validate_password_strength_policy", _pw_strength_policy,
         T.IntegerType())

    # utf8mb4 charset validation on binary→string conversion (reference
    # sql/types/strings.go charset validation): lenient mode keeps the
    # longest valid prefix (truncates at the first invalid byte)
    def _utf8_lenient(b):
        if b is None:
            return None
        if isinstance(b, str):
            return b
        try:
            return bytes(b).decode("utf-8")
        except UnicodeDecodeError as e:
            return bytes(b)[:e.start].decode("utf-8", "ignore")

    def _utf8_valid(b):
        if b is None:
            return None
        if isinstance(b, str):
            return True
        try:
            bytes(b).decode("utf-8")
            return True
        except UnicodeDecodeError:
            return False

    _reg("mysql_utf8_lenient", _utf8_lenient, T.StringType())
    _reg("mysql_utf8_valid", _utf8_valid, T.BooleanType())

    # MySQL extended REGEXP_* signatures (position / occurrence /
    # return-option / match-flags args — reference sql/expression/
    # function/regexp_*.go). Spark's builtins cover only the base
    # arities; these UDFs back the long forms. MySQL flags: the LAST of
    # conflicting 'c'/'i' wins; 'm'/'n'/'u' map to re.M/re.S.
    import re as _re

    def _re_compile(pattern, flags):
        f = 0
        eff_ci = None
        for ch in str(flags or ""):
            if ch == "i":
                eff_ci = "i"
            elif ch == "c":
                eff_ci = "c"
            elif ch == "m":
                f |= _re.M
            elif ch == "n":
                f |= _re.S
        if eff_ci == "i":
            f |= _re.I
        return _re.compile(pattern, f)

    def _mysql_regexp_like(s, p, flags=None):
        if s is None or p is None:
            return None
        return int(bool(_re_compile(p, flags).search(str(s))))

    def _mysql_regexp_instr(s, p, pos=1, occ=1, ret=0, flags=None):
        if s is None or p is None or pos is None or occ is None:
            return None
        s = str(s)
        rx = _re_compile(p, flags)
        start = max(int(pos) - 1, 0)
        n = 0
        for m in rx.finditer(s, start):
            n += 1
            if n == int(occ):
                return (m.end() + 1) if int(ret or 0) else (m.start() + 1)
        return 0

    def _mysql_regexp_substr(s, p, pos=1, occ=1, flags=None):
        if s is None or p is None or pos is None or occ is None:
            return None
        s = str(s)
        rx = _re_compile(p, flags)
        n = 0
        for m in rx.finditer(s, max(int(pos) - 1, 0)):
            n += 1
            if n == int(occ):
                return m.group(0)
        return None

    def _mysql_regexp_replace(s, p, r, pos=1, occ=0, flags=None):
        if s is None or p is None or r is None or pos is None \
                or occ is None:
            return None
        s = str(s)
        rx = _re_compile(p, flags)
        start = max(int(pos) - 1, 0)
        head, tail = s[:start], s[start:]
        rep = str(r).replace("\\", "\\\\")
        occ = int(occ)
        if occ == 0:
            return head + rx.sub(rep, tail)
        n = 0
        out, last = [], 0
        for m in rx.finditer(tail):
            n += 1
            if n == occ:
                out.append(tail[last:m.start()])
                out.append(str(r))
                last = m.end()
                break
        out.append(tail[last:])
        return head + "".join(out)

    # SQL-callable inet twins (the Column builders in special.py have no
    # _py_fn; reference sql/expression/function/inet.go, including
    # MySQL's short forms: '127.1' = 127<<24 | 1)
    def _inet_aton_py(ip):
        if ip is None:
            return None
        parts = str(ip).split(".")
        try:
            vals = [int(x) for x in parts]
        except ValueError:
            return None
        if not 1 <= len(vals) <= 4 or any(v < 0 or v > 255 for v in vals):
            return None
        # the LAST group fills the remaining low bytes (MySQL short form)
        raw = bytes(vals[:-1]) + b"\x00" * (4 - len(vals)) \
            + bytes([vals[-1]])
        return int.from_bytes(raw, "big")

    def _inet_ntoa_py(n):
        if n is None:
            return None
        try:
            v = int(float(n)) & 0xFFFFFFFF
        except (TypeError, ValueError):
            v = 0  # MySQL's lax numeric parse of junk input
        return ".".join(str((v >> s) & 255) for s in (24, 16, 8, 0))

    _reg("inet_aton", _inet_aton_py, T.LongType())
    _reg("inet_ntoa", _inet_ntoa_py, T.StringType())

    def _mysql_trim(mode, rem, s):
        """TRIM([LEADING|TRAILING|BOTH] remstr FROM str): MySQL removes
        the WHOLE remstr repeatedly (reference sql/expression/function/
        str.go Trim) — Spark's trim removes a character SET."""
        if s is None or rem is None:
            return None
        s, rem = str(s), str(rem)
        if not rem:
            return s
        if mode in ("leading", "both"):
            while s.startswith(rem):
                s = s[len(rem):]
        if mode in ("trailing", "both"):
            while s.endswith(rem):
                s = s[:-len(rem)]
        return s

    _reg("mysql_trim", _mysql_trim, T.StringType())

    def _mysql_format_locale(x, d, loc):
        """FORMAT(x, d, locale) (reference sql/expression/function/
        format.go): en-style grouping, with comma/point swapped for the
        European locales the reference's tests exercise."""
        if x is None or d is None:
            return None
        nd = max(int(float(d)), 0)
        s = f"{float(x):,.{nd}f}"
        head = str(loc or "en_US").replace("-", "_").split("_")[0].lower()
        if head in ("da", "de", "es", "it", "nl", "pt", "tr", "id",
                    "hr", "ro", "sr", "sk", "sl", "el", "bg", "vi"):
            s = (s.replace(",", "\x00").replace(".", ",")
                 .replace("\x00", "."))
        return s

    _reg("mysql_format_locale", _mysql_format_locale, T.StringType())

    def _mysql_soundex(s):
        """MySQL SOUNDEX keeps EVERY consonant digit (no 4-char cap;
        reference sql/expression/function/soundex.go)."""
        if s is None:
            return None
        s = str(s)
        codes = {**{c: "1" for c in "bfpvBFPV"},
                 **{c: "2" for c in "cgjkqsxzCGJKQSXZ"},
                 **{c: "3" for c in "dtDT"}, "l": "4", "L": "4",
                 **{c: "5" for c in "mnMN"}, "r": "6", "R": "6"}
        i = 0
        while i < len(s) and not s[i].isalpha():
            i += 1
        if i == len(s):
            return ""
        out = [s[i].upper()]
        last = codes.get(s[i], "")
        for c in s[i + 1:]:
            code = codes.get(c, "")
            if code and code != last:
                out.append(code)
            if c.isalpha():
                last = code
        res = "".join(out)
        return res if len(res) >= 4 else res + "0" * (4 - len(res))

    _reg("mysql_soundex", _mysql_soundex, T.StringType())

    def _load_unescape(s, e):
        """LOAD DATA ESCAPED BY decoding (reference sql/plan/load_data.go
        unescape): e0→NUL, eb→\\b, en→\\n, er→\\r, et→\\t, eZ→^Z, eN→NULL
        (whole field), e<any>→<any>."""
        if s is None or not e:
            return s
        s = str(s)
        if s == e + "N":
            return None
        if e not in s:
            return s
        special = {"0": "\x00", "b": "\b", "n": "\n", "r": "\r",
                   "t": "\t", "Z": "\x1a"}
        out, i = [], 0
        while i < len(s):
            c = s[i]
            if c == e and i + 1 < len(s):
                out.append(special.get(s[i + 1], s[i + 1]))
                i += 2
            else:
                out.append(c)
                i += 1
        return "".join(out)

    _reg("mysql_load_unescape", _load_unescape, T.StringType())

    _reg("mysql_regexp_like", _mysql_regexp_like, T.IntegerType())
    _reg("mysql_regexp_instr", _mysql_regexp_instr, T.IntegerType())
    _reg("mysql_regexp_substr", _mysql_regexp_substr, T.StringType())
    _reg("mysql_regexp_replace", _mysql_regexp_replace, T.StringType())
    _reg("coercibility", lambda e: 4 if e is not None else 6, T.IntegerType())
    _reg("gtid_subtract", wkb_fns._gtid_subtract, T.StringType())
    _reg("json_schema_validation_report", wkb_fns._schema_report,
         T.StringType())

    def _json_storage_size(s):
        # bytes of the compact encoding — a deterministic stand-in for
        # MySQL's binary-JSON size (documented divergence; ours is the
        # text engine's honest answer)
        import json as _j
        if s is None:
            return None
        try:
            return len(_j.dumps(_j.loads(s),
                                separators=(",", ":")).encode())
        except ValueError:
            return None

    _reg("json_storage_size", _json_storage_size, T.IntegerType())

    # UUID helpers (reference sql/expression/function/uuid.go): IS_UUID
    # accepts dashed, undashed, and braced forms; UUID_TO_BIN/BIN_TO_UUID
    # round-trip 16-byte values with the optional time-swap flag that
    # moves the time-low group for index-friendly ordering.
    _uuid_re = __import__("re").compile(
        r"^\{?[0-9a-fA-F]{8}-?[0-9a-fA-F]{4}-?[0-9a-fA-F]{4}-?"
        r"[0-9a-fA-F]{4}-?[0-9a-fA-F]{12}\}?$")

    def _is_uuid(s):
        if s is None:
            return None
        return int(bool(_uuid_re.match(str(s))))

    def _uuid_to_bin(s, swap=0):
        if s is None:
            return None
        t = str(s).strip("{}").replace("-", "")
        if len(t) != 32:
            raise ValueError(f"Incorrect string value: '{s}' for "
                             "function uuid_to_bin")
        raw = bytes.fromhex(t)
        if swap:
            raw = raw[6:8] + raw[4:6] + raw[0:4] + raw[8:]
        return raw

    def _bin_to_uuid(b, swap=0):
        if b is None:
            return None
        if isinstance(b, str):
            b = b.encode("latin-1", "ignore")
        if len(b) != 16:
            raise ValueError("Incorrect binary value for function "
                             "bin_to_uuid: need 16 bytes")
        if swap:
            b = b[4:8] + b[2:4] + b[0:2] + b[8:]
        h = b.hex()
        return f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"

    _reg("is_uuid", _is_uuid, T.IntegerType())
    _reg("uuid_to_bin", _uuid_to_bin, T.BinaryType())
    _reg("bin_to_uuid", _bin_to_uuid, T.StringType())
    # a freshly-provided JSON text has no freed slack
    _reg("json_storage_free",
         lambda s: None if s is None else 0, T.IntegerType())
    # vector functions over JSON-array text (reference vector registry
    # names; the DataFrame builders stay the scan-side implementations)
    import json as _json
    import math as _math

    def _to_vector(s):
        if s is None:
            return None
        import struct as _struct
        v = [float(x) for x in _json.loads(s)]
        return _struct.pack(f"<{len(v)}f", *v)

    def _from_vector(b):
        if b is None:
            return None
        import struct as _struct
        v = _struct.unpack(f"<{len(b) // 4}f", b)
        return "[" + ",".join(repr(round(x, 6)) for x in v) + "]"

    def _vec_distance(metric, a, b):
        if a is None or b is None:
            return None
        va = [float(x) for x in _json.loads(a)]
        vb = [float(x) for x in _json.loads(b)]
        m = str(metric).upper() if metric else "L2_SQUARED"
        if m in ("L2", "EUCLIDEAN"):
            return _math.sqrt(sum((x - y) ** 2 for x, y in zip(va, vb)))
        return sum((x - y) ** 2 for x, y in zip(va, vb))

    _reg("to_vector", _to_vector, T.BinaryType())
    _reg("string_to_vector", _to_vector, T.BinaryType())
    _reg("from_vector", _from_vector, T.StringType())
    _reg("vector_to_string", _from_vector, T.StringType())
    _reg("distance",
         lambda a, b: _vec_distance(None, a, b), T.DoubleType())

"""Spark 4 SQL-UDF macros for MySQL functions Spark SQL lacks.

The Column-builder registry (functions/) covers the DataFrame API; these
make the same shims callable from SQL text (Engine statements). Each is a
`CREATE TEMPORARY FUNCTION ... RETURN expr` macro — Catalyst inlines the
body into the caller, so they cost the same as writing the expression by
hand (no Python round-trip). Reference: sql/expression/function/time.go.
"""

from __future__ import annotations

_T2S = ("(CAST(split({t}, ':')[0] AS BIGINT) * 3600"
        " + CAST(split({t}, ':')[1] AS BIGINT) * 60"
        " + CAST(CAST(split({t}, ':')[2] AS DOUBLE) AS BIGINT))")

_S2T = ("format_string('%02d:%02d:%02d', CAST({s} / 3600 AS BIGINT), "
        "CAST(({s} % 3600) / 60 AS BIGINT), CAST({s} % 60 AS BIGINT))")

_MACROS = [
    ("time_to_sec", "(t STRING)", "BIGINT", _T2S.format(t="t")),
    ("sec_to_time", "(s BIGINT)", "STRING", _S2T.format(s="s")),
    ("addtime", "(t STRING, d STRING)", "STRING",
     _S2T.format(s=f"({_T2S.format(t='t')} + {_T2S.format(t='d')})")),
    ("subtime", "(t STRING, d STRING)", "STRING",
     _S2T.format(s=f"({_T2S.format(t='t')} - {_T2S.format(t='d')})")),
    ("maketime", "(h BIGINT, m BIGINT, s BIGINT)", "STRING",
     "format_string('%02d:%02d:%02d', h, m, s)"),
    # MySQL TO_DAYS('2020-01-01') = 737790 (matches functions/datetime_fns)
    ("to_days", "(d DATE)", "BIGINT", "datediff(d, DATE '0000-01-01')"),
    # inverse: FROM_DAYS(to_days(d)) = d; 719528 = TO_DAYS('1970-01-01')
    ("from_days", "(n BIGINT)", "DATE",
     "date_add(DATE '1970-01-01', CAST(n - 719528 AS INT))"),
    # ORD: code point of the first character as its UTF-8 byte sequence read
    # as a big-endian integer (MySQL's multibyte definition, string.go Ord)
    ("ord", "(s STRING)", "BIGINT",
     "CAST(conv(hex(encode(substring(s, 1, 1), 'UTF-8')), 16, 10) AS BIGINT)"),
    # WEEK mode 0 (Sunday-start, days before the first Sunday are week 0):
    # floor((doy-1 + weekday0(jan1)) / 7) with Sunday=0 weekday index
    ("week", "(d DATE)", "INT",
     "CAST(FLOOR((dayofyear(d) - 1 + (dayofweek(make_date(year(d), 1, 1)) - 1))"
     " / 7) AS INT)"),
    ("yearweek", "(d DATE)", "BIGINT",
     # week 0 belongs to the previous year (MySQL YEARWEEK mode 0)
     "CAST(CASE WHEN FLOOR((dayofyear(d) - 1 + (dayofweek(make_date(year(d), 1, 1)) - 1)) / 7) = 0 "
     "THEN (year(d) - 1) * 100 + FLOOR((dayofyear(make_date(year(d) - 1, 12, 31)) - 1 "
     "     + (dayofweek(make_date(year(d) - 1, 1, 1)) - 1)) / 7) "
     "ELSE year(d) * 100 + FLOOR((dayofyear(d) - 1 + (dayofweek(make_date(year(d), 1, 1)) - 1)) / 7) "
     "END AS BIGINT)"),
    # PERIOD_ADD/PERIOD_DIFF: YYYYMM arithmetic (date_and_time.go)
    ("period_add", "(p BIGINT, n BIGINT)", "BIGINT",
     "((CAST(p / 100 AS BIGINT) * 12 + p % 100 - 1 + n) DIV 12) * 100 "
     "+ (CAST(p / 100 AS BIGINT) * 12 + p % 100 - 1 + n) % 12 + 1"),
    ("period_diff", "(a BIGINT, b BIGINT)", "BIGINT",
     "(CAST(a / 100 AS BIGINT) * 12 + a % 100) "
     "- (CAST(b / 100 AS BIGINT) * 12 + b % 100)"),
    # JSON read family (same get_json_object approximation as the Column
    # registry, functions/special.py — numbers/strings come back unquoted)
    # wildcard legs ($.*, $[*], $**.k) route to the Python path evaluator;
    # plain paths stay on the JVM fast path
    # plain paths stay JVM-side; a NULL result falls back to the Python
    # evaluator ONLY when the doc can possibly hold a JSON null (it must
    # contain the token 'null' somewhere) — that distinguishes a MISSING
    # key (SQL NULL) from a present key holding JSON null (returns
    # 'null', reference json_extract.go) without paying a per-row Python
    # round trip for the common missing-key case on large scans
    ("json_extract", "(doc STRING, p STRING)", "STRING",
     "IF(instr(p, '*') > 0, json_extract_wild(doc, p), "
     "COALESCE(get_json_object(doc, p), "
     "IF(instr(doc, 'null') > 0, json_extract_wild(doc, p), NULL)))"),
    ("json_value", "(doc STRING, p STRING)", "STRING",
     "get_json_object(doc, p)"),
    ("json_unquote", "(s STRING)", "STRING",
     "IF(left(s, 1) = '\"' AND right(s, 1) = '\"', "
     "substring(s, 2, char_length(s) - 2), s)"),
    ("json_valid", "(s STRING)", "INT",
     "CAST(get_json_object(s, '$') IS NOT NULL AS INT)"),
    # object → #keys, array → #elements, scalar → 1 (json.go JsonLength)
    ("json_length", "(s STRING)", "BIGINT",
     "CAST(CASE WHEN left(ltrim(s), 1) = '[' THEN json_array_length(s) "
     "WHEN left(ltrim(s), 1) = '{' THEN size(json_object_keys(s)) "
     "ELSE 1 END AS BIGINT)"),
    ("json_keys", "(s STRING)", "STRING", "to_json(json_object_keys(s))"),
    # introspection of the (single) charset/collation this engine runs with
    # (prefixed names: Spark 4 has its own builtin collation())
    ("mysql_charset", "(x STRING)", "STRING", "'utf8mb4'"),
    ("mysql_collation", "(x STRING)", "STRING", "'utf8mb4_0900_ai_ci'"),
    # EXPORT_SET, 5-arg form (the 3/4-arg forms are padded by the
    # transpiler with ',' and 64)
    ("export_set", "(bits BIGINT, onv STRING, offv STRING, sep STRING, n INT)",
     "STRING",
     "array_join(transform(sequence(0, n - 1), "
     "i -> IF(shiftright(bits, i) & 1 = 1, onv, offv)), sep)"),
]


def declare(reg) -> None:
    for name, params, rtype, body in _MACROS:
        reg.macro(name, params, rtype, body)

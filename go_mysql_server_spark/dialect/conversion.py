"""MySQL's write-time value conversion as Spark SQL text: the literal
spelling of a string, the implicit default of a NOT NULL column and the
lenient (IGNORE / non-strict) conversion of a value into a column
(reference sql/types/*.go Convert). Each takes a column definition with
the engine's `ColumnDef` fields and returns text a projection embeds, so a
whole row converts in one py4j call.
"""

from __future__ import annotations


def str_literal(value: str) -> str:
    """A value → canonical single-quoted literal (backslash escapes, the
    one spelling every downstream consumer — VALUES fill, SHOW CREATE,
    the transpiler's masking — reads unambiguously)."""
    return "'" + (value.replace("\\", "\\\\").replace("'", "\\'")
                  .replace("\t", "\\t").replace("\n", "\\n")
                  .replace("\r", "\\r")) + "'"


def implicit_default(c) -> str:
    """MySQL's implicit default of NOT NULL column `c`, as SQL text, which
    a NULL takes outside strict mode: the first ENUM member, '', the zero
    date, else 0."""
    t = c.spark_type.simpleString()
    if c.enum_values:
        return str_literal(c.enum_values[0])
    if t == "string":
        return "''"
    if t in ("date", "timestamp"):
        return f"CAST('1970-01-01' AS {t})"
    return f"CAST(0 AS {t})"


def lenient_sql(c, src: str) -> str:
    """IGNORE-mode value conversion of SQL text `src` (reference
    sql/plan/update.go / insert.go Ignore + types/number.go non-strict
    conversion): MySQL downgrades errors to warnings — NULL into NOT
    NULL becomes the type's implicit default, out-of-range integers
    clamp to the bound. The clamp happens at a wide type BEFORE the
    destination cast (the narrow cast would wrap first and the clamp
    would no-op)."""
    t = c.spark_type.simpleString()
    expr = f"({src})"
    if c.int_bounds is not None:
        # bounds as string literals: BIGINT UNSIGNED's 2^64-1 is no
        # long. greatest/least skip NULLs — keep NULL NULL (the NOT
        # NULL implicit default below handles it if needed). A
        # non-NULL value whose wide cast is NULL ('abc' into INT) is
        # MySQL's unparseable-string case: converts to 0, NOT to the
        # type minimum that greatest(NULL, lo) would produce.
        wide = "DECIMAL(38,0)"
        base = f"CAST({expr} AS {wide})"
        lo, hi = (f"CAST('{b}' AS {wide})" for b in c.int_bounds)
        expr = (f"CASE WHEN {expr} IS NULL THEN CAST(NULL AS {wide}) "
                f"WHEN {base} IS NULL THEN CAST(0 AS {wide}) "
                f"ELSE least(greatest({base}, {lo}), {hi}) END")
    expr = f"CAST({expr} AS {t})"
    if c.char_length is not None and t == "string":
        # over-length strings truncate to the declared CHAR/VARCHAR
        # length with a warning in MySQL's non-strict path
        expr = f"substring({expr}, 1, {c.char_length})"
    if not c.nullable:
        dflt = ("''" if t == "string"
                else f"CAST('1970-01-01' AS {t})"
                if t in ("date", "timestamp") else f"CAST(0 AS {t})")
        expr = f"coalesce({expr}, {dflt})"
    return expr

"""Collation-aware comparison layer (utf8mb4_0900_ai_ci and friends).

MySQL's default collation makes ordinary string comparison case- AND
accent-insensitive (reference sql/collations.go — utf8mb4_0900_ai_ci is
Collation_Default; sql/encodings/ holds the weight tables). Spark compares
binary. The bridge is a *collation key*: a deterministic fold applied to
both operands of =, GROUP BY, and ORDER BY.

Key = lower() + accent strip over the Latin/Latin-1/Latin-Extended-A range
(the range the reference's collation test corpus exercises; full
ICU-weight-table parity would need a UDF and is documented as out of
scope). Implemented with translate() — a whole-stage-codegen JVM
expression available identically in DuckDB, so every CI query is
oracle-checkable.

At 100 TB: the fold is a scan-side projection (no shuffle, pushdown keeps
working on the raw column); a CI GROUP BY shuffles on the folded key,
which also *merges* skew that differs only by case.

`declare(reg)` exposes the same fold as a SQL-level function
(Spark 4 SQL UDF — a macro, not a Python UDF) and the transpiler rewrites
`expr COLLATE utf8mb4_..._ci` to `mysql_ci_key(expr)`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# lower() runs first, so the table only needs lowercase forms. Generated
# from NFKD decomposition over U+00C0..U+024F (Latin-1 Supplement +
# Latin Extended-A/B), keeping single-ASCII-base letters.
ACCENT_SRC = (
    "àáâãäåçèéêëìíîïñòóôõöùúûüýÿāăąćĉċčďēĕėęěĝğġģĥĩīĭįĵķĺļľńņňōŏőŕŗřśŝşš"
    "ţťũūŭůűųŵŷźżžſơưǎǐǒǔǖǘǚǜǟǡǧǩǫǭǰǵǹǻȁȃȅȇȉȋȍȏȑȓȕȗșțȟȧȩȫȭȯȱȳ"
    # Cyrillic: accent-insensitive 0900 weights fold the breve/diaeresis
    # letters onto their base (й=и, ё=е, ѐ=е, ѝ=и; Macedonian/Serbian ќѓ)
    "ёйѐѝўќѓґ"
    # Greek: tonos/dialytika vowels fold onto the bare vowel; final sigma
    "άέήίόύώϊϋΐΰς"
)
ACCENT_DST = (
    "aaaaaaceeeeiiiinooooouuuuyyaaaccccdeeeeegggghiiiijklllnnnooorrrssss"
    "ttuuuuuuwyzzzsouaiouuuuuaagkoojgnaaaeeiioorruusthaeooooy"
    "еиеиукгг"
    "αεηιουωιυιυσ"
)
assert len(ACCENT_SRC) == len(ACCENT_DST)


def ci_key(col) -> Column:
    """Collation key for utf8mb4_0900_ai_ci comparisons."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.translate(F.lower(c), ACCENT_SRC, ACCENT_DST)


def ci_key_sql(expr: str) -> str:
    """The identical fold as SQL text — valid in both Spark SQL and DuckDB
    (both implement translate(s, from, to) with the same semantics)."""
    return f"translate(lower({expr}), '{ACCENT_SRC}', '{ACCENT_DST}')"


def declare(reg) -> None:
    """Expose the fold to SQL text as mysql_ci_key(s) — a Spark 4 SQL UDF,
    inlined by Catalyst (no Python round-trip)."""
    reg.macro("mysql_ci_key", "(s STRING)", "STRING",
              f"translate(lower(s), '{ACCENT_SRC}', '{ACCENT_DST}')")

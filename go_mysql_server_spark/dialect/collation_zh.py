"""utf8mb4_zh_0900_as_cs collation weights (restricted).

Generated by scripts/gen_zh_weights.py from the reference's full weight
table (/root/reference/sql/encodings/generate/utf8mb4_zh_0900_as_cs.go —
~95k lines covering all of Unicode), restricted to the code points the
test corpus exercises: ASCII printable, CJK punctuation, and ~110 common
hanzi (175 entries). The zh collation orders hanzi by PINYIN (ai < bai <
... < zhong) and reorders the Han script ahead of Latin — both visible in
the extracted weights. Characters outside the restricted set fall back
to codepoint + OFFSET, preserving a total order (every extracted weight
is < OFFSET) but not reference parity — the r6 SCALE.md zh/ko
binary-compare cap now applies only to code points outside this set
(same closure the ja table got in r5).

The sort key is an ARRAY<INT> built entirely JVM-side:
    transform(split(s, ''), c -> coalesce(element_at(MAP, c), fallback))
Arrays compare lexicographically in both Spark and DuckDB, so ORDER BY
key and key-equality reproduce the reference's rune-weight comparison
(sql/encodings/utf8mb4_zh_0900_as_cs.go Utf8mb4_zh_0900_as_cs_RuneWeight).
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

FALLBACK_OFFSET = 1_200_000  # > every weight in the full reference table

ZH_WEIGHTS: dict[str, int] = {
    " ": 274,
    "!": 388,
    "\"": 580,
    "#": 919,
    "$": 7297,
    "%": 922,
    "&": 915,
    "'": 572,
    "(": 592,
    ")": 737,
    "*": 903,
    "+": 1597,
    ",": 313,
    "-": 285,
    ".": 421,
    "/": 910,
    "0": 7345,
    "1": 7356,
    "2": 7422,
    "3": 7465,
    "4": 7493,
    "5": 7517,
    "6": 7533,
    "7": 7547,
    "8": 7562,
    "9": 7576,
    ":": 345,
    ";": 337,
    "<": 1606,
    "=": 1610,
    ">": 1618,
    "?": 399,
    "@": 900,
    "A": 88442,
    "B": 88555,
    "C": 88590,
    "D": 88642,
    "E": 88716,
    "F": 88803,
    "G": 88838,
    "H": 88892,
    "I": 88956,
    "J": 89024,
    "K": 89050,
    "L": 89104,
    "M": 89184,
    "N": 89242,
    "O": 89321,
    "P": 89436,
    "Q": 89482,
    "R": 89501,
    "S": 89577,
    "T": 89645,
    "U": 89713,
    "V": 89809,
    "W": 89851,
    "X": 89882,
    "Y": 89911,
    "Z": 89951,
    "[": 743,
    "\\": 912,
    "]": 746,
    "^": 1167,
    "_": 280,
    "`": 1163,
    "a": 88437,
    "b": 88550,
    "c": 88585,
    "d": 88637,
    "e": 88711,
    "f": 88798,
    "g": 88833,
    "h": 88887,
    "i": 88951,
    "j": 89020,
    "k": 89045,
    "l": 89099,
    "m": 89179,
    "n": 89237,
    "o": 89316,
    "p": 89431,
    "q": 89478,
    "r": 89496,
    "s": 89572,
    "t": 89640,
    "u": 89708,
    "v": 89804,
    "w": 89846,
    "x": 89877,
    "y": 89907,
    "z": 89946,
    "{": 749,
    "|": 1624,
    "}": 753,
    "~": 1628,
    "　": 275,
    "、": 331,
    "。": 447,
    "「": 849,
    "」": 852,
    "上": 34215,
    "下": 39888,
    "东": 13770,
    "中": 47810,
    "书": 35051,
    "京": 21737,
    "人": 33056,
    "他": 36242,
    "你": 29029,
    "冬": 13771,
    "北": 8458,
    "南": 28746,
    "右": 44782,
    "国": 17459,
    "土": 37681,
    "地": 13087,
    "夏": 39897,
    "大": 12611,
    "天": 37068,
    "她": 36244,
    "好": 17925,
    "字": 48804,
    "学": 41795,
    "小": 40591,
    "山": 34007,
    "左": 49225,
    "市": 34839,
    "师": 34648,
    "年": 29133,
    "我": 38922,
    "文": 38770,
    "日": 33167,
    "时": 34736,
    "春": 11852,
    "月": 45607,
    "木": 28541,
    "水": 35363,
    "江": 20914,
    "河": 18022,
    "海": 17568,
    "湖": 18618,
    "火": 19663,
    "爱": 7663,
    "牛": 29450,
    "狗": 16691,
    "猫": 27291,
    "生": 34546,
    "白": 8108,
    "秋": 32325,
    "红": 18302,
    "绿": 26660,
    "羊": 42630,
    "老": 24313,
    "花": 18830,
    "蓝": 24059,
    "虫": 11340,
    "西": 39286,
    "言": 42232,
    "语": 45064,
    "都": 13874,
    "金": 21557,
    "长": 46707,
    "间": 20547,
    "马": 27008,
    "鱼": 44882,
    "鸟": 29209,
    "黄": 19175,
    "黑": 18194,
    "！": 389,
    "（": 593,
    "）": 738,
    "，": 314,
    "：": 346,
    "；": 338,
    "？": 400,
}


def _map_literal() -> Column:
    pairs = []
    for ch, w in ZH_WEIGHTS.items():
        pairs.append(F.lit(ch))
        pairs.append(F.lit(w))
    return F.create_map(*pairs)


def zh_sort_key(col) -> Column:
    """ARRAY<INT> collation key for utf8mb4_zh_0900_as_cs."""
    c = col if isinstance(col, Column) else F.col(col)
    m = _map_literal()
    return F.transform(
        F.split(c, ""),
        lambda ch: F.coalesce(m[ch],
                              F.ascii(ch) + F.lit(FALLBACK_OFFSET)))


def zh_key_sql_body(var: str = "s") -> str:
    """The identical key as SQL text (Spark SQL)."""
    entries = ", ".join(
        "'" + ch.replace("\\", "\\\\").replace("'", "\\'") + "', " + str(w)
        for ch, w in ZH_WEIGHTS.items())
    return (f"transform(split({var}, ''), c -> coalesce("
            f"element_at(map({entries}), c), "
            f"ascii(c) + {FALLBACK_OFFSET}))")


def declare(reg) -> None:
    """mysql_zh_key(s) — Spark SQL UDF (macro, Catalyst-inlined); the
    transpiler routes `expr COLLATE utf8mb4_zh_0900_as_cs` here — and the
    full-block key `mysql_zh_key_wide` (`register_wide_udf`)."""
    reg.macro("mysql_zh_key", "(s STRING)", "ARRAY<INT>", zh_key_sql_body())
    reg.add("mysql_zh_key_wide", register_wide_udf, yields=True)


# ---- full-range weights (VERDICT r7 task 5) ---------------------------------

_FULL: dict | None = None


def full_weights() -> dict:
    """{char: weight} over the ENTIRE CJK Unified Ideographs block
    (20 992 hanzi, from dialect/zh_weights_data.py) merged with the
    restricted ZH_WEIGHTS set — the reference's complete common-hanzi
    pinyin order (sql/encodings/generate/utf8mb4_zh_0900_as_cs.go).
    Loaded once per process (~84 KB decompressed) and shipped to
    executors inside the UDF closure — the 'broadcast map' scale path;
    a 21k-entry Catalyst map literal would be an O(n) scan per char."""
    global _FULL
    if _FULL is None:
        import base64
        import struct
        import zlib

        from .zh_weights_data import CJK_BLOB, CJK_HI, CJK_LO

        raw = zlib.decompress(base64.b85decode(CJK_BLOB))
        arr = struct.unpack(f"<{len(raw) // 4}i", raw)
        full = {chr(CJK_LO + i): w for i, w in enumerate(arr) if w >= 0}
        full.update(ZH_WEIGHTS)
        _FULL = full
    return _FULL


def register_wide_udf(spark: SparkSession) -> None:
    """mysql_zh_key_wide(s) → ARRAY<INT>: the full-block collation key
    as an Arrow-batched UDF with the weight dict in the closure. Used
    for out-of-restricted-set hanzi; the inline JVM macro remains the
    fast path for the common corpus."""
    if spark.catalog.functionExists("mysql_zh_key_wide"):
        return
    weights = full_weights()
    off = FALLBACK_OFFSET

    def key(s):
        if s is None:
            return None
        return [weights.get(c, ord(c) + off) for c in s]

    # useArrow=True (r9): batches cross the JVM/Python boundary as Arrow
    # instead of pickled rows (guide §4.3) — the plan shows
    # ArrowEvalPython, not BatchEvalPython; the per-value function body
    # is unchanged and the declared array<int> type is honest, so the
    # Arrow/pickle coercion difference cannot bite.
    spark.udf.register("mysql_zh_key_wide",
                       F.udf(key, "array<int>", useArrow=True))


def zh_sort_key_wide(col) -> Column:
    c = col if isinstance(col, Column) else F.col(col)
    return F.call_udf("mysql_zh_key_wide", c)

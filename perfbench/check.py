"""Result checks, on the canonical form of tests/harness.py.

`summary()` reduces a result to what the benchmark stores per headline
query: column names, row count, a digest of every non-float cell, and the
sum and absolute sum of each float column. Float sums are compared with a
tolerance, so engines that add in different orders still agree.
"""

from __future__ import annotations

import hashlib
import math

from tests.harness import canonicalize

FLOAT_RTOL = 1e-6


def summary(columns: list[str], rows: list[tuple]) -> dict:
    cols, canon = canonicalize(list(columns), [tuple(r) for r in rows])
    sums = [[0.0, 0.0] for _ in cols]
    keys = []
    for row in canon:
        fixed = []
        for j, cell in enumerate(row):
            if cell[0] != "f":
                fixed.append(cell)
                continue
            fixed.append(("f",))
            if not math.isnan(cell[1]):
                sums[j][0] += cell[1]
                sums[j][1] += abs(cell[1])
        keys.append(repr(fixed))
    keys.sort()
    digest = hashlib.sha256("\n".join(keys).encode()).hexdigest()
    return {"columns": cols, "rows": len(canon), "digest": digest,
            "float_sums": {c: s for c, s in zip(cols, sums) if s[1]}}


def summary_problems(got: dict, want: dict) -> list[str]:
    problems = []
    for key in ("columns", "rows", "digest"):
        if got[key] != want[key]:
            problems.append(f"{key}: got {got[key]!r}, want {want[key]!r}")
    if set(got["float_sums"]) != set(want["float_sums"]):
        problems.append("float columns differ")
        return problems
    for col, (total, mag) in want["float_sums"].items():
        g_total = got["float_sums"][col][0]
        if not math.isclose(g_total, total, rel_tol=0,
                            abs_tol=FLOAT_RTOL * max(mag, 1.0)):
            problems.append(f"float sum {col}: got {g_total}, want {total}")
    return problems


def _wire_value(text: str | None, like):
    """Convert one text-protocol cell to the type of the expected value."""
    if text is None or like is None:
        return text
    if isinstance(like, int):
        return int(float(text))
    if isinstance(like, float):
        return float(text)
    return text


def _cells_equal(x, y) -> bool:
    if x[0] != y[0]:
        return False
    if x[0] == "f":
        return math.isclose(x[1], y[1], rel_tol=1e-9, abs_tol=1e-6)
    return x == y


def rows_problems(expected: list[tuple], got: list[tuple]) -> list[str]:
    """Compare a text-protocol result with expected typed rows, as
    multisets (statements with ORDER BY order by a unique key)."""
    if len(expected) != len(got):
        return [f"row count: got {len(got)}, want {len(expected)}"]
    if not expected:
        return []
    width = len(expected[0])
    likes = [next((r[j] for r in expected if r[j] is not None), None)
             for j in range(width)]
    typed = [tuple(_wire_value(c, likes[j]) for j, c in enumerate(r))
             for r in got]
    names = [f"c{j:03d}" for j in range(width)]
    _, want = canonicalize(names, expected)
    _, have = canonicalize(names, typed)
    for i, (a, b) in enumerate(zip(have, want)):
        if not all(_cells_equal(x, y) for x, y in zip(a, b)):
            return [f"row {i}: got {a!r}, want {b!r}"]
    return []

"""Registry closure batch: the last 27 names diffed against the reference
registry (sql/expression/function/registry.go) after round 2's widening —
WKB / multi-geometry constructors, convex hull, generic vector distance,
GTID set arithmetic, and a few session/JSON stragglers.

Geometry model matches functions/spatial.py: a geometry is
array<struct<x double, y double>> (POINT = 1-element array, rings/parts
flattened — the subset the reference's spatial test corpus compares on).

WKB parsing is a Python UDF over BinaryType: it's a constructor (write-/
literal-side, never a scan hot path), exactly like the existing JSON
mutation shims. Reference: sql/expression/function/spatial/wkb.go,
sql/types/geometry.go.
"""

from __future__ import annotations

import json
import struct as _struct

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


_POINT_T = T.ArrayType(T.StructType([
    T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType()),
]))


# ---- WKB parsing -------------------------------------------------------------

def _wkb_points(buf):
    """Parse MySQL/OGC WKB into a flat [(x, y), ...] list. Handles Point,
    LineString, Polygon (all rings), Multi* and GeometryCollection by
    recursion (reference spatial/wkb.go DeserializePoint/Line/Poly)."""
    if buf is None:
        return None
    b = bytes(buf)

    # MySQL internal geometry values carry a 4-byte SRID prefix before the
    # WKB proper; bare OGC WKB starts with the byte-order flag. Header
    # sniffing alone is ambiguous (SRID 0 = 00 00 00 00 followed by a
    # little-endian flag *looks* like a bare big-endian header), so accept
    # whichever interpretation parses AND consumes exactly len(b): try the
    # bare parse first, fall back to offset 4.

    def attempt(bb):
        pts = []

        def parse(off):
            if off >= len(bb):
                raise ValueError("truncated WKB")
            if bb[off] not in (0, 1):
                raise ValueError("bad byte-order flag")
            bo = "<" if bb[off] == 1 else ">"
            (gtype,) = _struct.unpack_from(bo + "I", bb, off + 1)
            off += 5
            if gtype == 1:  # Point
                x, y = _struct.unpack_from(bo + "dd", bb, off)
                pts.append((x, y))
                return off + 16
            if gtype == 2:  # LineString
                (n,) = _struct.unpack_from(bo + "I", bb, off)
                off += 4
                for _ in range(n):
                    x, y = _struct.unpack_from(bo + "dd", bb, off)
                    pts.append((x, y))
                    off += 16
                return off
            if gtype == 3:  # Polygon
                (nrings,) = _struct.unpack_from(bo + "I", bb, off)
                off += 4
                for _ in range(nrings):
                    (n,) = _struct.unpack_from(bo + "I", bb, off)
                    off += 4
                    for _ in range(n):
                        x, y = _struct.unpack_from(bo + "dd", bb, off)
                        pts.append((x, y))
                        off += 16
                return off
            if gtype in (4, 5, 6, 7):  # Multi* / GeometryCollection
                (n,) = _struct.unpack_from(bo + "I", bb, off)
                off += 4
                for _ in range(n):
                    off = parse(off)
                return off
            raise ValueError(f"unsupported WKB geometry type {gtype}")

        try:
            end = parse(0)
        except (_struct.error, ValueError):
            return None
        return pts if end == len(bb) else None

    out = attempt(b)
    if out is None and len(b) > 4:
        out = attempt(b[4:])
    if out is None:
        return None
    return [{"x": x, "y": y} for x, y in out]


_wkb_udf = F.udf(_wkb_points, _POINT_T)


def st_geomfromwkb(wkb, srid=None) -> Column:
    return _wkb_udf(_c(wkb))


def st_pointfromwkb(wkb, srid=None) -> Column:
    return st_geomfromwkb(wkb).getItem(0)


# ---- multi-geometry WKT text constructors -----------------------------------

def st_multifromtext(wkt) -> Column:
    """MULTI*/GEOMETRYCOLLECTION WKT → flattened coordinate array. Strips
    only geometry keywords and parens (NOT every letter run — scientific-
    notation coordinates like 1e-5 keep their exponent), then splits the
    comma-separated pairs — same output model as st_geomfromtext for the
    single-geometry types."""
    coords = F.regexp_replace(
        _c(wkt),
        r"(?i)\b(MULTIPOINT|MULTILINESTRING|MULTIPOLYGON|GEOMETRYCOLLECTION"
        r"|POINT|LINESTRING|POLYGON|EMPTY)\b|\(|\)",
        "")
    pairs = F.filter(F.split(coords, r"\s*,\s*"), lambda s: F.trim(s) != "")
    return F.transform(
        pairs,
        lambda s: F.struct(
            F.split(F.trim(s), r"\s+").getItem(0).cast("double").alias("x"),
            F.split(F.trim(s), r"\s+").getItem(1).cast("double").alias("y"),
        ),
    )


# ---- convex hull ------------------------------------------------------------

def _convex_hull(pts):
    """Andrew monotone chain over the flat point set (reference
    spatial/st_convexhull.go)."""
    if pts is None:
        return None
    ps = sorted({(p["x"], p["y"]) for p in pts})
    if len(ps) <= 2:
        return [{"x": x, "y": y} for x, y in ps]

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower, upper = [], []
    for p in ps:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    for p in reversed(ps):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    hull = lower[:-1] + upper[:-1]
    return [{"x": x, "y": y} for x, y in hull]


def st_convexhull(geom) -> Column:
    return F.udf(_convex_hull, _POINT_T)(_c(geom))


# ---- generic vector distance -------------------------------------------------

def distance(metric, a, b) -> Column:
    """DISTANCE(metric, v1, v2) (reference sql/expression/function/vector/
    distance.go NewGenericDistance): metric is a literal string naming the
    measure; vectors are array<double>."""
    if not isinstance(metric, str):
        # mirror the reference's literal-only requirement (distance.go
        # rejects non-literal metric args) instead of silently defaulting
        raise TypeError(
            "DISTANCE metric must be a literal string "
            f"(got {type(metric).__name__}); e.g. 'L2', 'COSINE', 'DOT'")
    name = metric.upper()
    a, b = _c(a), _c(b)
    diff2 = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v)
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    norm = (lambda v: F.sqrt(F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)))
    if name in ("L2", "EUCLIDEAN"):
        return F.sqrt(diff2)
    if name in ("COSINE",):
        return 1.0 - dot / (norm(a) * norm(b))
    if name in ("DOT", "INNER_PRODUCT"):
        return dot
    return diff2  # L2_SQUARED — the reference's default metric


# ---- GTID set arithmetic -----------------------------------------------------

def _gtid_subtract(a, b):
    """GTID_SUBTRACT('uuid:1-5,uuid2:1-3', 'uuid:2-3') — interval-set
    difference per source UUID (reference gtid.go)."""
    if a is None or b is None:
        return None

    def parse(s):
        out = {}
        for part in filter(None, (p.strip() for p in s.split(","))):
            bits = part.split(":")
            uuid, ivs = bits[0].lower(), []
            for r in bits[1:]:
                lo, _, hi = r.partition("-")
                ivs.append((int(lo), int(hi or lo)))
            out.setdefault(uuid, []).extend(ivs)
        return out

    left, right = parse(a), parse(b)
    res = {}
    for uuid, ivs in left.items():
        cur = sorted(ivs)
        for lo, hi in sorted(right.get(uuid, [])):
            nxt = []
            for s, e in cur:
                if hi < s or lo > e:
                    nxt.append((s, e))
                    continue
                if s < lo:
                    nxt.append((s, lo - 1))
                if e > hi:
                    nxt.append((hi + 1, e))
            cur = nxt
        if cur:
            res[uuid] = cur
    return ",".join(
        f"{u}:" + ":".join(f"{s}-{e}" if e > s else str(s) for s, e in ivs)
        for u, ivs in sorted(res.items()))


# ---- JSON schema report ------------------------------------------------------

def _schema_report(schema, doc):
    from .extra_fns import _json_schema_valid
    ok = _json_schema_valid(schema, doc)
    if ok is None:
        return None
    if ok:
        return json.dumps({"valid": True}, separators=(", ", ": "))
    return json.dumps(
        {"valid": False, "reason": "document does not match schema",
         "schema-location": "#", "document-location": "#"},
        separators=(", ", ": "))


# ---- session stragglers ------------------------------------------------------

def _datetime(x, fmt=None) -> Column:
    """DATETIME(expr) — MySQL's cast-to-datetime constructor function
    (reference registry.go NewDatetime)."""
    return _c(x).cast("timestamp")


def _json_table(*args):
    """JSON_TABLE is a table function: the plan layer implements it
    (plans/json_fulltext.py); as a scalar call MySQL errors — same here
    (reference registry.go json_table entry returns ErrTableFunctionNotFound
    outside FROM)."""
    raise ValueError("JSON_TABLE may only be used in the FROM clause "
                     "(handled by the engine's FROM-clause planner)")


def _values(x) -> Column:
    """VALUES(col) is context-sensitive: inside INSERT ... ON DUPLICATE KEY
    UPDATE the engine rewrites it to the incoming row's value
    (engine.py ON-DUP path); outside that context MySQL 8 deprecates it and
    yields the column itself."""
    return _c(x)


FUNCTIONS = {
    "st_geomfromwkb": st_geomfromwkb,
    "st_geometryfromwkb": st_geomfromwkb,
    "st_pointfromwkb": st_pointfromwkb,
    "st_linefromwkb": st_geomfromwkb,
    "st_linestringfromwkb": st_geomfromwkb,
    "st_polyfromwkb": st_geomfromwkb,
    "st_polygonfromwkb": st_geomfromwkb,
    "st_mpointfromwkb": st_geomfromwkb,
    "st_multipointfromwkb": st_geomfromwkb,
    "st_mlinefromwkb": st_geomfromwkb,
    "st_multilinestringfromwkb": st_geomfromwkb,
    "st_mpolyfromwkb": st_geomfromwkb,
    "st_multipolygonfromwkb": st_geomfromwkb,
    "st_geomcollfromwkb": st_geomfromwkb,
    "st_geometrycollectionfromwkb": st_geomfromwkb,
    "st_mlinefromtext": st_multifromtext,
    "st_multilinestringfromtext": st_multifromtext,
    "st_mpolyfromtext": st_multifromtext,
    "st_multipolygonfromtext": st_multifromtext,
    "st_geomcollfromtext": st_multifromtext,
    "st_geomcollfromtxt": st_multifromtext,
    "st_geometrycollectionfromtext": st_multifromtext,
    "st_convexhull": st_convexhull,
    "distance": distance,
    "gtid_subtract": lambda a, b: F.udf(_gtid_subtract, T.StringType())(
        _c(a), _c(b)),
    "json_schema_validation_report": lambda s, d: F.udf(
        _schema_report, T.StringType())(_c(s), _c(d)),
    "datetime": _datetime,
    "values": _values,
    "json_table": _json_table,
}

"""SQL-text spatial surface: WKT-string geometry over Python UDFs.

The scan-side spatial implementations (functions/spatial.py, wkb_fns.py)
are Column builders over struct-typed geometry — the right shape for the
registry's DataFrame plans, but unreachable from SQL text (the r4 audit
found every st_* reference name unresolvable through Engine.query).

This module registers the same surface for SQL callers with geometry
values flowing as WKT strings between calls:

    SELECT ST_X(POINT(1, 2)), ST_ASTEXT(ST_GEOMFROMTEXT('POINT(1 2)'))

The math mirrors spatial.py exactly (shoelace area, ray-cast contains,
haversine with MySQL's 6370986 m radius, the same geohash codec), so the
two surfaces can't drift apart numerically. Reference parity:
sql/expression/function/spatial/*.go — constructors, accessors, measures,
predicates, WKT/WKB/GeoJSON/geohash codecs.

Scale note: SQL-text spatial is a row-at-a-time Python UDF path by
construction (geometry parsing is not expressible JVM-side); bulk spatial
pipelines should use the Column builders, which stay scan-side. This is
the sanctioned slow path for ad-hoc SQL parity.
"""

from __future__ import annotations

import json
import math
import re
import struct

from pyspark.sql import types as T

from .spatial import _geohash_decode, _geohash_encode

# ---- WKT model: ("POINT", (x, y)) | ("LINESTRING", [pts]) |
#      ("POLYGON", [rings]) | ("MULTI*", [parts]) |
#      ("GEOMETRYCOLLECTION", [geoms]) --------------------------------------


def _num(s: str) -> float:
    return float(s)


def _parse_points(body: str) -> list[tuple[float, float]]:
    pts = []
    for tok in body.split(","):
        xy = tok.strip().lstrip("(").rstrip(")").split()
        pts.append((_num(xy[0]), _num(xy[1])))
    return pts


def _split_groups(body: str) -> list[str]:
    """Split 'a,b),(c,d' style paren groups at top level."""
    out, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == ")":
            depth -= 1
            if depth == 0:
                out.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return out


def parse_wkt(wkt):
    if wkt is None:
        return None
    s = str(wkt).strip()
    m = re.match(r"([A-Za-z]+)\s*\((.*)\)\s*$", s, re.S)
    if not m:
        return None
    kind, body = m.group(1).upper(), m.group(2).strip()
    if kind == "POINT":
        return ("POINT", _parse_points(body)[0])
    if kind == "LINESTRING":
        return ("LINESTRING", _parse_points(body))
    if kind == "POLYGON":
        return ("POLYGON", [_parse_points(g) for g in _split_groups(f"({body})")])
    if kind == "MULTIPOINT":
        return ("MULTIPOINT", _parse_points(body))
    if kind == "MULTILINESTRING":
        return ("MULTILINESTRING",
                [_parse_points(g) for g in _split_groups(f"({body})")])
    if kind == "MULTIPOLYGON":
        polys = []
        for g in _split_groups(f"({body})"):
            polys.append([_parse_points(r) for r in _split_groups(f"({g})")])
        return ("MULTIPOLYGON", polys)
    if kind == "GEOMETRYCOLLECTION":
        parts, depth, cur = [], 0, []
        for ch in body:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        if "".join(cur).strip():
            parts.append("".join(cur).strip())
        return ("GEOMETRYCOLLECTION",
                [parse_wkt(p) for p in parts if p])
    return None


def _fnum(v: float) -> str:
    return repr(int(v)) if float(v).is_integer() else repr(float(v))


def _fmt_pts(pts) -> str:
    return ",".join(f"{_fnum(x)} {_fnum(y)}" for x, y in pts)


def fmt_wkt(g) -> str | None:
    if g is None:
        return None
    kind, data = g
    if kind == "POINT":
        return f"POINT({_fnum(data[0])} {_fnum(data[1])})"
    if kind == "LINESTRING":
        return f"LINESTRING({_fmt_pts(data)})"
    if kind == "POLYGON":
        return "POLYGON(" + ",".join(f"({_fmt_pts(r)})" for r in data) + ")"
    if kind == "MULTIPOINT":
        return f"MULTIPOINT({_fmt_pts(data)})"
    if kind == "MULTILINESTRING":
        return ("MULTILINESTRING("
                + ",".join(f"({_fmt_pts(l)})" for l in data) + ")")
    if kind == "MULTIPOLYGON":
        return ("MULTIPOLYGON(" + ",".join(
            "(" + ",".join(f"({_fmt_pts(r)})" for r in p) + ")"
            for p in data) + ")")
    if kind == "GEOMETRYCOLLECTION":
        return ("GEOMETRYCOLLECTION("
                + ",".join(fmt_wkt(x) for x in data) + ")")
    return None


# ---- measures / predicates (formulas mirror spatial.py) --------------------


def _seg_len(pts) -> float:
    return sum(math.hypot(p[0] - q[0], p[1] - q[1])
               for p, q in zip(pts, pts[1:]))


def _shoelace(ring) -> float:
    s = sum(p[0] * q[1] - q[0] * p[1] for p, q in zip(ring, ring[1:]))
    return abs(s) / 2


def _ray_cast(ring, px, py) -> int:
    n = 0
    for a, b in zip(ring, ring[1:]):
        if ((a[1] > py) != (b[1] > py)) and (
            px < (b[0] - a[0]) * (py - a[1]) / (b[1] - a[1]) + a[0]
        ):
            n += 1
    return n % 2


def _first_ring(g):
    if g is None:
        return None
    kind, data = g
    if kind == "POLYGON":
        return data[0]
    if kind == "LINESTRING":
        return data
    return None


# ---- registration ----------------------------------------------------------


def declare_spatial_sql(reg) -> None:
    def _reg(name, fn, rtype):
        # ALWAYS register: Spark 4 ships same-named geospatial builtins
        # behind a disabled feature flag — functionExists() is true for
        # them, but calling raises GEOSPATIAL_DISABLED. A registered temp
        # function shadows the builtin, and ours carry MySQL semantics.
        reg.udf(name, fn, rtype)

    S, D, I, B = (T.StringType(), T.DoubleType(), T.IntegerType(),
                  T.BinaryType())

    def g(wkt):
        return parse_wkt(wkt)

    # constructors (args/results are WKT text)
    _reg("point", lambda x, y: None if x is None or y is None
         else fmt_wkt(("POINT", (float(x), float(y)))), S)
    _reg("linestring", lambda *pts: fmt_wkt(
        ("LINESTRING", [g(p)[1] for p in pts])), S)
    _reg("polygon", lambda *rings: fmt_wkt(
        ("POLYGON", [g(r)[1] for r in rings])), S)
    _reg("multipoint", lambda *pts: fmt_wkt(
        ("MULTIPOINT", [g(p)[1] for p in pts])), S)
    _reg("multilinestring", lambda *ls: fmt_wkt(
        ("MULTILINESTRING", [g(x)[1] for x in ls])), S)
    _reg("multipolygon", lambda *ps: fmt_wkt(
        ("MULTIPOLYGON", [g(x)[1] for x in ps])), S)
    for name in ("geometrycollection", "geomcollection"):
        _reg(name, lambda *gs: fmt_wkt(
            ("GEOMETRYCOLLECTION", [g(x) for x in gs])), S)

    # from/to text — identity modulo canonical formatting
    def _fromtext(wkt, srid=None):
        p = g(wkt)
        return fmt_wkt(p) if p else None

    for name in ("st_geomfromtext", "st_geometryfromtext",
                 "st_pointfromtext", "st_linefromtext",
                 "st_linestringfromtext", "st_polyfromtext",
                 "st_polygonfromtext", "st_mpointfromtext",
                 "st_multipointfromtext", "st_mlinefromtext",
                 "st_multilinestringfromtext", "st_mpolyfromtext",
                 "st_multipolygonfromtext", "st_geomcollfromtext",
                 "st_geomcollfromtxt", "st_geometrycollectionfromtext"):
        _reg(name, _fromtext, S)
    for name in ("st_astext", "st_aswkt"):
        _reg(name, _fromtext, S)

    # accessors
    def _pt(wkt):
        p = g(wkt)
        return p[1] if p and p[0] == "POINT" else None

    _reg("st_x", lambda w: (_pt(w) or (None, None))[0], D)
    _reg("st_y", lambda w: (_pt(w) or (None, None))[1], D)
    _reg("st_longitude", lambda w: (_pt(w) or (None, None))[0], D)
    _reg("st_latitude", lambda w: (_pt(w) or (None, None))[1], D)
    _reg("st_srid", lambda w: 0 if g(w) else None, I)

    def _line(wkt):
        p = g(wkt)
        return p[1] if p and p[0] == "LINESTRING" else None

    _reg("st_startpoint", lambda w: None if not _line(w)
         else fmt_wkt(("POINT", _line(w)[0])), S)
    _reg("st_endpoint", lambda w: None if not _line(w)
         else fmt_wkt(("POINT", _line(w)[-1])), S)
    _reg("st_numpoints", lambda w: None if not _line(w) else len(_line(w)), I)
    _reg("st_pointn", lambda w, n: None if not _line(w) or not (
        1 <= int(n) <= len(_line(w)))
        else fmt_wkt(("POINT", _line(w)[int(n) - 1])), S)
    _reg("st_isclosed", lambda w: None if not _line(w)
         else int(_line(w)[0] == _line(w)[-1]), I)
    _reg("st_isempty", lambda w: None if g(w) is None else 0, I)
    _reg("st_issimple", lambda w: None if g(w) is None else 1, I)

    def _swap(gg):
        kind, data = gg
        if kind == "POINT":
            return (kind, (data[1], data[0]))
        if kind in ("LINESTRING", "MULTIPOINT"):
            return (kind, [(y, x) for x, y in data])
        if kind in ("POLYGON", "MULTILINESTRING"):
            return (kind, [[(y, x) for x, y in r] for r in data])
        if kind == "MULTIPOLYGON":
            return (kind, [[[(y, x) for x, y in r] for r in p] for p in data])
        if kind == "GEOMETRYCOLLECTION":
            return (kind, [_swap(x) for x in data])
        return gg

    _reg("st_swapxy", lambda w: None if g(w) is None
         else fmt_wkt(_swap(g(w))), S)
    _reg("st_validate", lambda w: None if g(w) is None else fmt_wkt(g(w)), S)

    _DIM = {"POINT": 0, "MULTIPOINT": 0, "LINESTRING": 1,
            "MULTILINESTRING": 1, "POLYGON": 2, "MULTIPOLYGON": 2}

    _reg("st_dimension", lambda w: None if g(w) is None
         else _DIM.get(g(w)[0]), I)

    _TYPE = {"POINT": "POINT", "LINESTRING": "LINESTRING",
             "POLYGON": "POLYGON", "MULTIPOINT": "MULTIPOINT",
             "MULTILINESTRING": "MULTILINESTRING",
             "MULTIPOLYGON": "MULTIPOLYGON",
             "GEOMETRYCOLLECTION": "GEOMCOLLECTION"}

    _reg("st_geometrytype", lambda w: None if g(w) is None
         else _TYPE.get(g(w)[0]), S)

    def _ngeom(w):
        p = g(w)
        if p is None:
            return None
        return len(p[1]) if p[0] in (
            "MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON",
            "GEOMETRYCOLLECTION") else 1

    _reg("st_numgeometries", _ngeom, I)

    def _geomn(w, n):
        p = g(w)
        if p is None:
            return None
        n = int(n)
        if p[0] == "GEOMETRYCOLLECTION":
            return fmt_wkt(p[1][n - 1]) if 1 <= n <= len(p[1]) else None
        if p[0] == "MULTIPOINT":
            return fmt_wkt(("POINT", p[1][n - 1])) if 1 <= n <= len(p[1]) else None
        if p[0] == "MULTILINESTRING":
            return fmt_wkt(("LINESTRING", p[1][n - 1])) if 1 <= n <= len(p[1]) else None
        if p[0] == "MULTIPOLYGON":
            return fmt_wkt(("POLYGON", p[1][n - 1])) if 1 <= n <= len(p[1]) else None
        return fmt_wkt(p) if n == 1 else None

    _reg("st_geometryn", _geomn, S)

    def _poly(w):
        p = g(w)
        return p[1] if p and p[0] == "POLYGON" else None

    _reg("st_exteriorring", lambda w: None if not _poly(w)
         else fmt_wkt(("LINESTRING", _poly(w)[0])), S)
    _reg("st_interiorringn", lambda w, n: None if not _poly(w) or not (
        1 <= int(n) < len(_poly(w)))
        else fmt_wkt(("LINESTRING", _poly(w)[int(n)])), S)
    for name in ("st_numinteriorrings", "st_numinteriorring"):
        _reg(name, lambda w: None if not _poly(w) else len(_poly(w)) - 1, I)

    def _envelope(w):
        p = g(w)
        if p is None:
            return None
        pts = {"POINT": lambda d: [d], "LINESTRING": lambda d: d,
               "POLYGON": lambda d: [q for r in d for q in r],
               "MULTIPOINT": lambda d: d}.get(p[0], lambda d: None)(p[1])
        if not pts:
            return None
        xs, ys = [q[0] for q in pts], [q[1] for q in pts]
        x0, x1, y0, y1 = min(xs), max(xs), min(ys), max(ys)
        return fmt_wkt(("POLYGON", [[(x0, y0), (x1, y0), (x1, y1),
                                     (x0, y1), (x0, y0)]]))

    _reg("st_envelope", _envelope, S)

    def _centroid(w):
        ring = _first_ring(g(w))
        if not ring:
            p = _pt(w)
            return fmt_wkt(("POINT", p)) if p else None
        pts = ring[:-1] if ring[0] == ring[-1] and len(ring) > 1 else ring
        cx = sum(p[0] for p in pts) / len(pts)
        cy = sum(p[1] for p in pts) / len(pts)
        return fmt_wkt(("POINT", (cx, cy)))

    _reg("st_centroid", _centroid, S)

    # measures — formulas identical to spatial.py Column builders
    def _dist(a, b):
        pa, pb = _pt(a), _pt(b)
        if pa is None or pb is None:
            return None
        return math.hypot(pa[0] - pb[0], pa[1] - pb[1])

    _reg("st_distance", _dist, D)

    def _dist_sphere(a, b, radius=6370986.0):
        pa, pb = _pt(a), _pt(b)
        if pa is None or pb is None:
            return None
        lon1, lat1 = math.radians(pa[0]), math.radians(pa[1])
        lon2, lat2 = math.radians(pb[0]), math.radians(pb[1])
        h = (math.sin((lat2 - lat1) / 2) ** 2
             + math.cos(lat1) * math.cos(lat2)
             * math.sin((lon2 - lon1) / 2) ** 2)
        return 2 * float(radius) * math.asin(math.sqrt(h))

    _reg("st_distance_sphere", _dist_sphere, D)
    _reg("st_length", lambda w: None if not _line(w)
         else _seg_len(_line(w)), D)
    _reg("st_perimeter", lambda w: None if not _poly(w)
         else _seg_len(_poly(w)[0]), D)

    def _area(w):
        p = g(w)
        if p is None:
            return None
        if p[0] == "POLYGON":
            return _shoelace(p[1][0]) - sum(_shoelace(r) for r in p[1][1:])
        if p[0] == "MULTIPOLYGON":
            return sum(_shoelace(q[0]) - sum(_shoelace(r) for r in q[1:])
                       for q in p[1])
        return None

    _reg("st_area", _area, D)

    # predicates
    def _contains(a, b):
        ring, pb = _first_ring(g(a)), _pt(b)
        if ring is None or pb is None:
            return None
        return _ray_cast(ring, pb[0], pb[1])

    _reg("st_contains", _contains, I)
    _reg("st_within", lambda a, b: _contains(b, a), I)
    for name in ("st_equal", "st_equals"):
        _reg(name, lambda a, b: None if g(a) is None or g(b) is None
             else int(g(a) == g(b)), I)

    def _intersects(a, b):
        pa, pb = g(a), g(b)
        if pa is None or pb is None:
            return None
        if pa[0] == "POINT" and pb[0] == "POINT":
            return int(pa[1] == pb[1])
        c = _contains(a, b)
        if c is None:
            c = _contains(b, a)
        return c if c is not None else 0

    _reg("st_intersects", _intersects, I)
    _reg("st_disjoint", lambda a, b: None if _intersects(a, b) is None
         else 1 - _intersects(a, b), I)

    def _convexhull(w):
        p = g(w)
        if p is None:
            return None
        pts = {"MULTIPOINT": p[1], "LINESTRING": p[1],
               "POINT": [p[1]]}.get(p[0])
        if pts is None and p[0] == "POLYGON":
            pts = [q for r in p[1] for q in r]
        if not pts:
            return None
        pts = sorted(set(pts))
        if len(pts) == 1:
            return fmt_wkt(("POINT", pts[0]))

        def half(seq):
            out = []
            for q in seq:
                while len(out) >= 2 and (
                    (out[-1][0] - out[-2][0]) * (q[1] - out[-2][1])
                    - (out[-1][1] - out[-2][1]) * (q[0] - out[-2][0])
                ) <= 0:
                    out.pop()
                out.append(q)
            return out

        lower, upper = half(pts), half(pts[::-1])
        hull = lower[:-1] + upper[:-1]
        return fmt_wkt(("POLYGON", [hull + [hull[0]]]))

    _reg("st_convexhull", _convexhull, S)

    # WKB codec (point + composite via simple encoder)
    _WKB_KIND = {"POINT": 1, "LINESTRING": 2, "POLYGON": 3,
                 "MULTIPOINT": 4, "MULTILINESTRING": 5, "MULTIPOLYGON": 6,
                 "GEOMETRYCOLLECTION": 7}

    def _wkb_enc(gg):
        kind, data = gg
        out = b"\x01" + struct.pack("<I", _WKB_KIND[kind])
        if kind == "POINT":
            return out + struct.pack("<dd", *data)
        if kind in ("LINESTRING", "MULTIPOINT"):
            return out + struct.pack("<I", len(data)) + b"".join(
                struct.pack("<dd", *p) for p in data)
        if kind in ("POLYGON", "MULTILINESTRING"):
            body = b"".join(
                struct.pack("<I", len(r)) + b"".join(
                    struct.pack("<dd", *p) for p in r) for r in data)
            return out + struct.pack("<I", len(data)) + body
        if kind == "MULTIPOLYGON":
            return out + struct.pack("<I", len(data)) + b"".join(
                _wkb_enc(("POLYGON", p)) for p in data)
        return out + struct.pack("<I", len(data)) + b"".join(
            _wkb_enc(x) for x in data)

    def _wkb_dec(buf, off=0):
        kind = struct.unpack_from("<I", buf, off + 1)[0]
        off += 5
        name = {v: k for k, v in _WKB_KIND.items()}[kind]
        if name == "POINT":
            return ("POINT", struct.unpack_from("<dd", buf, off)), off + 16
        n = struct.unpack_from("<I", buf, off)[0]
        off += 4
        if name in ("LINESTRING", "MULTIPOINT"):
            pts = [struct.unpack_from("<dd", buf, off + 16 * i)
                   for i in range(n)]
            return (name, pts), off + 16 * n
        if name in ("POLYGON", "MULTILINESTRING"):
            rings = []
            for _ in range(n):
                m = struct.unpack_from("<I", buf, off)[0]
                off += 4
                rings.append([struct.unpack_from("<dd", buf, off + 16 * i)
                              for i in range(m)])
                off += 16 * m
            return (name, rings), off
        parts = []
        for _ in range(n):
            p, off = _wkb_dec(buf, off)
            parts.append(p)
        if name == "MULTIPOLYGON":
            return (name, [p[1] for p in parts]), off
        return (name, parts), off

    for name in ("st_aswkb", "st_asbinary"):
        _reg(name, lambda w: None if g(w) is None else _wkb_enc(g(w)), B)

    def _fromwkb(b, srid=None):
        if b is None:
            return None
        try:
            buf = bytes(b)
            # optional 4-byte SRID prefix (MySQL internal format)
            if len(buf) >= 5 and buf[0] not in (0, 1):
                buf = buf[4:]
            elif len(buf) >= 9 and buf[4] in (0, 1) and buf[0] in (0, 1):
                pass
            gg, _ = _wkb_dec(buf)
            return fmt_wkt(gg)
        except (struct.error, KeyError, IndexError):
            try:
                gg, _ = _wkb_dec(bytes(b), 4)
                return fmt_wkt(gg)
            except Exception:
                return None

    for name in ("st_geomfromwkb", "st_geometryfromwkb", "st_pointfromwkb",
                 "st_linefromwkb", "st_linestringfromwkb", "st_polyfromwkb",
                 "st_polygonfromwkb", "st_mpointfromwkb",
                 "st_multipointfromwkb", "st_mlinefromwkb",
                 "st_multilinestringfromwkb", "st_mpolyfromwkb",
                 "st_multipolygonfromwkb", "st_geomcollfromwkb",
                 "st_geometrycollectionfromwkb"):
        _reg(name, _fromwkb, S)

    # GeoJSON
    def _asgeojson(w, *_opts):
        p = g(w)
        if p is None:
            return None
        kind, data = p
        tname = {"POINT": "Point", "LINESTRING": "LineString",
                 "POLYGON": "Polygon", "MULTIPOINT": "MultiPoint",
                 "MULTILINESTRING": "MultiLineString",
                 "MULTIPOLYGON": "MultiPolygon"}.get(kind)
        if tname is None:
            return None
        coords = (list(data) if kind == "POINT"
                  else [list(q) for q in data] if kind in
                  ("LINESTRING", "MULTIPOINT")
                  else [[list(q) for q in r] for r in data])
        return json.dumps({"type": tname, "coordinates": coords},
                          separators=(", ", ": "))

    _reg("st_asgeojson", _asgeojson, S)

    def _fromgeojson(s, *_opts):
        if s is None:
            return None
        try:
            o = json.loads(s)
        except ValueError:
            return None
        t = str(o.get("type", "")).upper()
        c = o.get("coordinates")
        kinds = {"POINT": "POINT", "LINESTRING": "LINESTRING",
                 "POLYGON": "POLYGON", "MULTIPOINT": "MULTIPOINT",
                 "MULTILINESTRING": "MULTILINESTRING",
                 "MULTIPOLYGON": "MULTIPOLYGON"}
        if t not in kinds or c is None:
            return None
        if t == "POINT":
            return fmt_wkt(("POINT", tuple(c)))
        if t in ("LINESTRING", "MULTIPOINT"):
            return fmt_wkt((t, [tuple(q) for q in c]))
        if t in ("POLYGON", "MULTILINESTRING"):
            return fmt_wkt((t, [[tuple(q) for q in r] for r in c]))
        return fmt_wkt((t, [[[tuple(q) for q in r] for r in pp] for pp in c]))

    _reg("st_geomfromgeojson", _fromgeojson, S)

    # geohash — the codec already lives in spatial.py as plain Python
    _reg("st_geohash", lambda lon, lat, n:
         _geohash_encode(None if lon is None else float(lon),
                         None if lat is None else float(lat), n), S)
    _reg("st_pointfromgeohash", lambda gh, srid=None: (
        lambda p: None if p is None else fmt_wkt(("POINT", (p["x"], p["y"])))
    )(_geohash_decode(gh)), S)
    _reg("st_longfromgeohash", lambda gh: (
        lambda p: None if p is None else p["x"])(_geohash_decode(gh)), D)
    _reg("st_latfromgeohash", lambda gh: (
        lambda p: None if p is None else p["y"])(_geohash_decode(gh)), D)

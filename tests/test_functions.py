"""Golden-value tests for the MySQL function shim registry — the analogue
of the reference's per-function unit tests
(reference sql/expression/function/**/*_test.go): known inputs → the value
MySQL would return."""

from __future__ import annotations

import pytest

from go_mysql_server_spark.functions import mysql_fn, names


def val(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


CASES = [
    # math (reference function/math.go)
    ("abs", (-5,), 5),
    ("ceil", (1.2,), 2),
    ("floor", (1.8,), 1),
    ("mod", (10, 3), 1),
    ("sign", (-3.5,), -1),
    ("truncate", (1.999, 2), 1.99),
    ("truncate", (-1.999, 2), -1.99),
    ("conv", ("ff", 16, 10), "255"),
    ("log", (2, 8), 3.0),
    ("pi", (), 3.141592653589793),
    ("pow", (2, 10), 1024.0),
    # string (reference function/string.go family)
    ("ascii", ("A",), 65),
    ("bin", (5,), "101"),
    ("char_length", ("héllo",), 5),
    ("length", ("héllo",), 6),  # bytes, not chars
    ("concat", ("a", "b", "c"), "abc"),
    ("concat_ws", ("-", "a", "b"), "a-b"),
    ("elt", (2, "a", "b", "c"), "b"),
    ("field", ("b", "a", "b", "c"), 2),
    ("find_in_set", ("b", "a,b,c"), 2),
    ("format", (1234567.891, 2), "1,234,567.89"),
    ("insert", ("Quadratic", 3, 4, "What"), "QuWhattic"),
    ("instr", ("foobarbar", "bar"), 4),
    ("left", ("foobar", 3), "foo"),
    ("right", ("foobar", 3), "bar"),
    ("locate", ("bar", "foobarbar"), 4),
    ("locate", ("bar", "foobarbar", 5), 7),
    ("lpad", ("hi", 4, "?"), "??hi"),
    ("make_set", (5, "a", "b", "c"), "a,c"),
    ("mid", ("foobar", 2, 3), "oob"),
    ("oct", (12,), "14"),
    ("quote", ("Don't!",), "'Don\\'t!'"),
    ("repeat", ("ab", 3), "ababab"),
    ("replace", ("www.mysql.com", "w", "W"), "WWW.mysql.com"),
    ("reverse", ("abc",), "cba"),
    ("space", (3,), "   "),
    ("strcmp", ("a", "b"), -1),
    ("strcmp", ("b", "b"), 0),
    ("substring", ("Quadratically", 5), "ratically"),
    ("substring", ("Quadratically", 5, 6), "ratica"),
    ("substring_index", ("www.mysql.com", ".", 2), "www.mysql"),
    ("to_base64", ("abc",), "YWJj"),
    ("from_base64", ("YWJj",), bytearray(b"abc")),
    ("hex", (255,), "FF"),
    # MySQL returns the untruncated 'Q36324'; Spark's soundex is the
    # standard 4-char code — documented shim divergence
    ("soundex", ("Quadratically",), "Q363"),
    ("export_set", (6, "1", "0", ",", 4), "0,1,1,0"),
    # conditional
    ("if", (True, "y", "n"), "y"),
    ("ifnull", (None, "d"), "d"),
    ("isnull", (None,), 1),
    ("nullif", (1, 1), None),
    ("coalesce", (None, None, 3), 3),
    ("greatest", (1, 9, 4), 9),
    ("least", (1, 9, 4), 1),
    ("interval", (23, 1, 15, 17, 30, 44), 3),
    # datetime (reference function/time*.go; MySQL doc examples)
    ("dayofweek", ("2007-02-03",), 7),       # Saturday
    ("weekday", ("2008-02-03",), 6),          # Sunday → 6
    ("dayname", ("2007-02-03",), "Saturday"),
    ("monthname", ("2008-02-03",), "February"),
    ("to_days", ("2007-10-07",), 733321),
    ("from_days", (730669,), __import__("datetime").date(2000, 7, 3)),
    ("week", ("2008-02-20",), 7),
    ("yearweek", ("2008-02-20",), 200807),
    ("last_day", ("2004-02-05",), __import__("datetime").date(2004, 2, 29)),
    ("makedate", (2011, 31), __import__("datetime").date(2011, 1, 31)),
    ("sec_to_time", (2378,), "00:39:38"),
    ("time_to_sec", ("22:23:00",), 80580),
    ("timestampdiff", ("MONTH", "2003-02-01", "2003-05-01"), 3),
    ("timestampdiff", ("YEAR", "2002-05-01", "2001-01-01"), -1),
    ("timestampdiff", ("MINUTE", "2003-02-01", "2003-05-01 12:05:55"), 128885),
    ("datediff", ("2007-12-31 23:59:59", "2007-12-30"), 1),
    # json
    ("json_extract", ('{"a": {"b": 7}}', "$.a.b"), "7"),
    ("json_valid", ('{"a": 1}',), 1),
    ("json_valid", ("not json",), 0),
    ("json_quote", ('a"b',), '"a\\"b"'),
    ("json_unquote", ('"abc"',), "abc"),
    ("json_depth", ('{"a": {"b": 1}}',), 3),
    ("json_type", ("[1,2]",), "ARRAY"),
    ("json_contains", ('{"a":1,"b":2}', '{"a":1}'), 1),
    ("json_contains", ('{"a":1}', '{"z":9}'), 0),
    ("json_set", ('{"a": 1}', "$.b", "2"), '{"a": 1, "b": 2}'),
    ("json_remove", ('{"a": 1, "b": 2}', "$.b"), '{"a": 1}'),
    ("json_merge_patch", ('{"a":1,"b":2}', '{"b":null,"c":3}'), '{"a": 1, "c": 3}'),
    # network / uuid
    ("inet_aton", ("10.0.5.9",), 167773449),
    ("inet_ntoa", (167773449,), "10.0.5.9"),
    ("is_ipv4", ("10.0.5.9",), 1),
    ("is_ipv4", ("10.0.5.256",), 0),
    ("is_uuid", ("6ccd780c-baba-1026-9564-5b8c656024db",), 1),
    ("is_uuid", ("nope",), 0),
    ("bin_to_uuid", (bytearray(bytes.fromhex("6ccd780cbaba102695645b8c656024db")),),
     "6ccd780c-baba-1026-9564-5b8c656024db"),
    # vector (reference function/vector/distance.go)
    ("vec_distance_l2_squared", ([1.0, 2.0], [4.0, 6.0]), 25.0),
    ("vec_distance_euclidean", ([0.0, 0.0], [3.0, 4.0]), 5.0),
    ("vec_distance_cosine", ([1.0, 0.0], [1.0, 0.0]), 0.0),
]


@pytest.mark.parametrize("name,args,expected", CASES,
                         ids=[f"{c[0]}-{i}" for i, c in enumerate(CASES)])
def test_function_golden(spark, name, args, expected):
    got = val(spark, mysql_fn(name, *args))
    if isinstance(expected, float):
        assert got == pytest.approx(expected, rel=1e-9), (name, args)
    else:
        assert got == expected, (name, args)


def test_registry_size():
    # §2.9 coverage: the registry should keep growing; guard the floor
    assert len(names()) >= 170, len(names())


def test_unknown_function_raises():
    with pytest.raises(KeyError, match="unknown MySQL function"):
        mysql_fn("no_such_fn", 1)


def test_spatial_point_roundtrip(spark):
    from go_mysql_server_spark.functions.spatial import (
        point, st_astext, st_distance, st_geomfromtext, st_x, st_y,
    )
    p = point(3.0, 4.0)
    assert val(spark, st_x(p)) == 3.0
    assert val(spark, st_y(p)) == 4.0
    assert val(spark, st_astext(p)) == "POINT(3.0 4.0)"
    assert val(spark, st_distance(point(0, 0), p)) == 5.0
    parsed = st_geomfromtext("POINT(3 4)").getItem(0)
    assert val(spark, st_distance(parsed, p)) == 0.0


def test_spatial_length_area_contains(spark):
    from go_mysql_server_spark.functions.spatial import (
        st_area, st_contains, st_geomfromtext, st_length,
    )
    line = st_geomfromtext("LINESTRING(0 0, 3 0, 3 4)")
    assert val(spark, st_length(line)) == 7.0
    square = st_geomfromtext("POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))")
    assert val(spark, st_area(square)) == 16.0
    from go_mysql_server_spark.functions.spatial import point
    assert val(spark, st_contains(square, point(2, 2))) == 1
    assert val(spark, st_contains(square, point(5, 2))) == 0


def test_spatial_distance_sphere(spark):
    from go_mysql_server_spark.functions.spatial import point, st_distance_sphere
    # Paris (2.35, 48.85) ↔ London (-0.13, 51.51): ~343-344 km
    d = val(spark, st_distance_sphere(point(2.35, 48.85), point(-0.13, 51.51)))
    assert 340_000 < d < 348_000


def test_wkb_constructors_and_hull(spark):
    import struct

    from pyspark.sql import functions as F

    from go_mysql_server_spark.functions import mysql_fn

    pt = struct.pack("<BIdd", 1, 1, 1.5, 2.5)
    pt_srid = struct.pack("<I", 4326) + pt  # MySQL internal SRID prefix
    line = (struct.pack("<BII", 1, 2, 3)
            + struct.pack("<dd", 0, 0) + struct.pack("<dd", 1, 1)
            + struct.pack("<dd", 2, 0))
    df = spark.createDataFrame([(pt, pt_srid, line)],
                               "a binary, b binary, c binary")
    row = df.select(
        mysql_fn("st_pointfromwkb", F.col("a")).alias("p"),
        mysql_fn("st_geomfromwkb", F.col("b")).alias("ps"),
        mysql_fn("st_convexhull",
                 mysql_fn("st_linefromwkb", F.col("c"))).alias("hull"),
    ).collect()[0]
    assert (row.p.x, row.p.y) == (1.5, 2.5)
    assert [(p.x, p.y) for p in row.ps] == [(1.5, 2.5)]
    # hull of the 3-point wedge keeps all three vertices, CCW from min
    assert {(p.x, p.y) for p in row.hull} == {(0, 0), (2, 0), (1, 1)}


def test_wkb_srid_zero_prefix(spark):
    """SRID 0 (MySQL's default) prefix must be stripped: 00 00 00 00 | 01 |
    type bytes sniffs as a *bare big-endian* header, so the parser must
    fall back to the interpretation that consumes the whole buffer."""
    import struct

    from pyspark.sql import functions as F

    from go_mysql_server_spark.functions import mysql_fn

    pt = struct.pack("<BIdd", 1, 1, 7.25, -3.5)
    pt_srid0 = struct.pack("<I", 0) + pt
    df = spark.createDataFrame([(pt_srid0,)], "b binary")
    row = df.select(mysql_fn("st_pointfromwkb", F.col("b")).alias("p")).collect()[0]
    assert (row.p.x, row.p.y) == (7.25, -3.5)


def test_multifromtext_scientific_notation(spark):
    """Coordinates like 1e-5 keep their exponent (only geometry keywords
    are stripped, not every letter run)."""
    from pyspark.sql import functions as F

    from go_mysql_server_spark.functions import mysql_fn

    df = spark.createDataFrame(
        [("MULTILINESTRING((1e-5 2.5, 3E2 -4e-1))",)], "w string")
    row = df.select(
        mysql_fn("st_mlinefromtext", F.col("w")).alias("g")).collect()[0]
    assert [(p.x, p.y) for p in row.g] == [(1e-5, 2.5), (300.0, -0.4)]


def test_distance_rejects_non_literal_metric():
    import pytest
    from pyspark.sql import functions as F

    from go_mysql_server_spark.functions.wkb_fns import distance

    with pytest.raises(TypeError, match="literal string"):
        distance(F.lit("L2"), F.lit([1.0]), F.lit([2.0]))


def test_multi_geometry_text_and_distance(spark):
    from pyspark.sql import functions as F

    from go_mysql_server_spark.functions import mysql_fn

    row = spark.range(1).select(
        mysql_fn("st_multilinestringfromtext",
                 F.lit("MULTILINESTRING((0 0, 1 1),(2 2, 3 3))")).alias("ml"),
        mysql_fn("distance", "L2",
                 F.array(F.lit(3.0), F.lit(0.0)),
                 F.array(F.lit(0.0), F.lit(4.0))).alias("l2"),
        mysql_fn("distance", "COSINE",
                 F.array(F.lit(1.0), F.lit(0.0)),
                 F.array(F.lit(1.0), F.lit(0.0))).alias("cos_same"),
    ).collect()[0]
    assert [(p.x, p.y) for p in row.ml] == [(0, 0), (1, 1), (2, 2), (3, 3)]
    assert row.l2 == 5.0
    assert abs(row.cos_same) < 1e-12


def test_gtid_subtract_and_schema_report(spark):
    from pyspark.sql import functions as F

    from go_mysql_server_spark.functions import mysql_fn

    row = spark.range(1).select(
        mysql_fn("gtid_subtract", F.lit("aaa:1-10,bbb:1-3"),
                 F.lit("aaa:3-5,bbb:1-3")).alias("g"),
        mysql_fn("json_schema_validation_report",
                 F.lit('{"type":"object","required":["a"]}'),
                 F.lit('{"a": 1}')).alias("ok"),
        mysql_fn("json_schema_validation_report",
                 F.lit('{"type":"object","required":["a"]}'),
                 F.lit('{"b": 1}')).alias("bad"),
    ).collect()[0]
    assert row.g == "aaa:1-2:6-10"
    assert '"valid": true' in row.ok
    assert '"valid": false' in row.bad


def test_last_insert_uuid_engine(spark):
    from go_mysql_server_spark.engine import Engine

    eng = Engine(spark)
    eng.query("CREATE TABLE tu (id VARCHAR(36) DEFAULT (uuid()), x INT)")
    eng.query("INSERT INTO tu (x) VALUES (7)")
    got = eng.query("SELECT LAST_INSERT_UUID() AS u").collect()[0]["u"]
    stored = eng.query("SELECT id FROM tu").collect()[0]["id"]
    assert got == stored and len(got) == 36
    # session state: another engine on the same SparkSession has not
    # inserted anything
    other = Engine(spark)
    assert other.query("SELECT LAST_INSERT_UUID() AS u").collect()[0]["u"] \
        is None

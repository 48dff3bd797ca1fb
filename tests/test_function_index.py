"""The engine's SQL functions register when a statement first names them
(`functions/sql_index.py`): Engine() registers none, every name the eager
registration used to install still resolves from SQL text, and what Spark
and the engine list is what it was. One session per test, so no other
engine's registrations are seen."""

from __future__ import annotations

import pytest

from go_mysql_server_spark import functions
from go_mysql_server_spark.engine import Engine
from go_mysql_server_spark.functions.sql_index import declared
from tests.test_engine import rows

# every name Engine() registered in a new session when it registered
# everything up front
EAGER = (
    "__json_table_rows", "addtime", "bin_to_uuid", "coercibility",
    "convert_tz", "distance", "export_set", "format_bytes", "from_days",
    "from_vector", "generate_series_tf", "geomcollection",
    "geometrycollection", "get_format", "gtid_subtract", "inet6_aton",
    "inet6_ntoa", "inet_aton", "inet_ntoa", "is_binary", "is_ipv4",
    "is_ipv4_compat", "is_ipv4_mapped", "is_ipv6", "is_used_lock",
    "is_uuid", "json_array_append", "json_array_insert", "json_contains",
    "json_contains_path", "json_depth", "json_each", "json_extract",
    "json_extract_wild", "json_insert", "json_keys", "json_length",
    "json_merge", "json_merge_patch", "json_merge_preserve",
    "json_overlaps", "json_pretty", "json_quote", "json_remove",
    "json_replace", "json_schema_valid", "json_schema_validation_report",
    "json_search", "json_set", "json_storage_free", "json_storage_size",
    "json_type", "json_unquote", "json_valid", "json_value", "linestring",
    "load_file", "maketime", "microsecond", "multilinestring", "multipoint",
    "multipolygon", "mysql_charset", "mysql_ci_key", "mysql_collation",
    "mysql_datefmt_to_java", "mysql_datefmt_to_java_parse",
    "mysql_format_locale", "mysql_ja_key", "mysql_load_unescape",
    "mysql_regexp_instr", "mysql_regexp_like", "mysql_regexp_replace",
    "mysql_regexp_substr", "mysql_soundex", "mysql_trim",
    "mysql_utf8_lenient", "mysql_utf8_valid", "mysql_zh_key",
    "mysql_zh_key_wide", "ord", "period_add", "period_diff", "point",
    "polygon", "random_bytes", "sec_to_time", "sleep", "st_area",
    "st_asbinary", "st_asgeojson", "st_astext", "st_aswkb", "st_aswkt",
    "st_centroid", "st_contains", "st_convexhull", "st_dimension",
    "st_disjoint", "st_distance", "st_distance_sphere", "st_endpoint",
    "st_envelope", "st_equal", "st_equals", "st_exteriorring", "st_geohash",
    "st_geomcollfromtext", "st_geomcollfromtxt", "st_geomcollfromwkb",
    "st_geometrycollectionfromtext", "st_geometrycollectionfromwkb",
    "st_geometryfromtext", "st_geometryfromwkb", "st_geometryn",
    "st_geometrytype", "st_geomfromgeojson", "st_geomfromtext",
    "st_geomfromwkb", "st_interiorringn", "st_intersects", "st_isclosed",
    "st_isempty", "st_issimple", "st_latfromgeohash", "st_latitude",
    "st_length", "st_linefromtext", "st_linefromwkb",
    "st_linestringfromtext", "st_linestringfromwkb", "st_longfromgeohash",
    "st_longitude", "st_mlinefromtext", "st_mlinefromwkb",
    "st_mpointfromtext", "st_mpointfromwkb", "st_mpolyfromtext",
    "st_mpolyfromwkb", "st_multilinestringfromtext",
    "st_multilinestringfromwkb", "st_multipointfromtext",
    "st_multipointfromwkb", "st_multipolygonfromtext",
    "st_multipolygonfromwkb", "st_numgeometries", "st_numinteriorring",
    "st_numinteriorrings", "st_numpoints", "st_perimeter",
    "st_pointfromgeohash", "st_pointfromtext", "st_pointfromwkb",
    "st_pointn", "st_polyfromtext", "st_polyfromwkb", "st_polygonfromtext",
    "st_polygonfromwkb", "st_srid", "st_startpoint", "st_swapxy",
    "st_validate", "st_within", "st_x", "st_y", "string_to_vector",
    "subtime", "time_to_sec", "timediff", "to_days", "to_vector",
    "tokenize_text", "utc_timestamp", "uuid_short", "uuid_to_bin",
    "validate_password_strength", "validate_password_strength_policy",
    "vector_to_string", "week", "yearweek"
)

TABLE_FUNCTIONS = {"tokenize_text", "generate_series_tf", "json_each",
                   "__json_table_rows"}


@pytest.fixture(scope="module")
def fresh(spark):
    """An engine on a session of its own, before any statement."""
    return Engine(spark.newSession())


def test_engine_registers_nothing(fresh):
    assert fresh._fns.taken == set()
    assert not fresh.spark.catalog.functionExists("json_set")


@pytest.mark.parametrize("name", EAGER)
def test_resolves_on_first_use(fresh, name):
    """A statement naming the function registers it. A wrong argument
    count still names a resolved function."""
    sql = (f"SELECT * FROM {name}(NULL)" if name in TABLE_FUNCTIONS
           else f"SELECT {name}(NULL)")
    try:
        fresh.query(sql)
    except Exception as err:  # noqa: BLE001 — any refusal but unknown name
        assert "UNRESOLVED_ROUTINE" not in str(err), err
    assert fresh.spark.catalog.functionExists(name)


def test_spark_lists_the_eager_names(spark):
    """Once every indexed name is used, the session's user functions are
    exactly the ones the eager registration installed, and the builder
    registry lists what it did."""
    eng = Engine(spark.newSession())
    eng._fns.need(" ".join(f"{name}(" for name in declared()))
    listed = {r[0] for r in eng.spark.sql("SHOW USER FUNCTIONS").collect()}
    system = {r[0] for r in eng.spark.sql("SHOW SYSTEM FUNCTIONS").collect()}
    # Spark lists a temporary function that shadows a builtin as the builtin
    assert listed == set(EAGER) - system
    assert functions.names() == sorted(functions.REGISTRY)


def test_unresolved_routine_retry_registers(spark, monkeypatch):
    """The analysis retry registers a name the scan before analysis
    missed."""
    eng = Engine(spark.newSession())
    scan = eng._fns.need
    monkeypatch.setattr(eng._fns, "need", lambda text: None)
    assert rows(eng.query("SELECT week(DATE '2024-03-05')")) == [(9,)]
    monkeypatch.setattr(eng._fns, "need", scan)


def test_stored_function_keeps_its_name(spark):
    """A stored function that takes an indexed name is never registered
    over, as it was not under eager registration."""
    eng = Engine(spark.newSession())
    eng.query("CREATE FUNCTION week(d DATE) RETURNS INT RETURN 42")
    assert rows(eng.query("SELECT week(DATE '2024-03-05')")) == [(42,)]

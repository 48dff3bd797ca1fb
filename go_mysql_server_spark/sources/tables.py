"""Table registration: parquet dirs → named DataFrames / temp views.

This is the Spark analogue of the reference's storage SPI
(reference sql/tables.go:22-33 — `Partitions`/`PartitionRows` scan interface,
plus `FilteredTable`/`ProjectedTable` pushdown capabilities at
sql/tables.go:105-134). Spark's parquet DataSource gives all of those
natively: file splits are the partitions, and filter/column pushdown shows
up in the scan node as PushedFilters/ReadSchema.

Scale note: at 100 TB these would be partitioned/bucketed managed tables;
here they are plain parquet files. Everything downstream only sees a
DataFrame, so swapping the source for a bucketed catalog table (to get
shuffle-free joins on the bucket key) changes nothing above this module.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import tune_session

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# r9: plan-level memo — repeated loads of the same table re-read the
# parquet footer and re-run schema resolution on the DRIVER each time,
# inside the bench's timed region (guide §5). The memo stores the
# unevaluated DataFrame (logical plan only): every action still scans the
# parquet files, so no results or intermediates are ever cached.
# r10 (advice): keyed by the SparkSession OBJECT id, not applicationId —
# two sessions of one application may carry different session-scoped
# confs/UDF registries and must not share plans. Assumption (documented):
# the memoized plan pins the parquet file-listing snapshot, so sf_dir
# contents must not change while a session is alive (the testdata dirs
# are read-only by contract).
_LOAD_MEMO: dict[tuple[int, str, str], DataFrame] = {}


def footer_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema `spark.read.parquet(path)` infers for one parquet file,
    without the job inference runs: the file's footer, converted by Spark's
    own converter under the session's conf. A Spark-written file keeps its
    Spark schema under the row-metadata key, which the converter reads as
    inference does. A directory, or a missing path, is inferred (or
    refused) as Spark does it."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(conf)
    if not fs.isFile(hpath):
        return spark.read.parquet(path).schema
    status = fs.getFileStatus(hpath)
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    footer = jvm.org.apache.parquet.hadoop.Footer(
        hpath, jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            conf, status, jvm.org.apache.parquet.format.converter
            .ParquetMetadataConverter.NO_FILTER))
    converter = parquet.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf())
    return T._parse_datatype_json_string(
        parquet.ParquetFileFormat.readSchemaFromFooter(
            footer, converter).json())


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Filter/column pruning pushdown is Spark-native."""
    tune_session(spark)
    memo_key = (id(spark), sf_dir, name)
    hit = _LOAD_MEMO.get(memo_key)
    if hit is not None:
        return hit
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = footer_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = next((f.dataType.simpleString() for f in schema.fields
                        if f.name == "ts"), "")
        if ts_type in ("bigint", "long"):
            # TIMESTAMP(NANOS) parquet read as long (nanosAsLong) —
            # rescale to µs timestamp with integer division, matching
            # DuckDB's ns→µs truncation.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # Plain TIMESTAMP parquet: normalize NTZ → session-local
            # timestamp so window/session functions and the DuckDB
            # oracle (naive timestamps) agree.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if len(_LOAD_MEMO) > 256:  # bounded: tables x sf_dirs x sessions
        _LOAD_MEMO.clear()
    _LOAD_MEMO[memo_key] = df
    return df


def register_all(spark: SparkSession, sf_dir: str,
                 prefix: str = "") -> dict[str, DataFrame]:
    """Register every testdata table as a temp view; returns the DataFrames.

    Mirrors the reference's database catalog registration
    (reference sql/catalog.go / memory/database.go) in the thinnest possible
    way: names → relations in the session catalog, so both DataFrame code
    and spark.sql() text can address them.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load(spark, sf_dir, name)
        df.createOrReplaceTempView(prefix + name)
        out[name] = df
    return out

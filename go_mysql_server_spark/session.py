"""SparkSession factory tuned for the engine.

The reference engine (go-mysql-server) executes queries single-threaded with
fully in-memory sorts/hashes and no spill (see SURVEY.md §4.4,
reference sql/rowexec/). On Spark we instead get task parallelism, external
sort/agg/join with spill, and adaptive execution for free — this module just
sets the knobs so those behave well from local[32] up to a 1000-executor
cluster:

- AQE on: runtime join-strategy switching (broadcast when a side turns out
  small), skew-join splitting, partition coalescing. At 100 TB this is what
  keeps a statically mis-planned shuffle from becoming the bottleneck.
- shuffle.partitions sized to cores locally; on a real cluster AQE coalesces
  from a high initial number, so we set a high initialPartitionNum instead of
  hand-tuning per-query.
- ANSI off: the reference implements MySQL's lax coercions/NULL-on-error
  semantics (reference sql/types/conversion.go); Spark 4 defaults to ANSI
  which *raises* on overflow/bad-cast. MySQL semantics need ANSI off.
- Session timezone UTC: parquet timestamps in the testdata are naive-UTC;
  the DuckDB oracle reads them naively, so Spark must not shift them.
"""

from __future__ import annotations

import functools
import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(app_name: str = "go-mysql-server-spark",
                  cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # On a real cluster start high and let AQE coalesce; locally cores.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(max(cpus, 64)))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.ansi.enabled", "false")
        # MySQL JSON_OBJECT/JSON_OBJECTAGG keep the LAST value for a
        # duplicated key; Spark's default map policy is EXCEPTION
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark wraps every Column method and functions.* call to record
        # its Python call site for DataFrame error context: a conf read, a
        # JVM origin set and clear, and a stack walk per call. The engine
        # reports its own errnos, not DataFrame call sites. Static conf.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


@functools.lru_cache(maxsize=2)
def _splitter(jvm) -> tuple:
    """A NUL-splitting Pattern and PythonUtils of one JVM: resolving a
    class by name costs py4j calls, a held reference none."""
    return jvm.java.util.regex.Pattern.compile("\x00"), jvm.PythonUtils


def select_exprs(df: DataFrame, items: list[str],
                 method: str = "selectExpr") -> DataFrame:
    """`df.selectExpr(*items)`, or another `method` taking names, in a
    fixed number of py4j calls: PySpark sends a list over py4j one
    element per call, this one string."""
    if not items or any("\x00" in i for i in items):
        return getattr(df, method)(*items)
    pattern, utils = _splitter(df.sparkSession._jvm)
    seq = utils.toSeq(pattern.splitAsStream("\x00".join(items)).toList())
    return ClassicDataFrame(getattr(df._jdf, method)(seq), df.sparkSession)


def iter_checkpoint(df, eager: bool = True):
    """Lineage truncation for iterative operators (connected components,
    recursive CTE fixpoint, k-means rounds).

    Default: `localCheckpoint` — blocks live in executor memory/disk, which
    is fast but is LOST if an executor dies; on a single-node session that
    is fine. For multi-hour cluster jobs set
    `spark.gms.reliableCheckpoint=true` AND a `spark.checkpoint.dir`
    (sc.setCheckpointDir) — the loop state is then written to the reliable
    store so executor loss only re-reads, not re-derives, prior rounds.
    (Reference has no analogue: go-mysql-server's recursive CTE iterates in
    one process, sql/plan/recursive_cte.go.)
    """
    spark = df.sparkSession
    reliable = spark.conf.get("spark.gms.reliableCheckpoint", "false")
    if reliable.lower() == "true":
        sc = spark.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            import tempfile
            sc.setCheckpointDir(tempfile.mkdtemp(prefix="gms_ckpt_"))
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


# what setting a conf raises when the host session holds it fixed: a static
# SQL conf, or a core conf that `spark.conf.set` may not change
_LOCKED_CONF = {"CANNOT_MODIFY_STATIC_CONFIG", "CANNOT_MODIFY_CONFIG"}


def _set_unless_locked(spark: SparkSession, key: str, value: str) -> None:
    """Set a conf; a conf the host session locks keeps its value. Any
    other failure raises."""
    try:
        spark.conf.set(key, value)
    except AnalysisException as err:
        if err.getCondition() not in _LOCKED_CONF:
            raise


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session.

    The driver's verify harness creates its own SparkSession; every query
    builder calls this so semantics (timezone, ANSI) don't depend on who
    built the session. Only runtime-mutable confs are touched, and a conf
    the host session locks keeps the host's value.
    """
    import os as _os

    # r9: memoized via a marker conf — tune_session runs on EVERY table
    # load (sources/tables.py), and the 8 py4j conf round-trips were pure
    # driver latency inside the bench's timed region (guide §5: the
    # driver should do almost no work on the query path). Nothing else in
    # the engine mutates these confs (session vars live in Session.sys_vars),
    # so re-applying them is a no-op re-spelled.
    if spark.conf.get("spark.gms.tuned", "") == "1":
        # Re-assert the two cheap semantics-bearing confs every call:
        # an external mid-session mutation (host harness, test code)
        # must not silently change timestamp/coercion results. Two
        # py4j set() calls — the memo still skips the other six.
        for key, value in (("spark.sql.session.timeZone", "UTC"),
                           ("spark.sql.ansi.enabled", "false")):
            _set_unless_locked(spark, key, value)
        return spark

    cores = _os.cpu_count() or 8
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.adaptive.enabled", "true"),
        # MySQL JSON object semantics: LAST value wins for dup keys
        ("spark.sql.mapKeyDedupPolicy", "LAST_WIN"),
        # A host session may carry the 200-partition default; size shuffles
        # to the machine (AQE coalesces further at runtime).
        ("spark.sql.shuffle.partitions", str(cores)),
        # events.parquet stores TIMESTAMP(NANOS) which Spark 4 rejects;
        # read as long and rescale in sources/tables.py (DuckDB truncates
        # ns→µs the same way).
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.gms.tuned", "1"),
    ):
        _set_unless_locked(spark, key, value)
    return spark

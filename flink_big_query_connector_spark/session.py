"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same configuration
knobs (AQE, shuffle partitions, Arrow) are what we would set on a real
1000-executor cluster — only the numbers change.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED_SESSIONS: set[int] = set()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Executor workers are separate processes that do not inherit the
    driver's ``sys.path`` edits; any closure that references this package
    (foreachPartition writers, pandas UDFs) needs the package distributed.
    Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED_SESSIONS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    fd, zip_path = tempfile.mkstemp(suffix=".zip", prefix="fbqc_pkg_")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for base, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(base, fn)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)


def default_shuffle_partitions(cpus: int | str) -> int:
    """Initial shuffle-partition count: 8x cores, AQE coalesces down.

    The initial count is the UPPER bound AQE can never raise, so it is
    sized for the largest shuffle in the workload, not the core count:
    at a fixed 1x-cores count a decade of data growth multiplies
    per-task sort/agg memory tenfold, and on a real cluster that is
    where large sorts start spilling.  AQE coalescing makes the higher
    count free on small inputs (paired idle sf0.1 bench: shared-21
    15.77 s @32 vs 15.58 s @256).  NOTE on measurements: the round-10
    loaded-box single runs that motivated this change (b11_window_rank
    "32.8 s @32") did NOT reproduce under a round-11 idle-box
    interleaved min-of-3 protocol — at sf10 local[32] the @32 vs @256
    delta is within noise (b11 1.65 vs 2.37 s; b20_q5 8.4 vs 10.4 s) —
    so the default stands on the AQE-upper-bound argument and the
    ~128 MB-per-task cluster sizing rule, not on a local[32] win.  See
    BASELINE.md "partition-sizing experiment" for the full record."""
    try:
        return 8 * int(cpus)
    except (TypeError, ValueError):  # cpus="*" etc.
        return 256


_DAEMON_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "worker_daemon"
)


def _worker_daemon_conf() -> dict:
    """``spark.python.daemon.module`` for ``worker_daemon/fbqc_daemon.py``,
    which stops every Python task from re-reading ``pyspark.zip``'s
    directory (its docstring has the measurement).

    The daemon imports the module from the JVM's ``PYTHONPATH``, so the
    directory goes into this process's environment before the JVM starts.
    A JVM started earlier without it keeps the stock daemon: a daemon
    module it cannot import would fail every Python task."""
    from pyspark import SparkContext

    if SparkContext._gateway is None:
        pp = os.environ.get("PYTHONPATH", "")
        if _DAEMON_DIR not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                f"{pp}{os.pathsep}{_DAEMON_DIR}" if pp else _DAEMON_DIR
            )
        jvm_pp = os.environ["PYTHONPATH"]
    else:
        jvm_pp = SparkContext._jvm.java.lang.System.getenv("PYTHONPATH") or ""
    if _DAEMON_DIR not in jvm_pp.split(os.pathsep):
        return {}
    return {"spark.python.daemon.module": "fbqc_daemon"}


def get_spark(
    app_name: str = "flink-big-query-connector-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS",
            str(default_shuffle_partitions(cpus)),
        )
    )
    # Before the JVM launches: worker processes inherit PYTHONPATH from
    # the JVM's environment snapshot, so the bundled-protobuf shim (the
    # native transformWithStateInPandas runner's worker dependency) must
    # be wired up now, not at first use.
    from .compat import enable_bundled_protobuf

    enable_bundled_protobuf()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime re-plan (shuffle coalescing, skew-join splitting,
        # dynamic broadcast conversion) — essential at 100 TB, free locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # UTC so timestamp semantics match the (tz-naive) parquet test data
        # and the duckdb oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas_udf / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # InferFiltersFromGenerate synthesizes size(e)>0 filters below
        # explode() and pushdown re-inlines the generator's full expression
        # tree into the scan filter (cf. SPARK-36715) — for our shingle
        # pipelines that turns one tokenize pass into hundreds per row.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Test parquet carries TIMESTAMP(NANOS); read as NTZ (Spark truncates
        # to micros, matching duckdb's microsecond timestamps).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python DataSource readers (sources/bq_datasource.py) declare
        # pushFilters(); Spark requires this opt-in to call it.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in {**_worker_daemon_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session.

    The correctness driver hands us its own SparkSession; timezone must be
    pinned to UTC for oracle comparison and Arrow should be on.  Only
    runtime-mutable keys are touched here.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for k, v in (
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # nanosecond-timestamp parquet (driver test data) -> timestamp_ntz
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # see get_spark: avoids re-inlined generator inputs in scan filters
        (
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        ),
        # required for Python DataSource filter pushdown (bq_datasource)
        ("spark.sql.python.filterPushdown.enabled", "true"),
        # Arrow transfer to Python DataSource / pandas stages: the 10k
        # default fragments a 100k-row connector write into 10+ batches
        # per partition; 100k moves each partition in one batch (measured
        # ~17% off b26_dsv2_roundtrip).  At production partition sizing
        # (~128 MB splits) this stays a few batches per task — batch
        # memory scales with row width, not corpus size.
        ("spark.sql.execution.arrow.maxRecordsPerBatch", "100000"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark

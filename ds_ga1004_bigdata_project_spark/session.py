"""SparkSession factory with scale-oriented defaults.

The reference left its tuning commented out (``sample_indexer.py:55-63``:
shuffle.partitions=40, Kryo, executor sizing). Here the session is tuned for
real: AQE owns runtime re-planning (partition coalescing, skew-join splitting,
dynamic broadcast), Arrow handles any driver hand-off (``local_frame`` for
driver-held rows), and shuffle partitions default to a cluster-friendly value
that AQE coalesces downward on small data.

At 100 TB the knobs that matter are set here once: ``maxPartitionBytes`` keeps
scan tasks ~128 MB, AQE advisory size keeps post-shuffle partitions ~64 MB, and
skew-join splitting handles hot keys without manual salting in the common case.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_DEFAULTS = {
    # Adaptive execution: runtime partition coalescing, skew-join splitting,
    # and plan re-optimization from real shuffle statistics.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Dimension tables (region/nation/customer/part at any SF that fits) should
    # broadcast; 64m is safe with multi-GB executors.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Columnar Arrow transfer for toPandas()/pandas UDF boundaries
    # (the reference enabled this explicitly: Exploration-EDA.ipynb#cell6).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Scan task sizing: ~128 MB of parquet per input split.
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Deterministic wall-clock semantics for date/time functions regardless of
    # the host timezone (oracle comparisons depend on it).
    "spark.sql.session.timeZone": "UTC",
    # Quieter local runs.
    "spark.ui.showConsoleProgress": "false",
    # Status-store hygiene for long-lived sessions: the defaults retain
    # 1000 jobs/stages/executions of UI state, and a 130-query bench in one
    # JVM generates thousands of short jobs (iterative operators — CC
    # resolution, L-BFGS, ALS — emit dozens each). The single-threaded
    # listener bus then spends its time trimming an ever-growing status
    # store, which measurably inflates exactly those many-job queries late
    # in a suite. No server, tight retention: a cluster deployment that
    # wants the UI back overrides via extra_conf.
    "spark.ui.enabled": "false",
    "spark.ui.retainedJobs": "100",
    "spark.ui.retainedStages": "100",
    "spark.ui.retainedTasks": "5000",
    "spark.sql.ui.retainedExecutions": "50",
}


def get_session(
    app_name: str = "ds-ga1004-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    ``master=None`` defers to the environment (spark-submit / cluster manager);
    tests pass ``local[N]``. ``shuffle_partitions`` defaults to the local core
    count capped at 32 for local masters, and 200 otherwise — AQE coalesces
    down, so erring high only costs scheduling overhead, never spills.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    if shuffle_partitions is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0) or os.cpu_count() or 8)
        shuffle_partitions = min(cpus, 32) if (master or "").startswith("local") else 200
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_local_session(cpus: int | None = None, driver_mem: str | None = None,
                      **kw) -> SparkSession:
    """Local test/bench session: ``local[cpus]`` with matching shuffle width.

    Spark's local-mode default heap is 1g — far too small for 32 concurrent
    task threads; size it explicitly (must be set before the JVM launches).
    ``-Xlog:disable`` keeps JVM unified-logging (GC warnings) off stdout so
    bench.py's JSON line stays parseable."""
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", 0) or os.cpu_count() or 8)
    mem = driver_mem or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
    conf = {
        "spark.driver.memory": mem,
        # -Xlog:disable keeps GC/JIT unified logging off stdout (bench JSON
        # parseability). ReservedCodeCacheSize: the default 240 MB JIT code
        # cache overflows on a 130-query whole-stage-codegen suite in one
        # JVM — once full, HotSpot silently stops compiling and later
        # queries run interpreted (observed as stochastic 2-18× per-query
        # inflation late in bench runs); 512 MB + flushing keeps the
        # compiler on. Same flags Spark's own docs recommend for
        # codegen-heavy workloads.
        "spark.driver.extraJavaOptions":
            "-Xlog:disable -XX:ReservedCodeCacheSize=1g",
    }
    conf.update(kw.pop("extra_conf", {}) or {})
    return get_session(master=f"local[{n}]", shuffle_partitions=min(n, 32),
                       extra_conf=conf, **kw)


def local_frame(spark: SparkSession, rows: Iterable[tuple],
                ddl: str) -> DataFrame:
    """Driver-held rows as a relation: the engine's one driver-to-JVM path.

    The rows become one Arrow table (column-wise, typed by ``ddl``) that
    the JVM decodes into a ``LocalRelation`` — a ``LocalTableScan`` in the
    plan, planned and broadcast like any literal table. ``createDataFrame``
    over a Python list instead pickles the rows into an RDD
    (``Scan ExistingRDD``), and every job that reads it starts Python
    workers to unpickle them again. The schema is exactly ``ddl``; empty
    and ``None``-valued rows are fine. Spark keeps relations above
    ``spark.sql.execution.arrow.localRelationThreshold`` as JVM-side Arrow
    batches, still without Python workers."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)

"""Catalog / IO layer (SURVEY.md §2.1, S1-S8).

The reference reads Parquet fact tables (``sample_indexer.py:22-24``), SQLite
dimension tables via pandas (``Exploration-EDA.ipynb#cell24``), and header-less
CSVs (``#cell23``). The engine generalizes this into a named catalog over a
directory of Parquet tables, registered as SQL temp views so both the DataFrame
API and ``spark.sql`` address the same relations.

Paths are scheme-agnostic (S8): ``/local``, ``hdfs://``, ``s3a://`` all work,
because ``spark.read`` resolves the filesystem from the URI.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..session import local_frame

#: The driver-supplied star schema (TESTDATA.md) — one parquet file per table.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar Parquet scan (S1). Schema comes from the footer; Catalyst
    pushes predicates/column pruning into this scan automatically.

    Nanosecond-precision parquet timestamps (e.g. ``events.ts``, written by
    pandas/pyarrow) are illegal for Spark 4's reader by default; we read them
    as raw int64 nanos (legacy conf) and truncate to a microsecond timestamp —
    the same truncation DuckDB applies, so oracle comparisons agree."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view (SQLite-side-table analog, S4) so
    ``spark.sql`` queries match the DuckDB oracle's pre-registered views."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None,
                  mode: str = "overwrite") -> None:
    """Parquet sink (S2, ``sample_indexer.py:51``). ``partition_by`` gives
    directory-partitioned output for partition-pruned downstream scans."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_csv(spark: SparkSession, path: str, schema: StructType | str,
             header: bool = False, sep: str = ",") -> DataFrame:
    """Header-less CSV source with an explicit schema (S5) — the reference
    assigned names post-hoc in pandas (``Exploration-EDA.ipynb#cell23``); here
    the schema is declared so the scan never pays inference."""
    return spark.read.csv(path, schema=schema, header=header, sep=sep)


def write_csv(df: DataFrame, path: str, single_file: bool = False,
              mode: str = "overwrite") -> None:
    """CSV sink (S6). ``single_file`` coalesces to one partition — only for
    driver-scale exports (the reference's ``dominant_trackgenre.csv``)."""
    (df.coalesce(1) if single_file else df).write.mode(mode).option("header", True).csv(path)


def read_jsonl(spark: SparkSession, path: str,
               schema: StructType | str | None = None) -> DataFrame:
    """JSON-lines source. Declare the schema in production — schema inference
    is a full extra pass over the data (unacceptable at 100 TB); leaving it
    None is for exploration only."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jdbc(spark: SparkSession, url: str, table: str,
              driver: str | None = None,
              partition_column: str | None = None,
              lower_bound: int | None = None, upper_bound: int | None = None,
              num_partitions: int | None = None,
              **options: str) -> DataFrame:
    """JDBC source (S4 literal form) — the reference read its SQLite side
    tables ``track_metadata.db`` / ``lastfm_tags.db`` with pandas +
    ``sqlite3`` (``Exploration-EDA.ipynb#cell24,#cell26``); the engine's
    default mapping is parquet-backed temp views (:func:`register_views`),
    but a user migrating an existing SQLite/Postgres side table hits this
    path first.

    ``table`` may be a table name or a pushed-down subquery alias
    (``"(SELECT ...) t"``). For anything bigger than a dimension table,
    supply ``partition_column``/bounds/``num_partitions`` — without them the
    whole table arrives through ONE connection on one task; with them Spark
    issues ``num_partitions`` bounded range queries in parallel (the JDBC
    analog of a partitioned scan). Predicate pushdown applies to filters on
    the resulting DataFrame.

    Requires the matching JDBC driver jar on the Spark classpath (e.g.
    ``org.xerial:sqlite-jdbc``); the test suite skip-gates on its absence."""
    reader = (spark.read.format("jdbc")
              .option("url", url)
              .option("dbtable", table))
    if driver:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        # str(None) would reach Spark as the literal 'None' and fail with an
        # opaque parse error at runtime — fail fast with a clear message.
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "read_jdbc: partition_column requires explicit lower_bound "
                "and upper_bound (Spark splits [lower, upper) into "
                "num_partitions range queries)")
        reader = (reader.option("partitionColumn", partition_column)
                  .option("lowerBound", str(lower_bound))
                  .option("upperBound", str(upper_bound))
                  .option("numPartitions", str(num_partitions or 8)))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — the interchange format most training-data tooling
    consumes. One file per partition; compression via spark.conf if needed."""
    df.write.mode(mode).json(path)


def read_jsonl_audited(spark: SparkSession, path: str,
                       schema: StructType | str) -> DataFrame:
    """JSON-lines source with QUARANTINE semantics for malformed records —
    the ingestion reality at 100 TB: a crawl shard WILL contain truncated
    and garbage lines, and silently dropping them (DROPMALFORMED) destroys
    auditability while FAILFAST kills the job at hour nine. PERMISSIVE mode
    parses what it can and lands the raw text of every bad line in
    ``_corrupt_record``; callers split on its nullness — clean rows to the
    pipeline, corrupt rows to a quarantine sink with full fidelity.

    Note Spark's documented caveat: a query that selects ONLY
    ``_corrupt_record`` must also touch a data column (the parser
    short-circuits otherwise); the split helpers below do."""
    full_schema = (StructType.fromDDL(schema) if isinstance(schema, str)
                   else schema)
    from pyspark.sql.types import StringType, StructField

    if "_corrupt_record" not in [f.name for f in full_schema.fields]:
        full_schema = StructType(
            list(full_schema.fields)
            + [StructField("_corrupt_record", StringType(), True)])
    return (spark.read.schema(full_schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path))


def split_corrupt_records(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean_rows_without_the_marker_column, corrupt_raw_lines)."""
    from pyspark.sql import functions as F

    cached = df.cache()
    clean = (cached.filter(F.col("_corrupt_record").isNull())
             .drop("_corrupt_record"))
    corrupt = (cached.filter(F.col("_corrupt_record").isNotNull())
               .select("_corrupt_record"))
    return clean, corrupt


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — the other columnar lake format (Hive-ecosystem data
    often arrives as ORC). Same pushdown/pruning properties as parquet:
    predicate pushdown and column pruning reach the ORC reader natively."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink. Type caveat worth knowing at migration time: ORC has no
    unsigned or nanosecond-timestamp types; the engine's schemas (long,
    double, string, timestamp-µs, arrays) all round-trip losslessly."""
    df.write.mode(mode).orc(path)


class Catalog:
    """Convenience handle over one scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    def register_all(self) -> None:
        register_views(self.spark, self.sf_dir)

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)


def write_training_shards(df: DataFrame, path: str, key_col: str,
                          n_shards: int, salt: int = 42) -> None:
    """Training-corpus output: deterministic shard assignment
    (``operators.sampling.shard_assign`` — cross-engine multiplicative
    hash) + one parquet directory per shard via ``partitionBy``. Shard
    membership is pure per-row arithmetic, so downstream consumers (data
    loaders reading ``shard=K/``) see a stable, rerun-identical layout and
    external engines can verify it (q105's oracle does)."""
    from ..operators.sampling import shard_assign

    write_parquet(shard_assign(df, key_col, n_shards, salt=salt), path,
                  partition_by=["shard"])


def audited_write_parquet(df: DataFrame, path: str) -> dict:
    """Write parquet, then audit WHAT WAS WRITTEN: row count + per-column
    null counts computed from the produced files, returned to the driver —
    the write-audit half of write-audit-publish. Auditing the output (not
    the input plan) also catches writer-side faults; the audit pass is a
    columnar scan of exactly the audited columns, trivially parallel.

    (A zero-extra-scan variant via ``df.observe`` was reverted: in Spark
    4.1 a completed Observation leaks its non-serializable
    ObservationManager into later unrelated ML task closures.)"""
    from pyspark.sql import functions as F

    df.write.mode("overwrite").parquet(path)
    written = df.sparkSession.read.parquet(path)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for f in written.schema.fields:
        metrics.append(
            F.count(F.when(F.col(f.name).isNull(), 1))
            .alias(f"n_null_{f.name}"))
    return written.agg(*metrics).first().asDict()


def read_parquet_evolving(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: union parquet directories written at
    different schema versions into ONE DataFrame with the merged schema
    (``mergeSchema=true`` — columns absent in older files read as null).

    At 100 TB this is the normal state of a corpus lake: months of shards
    where newer ones carry added columns (a quality score, a license tag).
    Merging at read time beats rewriting history. Cost note: schema merge
    reads every file's FOOTER at planning (distributed, but not free) —
    pin a merged schema explicitly via ``.schema(...)`` once it stabilizes."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def compact_parquet(spark: SparkSession, src_dir: str, dst_dir: str,
                    target_file_mb: int = 128) -> int:
    """Small-file compaction: rewrite a fragmented directory into
    ~``target_file_mb`` files, sized from the ACTUAL input bytes. Returns
    the output file count.

    The classic lake-maintenance op: streaming/incremental writers (the
    q114 ingest path, per-micro-batch sinks) leave thousands of KB-scale
    files whose per-file open/footer cost dominates later scans. One
    distributed read → repartition → write; compaction of different
    directories parallelizes trivially at the orchestrator level."""
    import math

    from pyspark.sql.functions import input_file_name

    df = spark.read.parquet(src_dir)
    n_bytes = sum(f.size for f in _list_files(spark, src_dir))
    n_files = max(1, math.ceil(n_bytes / (target_file_mb << 20)))
    df.repartition(n_files).write.mode("overwrite").parquet(dst_dir)
    return (spark.read.parquet(dst_dir)
            .select(input_file_name().alias("f")).distinct().count())


def _list_files(spark: SparkSession, path: str):
    """Hadoop-FS listing through the JVM — scheme-agnostic (S8), no
    os.listdir assumptions about a local filesystem. Returns
    (name, size) tuples for data files (``_``-prefixed metadata skipped)."""
    from collections import namedtuple

    entry = namedtuple("FsEntry", ["name", "size"])
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    return [entry(st.getPath().getName(), st.getLen())
            for st in fs.listStatus(p)
            if st.isFile() and not st.getPath().getName().startswith("_")]


def write_clustered_parquet(df: DataFrame, path: str, cluster_by: str,
                            num_files: int | None = None) -> None:
    """Data-skipping layout: range-partition the rows by ``cluster_by`` and
    sort within each output file, so every parquet row group covers a
    NARROW, mostly non-overlapping min/max range of the cluster column.
    Point/range filters on that column then prune whole row groups from
    footer statistics alone — at 100 TB, the difference between scanning a
    date slice and scanning the corpus. (The same property bucketing gives
    join keys, applied to range predicates; a poor man's Z-order for the
    single-column case.)"""
    from pyspark.sql import functions as F

    out = df.repartitionByRange(
        *([num_files] if num_files else []), F.col(cluster_by)) \
        .sortWithinPartitions(cluster_by)
    out.write.mode("overwrite").parquet(path)


def morton_code_expr(col_a: str, col_b: str, bits: int = 21):
    """Morton (Z-order) interleave of two non-negative integer columns as a
    single SQL expression: bit i of each input lands at position 2i / 2i+1
    of the code. Clustering by the code gives BOTH columns locality, so
    row-group min/max statistics prune filters on EITHER column — the
    multi-column generalization of :func:`write_clustered_parquet`
    (what lakehouse OPTIMIZE ZORDER does, expressed in plain Spark).

    One compact SQL aggregate over ``sequence(0, bits-1)`` (same
    column-shift-amount trick as the SimHash fold) — no per-bit Python
    unrolling. 21 bits per column fills 42 of the 63 sign-safe bits."""
    from pyspark.sql import functions as F

    return F.expr(f"""aggregate(
      sequence(0, {bits - 1}),
      cast(0 as bigint),
      (acc, i) -> acc
        + shiftleft(shiftright(cast({col_a} as bigint), i) & 1, 2 * i)
        + shiftleft(shiftright(cast({col_b} as bigint), i) & 1, 2 * i + 1),
      acc -> acc)""")


def write_zordered_parquet(df: DataFrame, path: str, col_a: str, col_b: str,
                           num_files: int | None = None,
                           bits: int = 16) -> None:
    """Two-column Z-order clustering: range-partition + sort by the Morton
    code, then drop the helper column. Filters on either column prune row
    groups from footer statistics (verified in
    tests/test_layout_skipping.py).

    Both columns are RANGE-NORMALIZED to ``bits`` bits before interleaving
    — raw interleave lets the wider-ranged column's high bits dominate the
    sort and the narrow column gets no locality at all (the classic
    z-order pitfall with mismatched cardinalities; production OPTIMIZE
    ZORDER rank-normalizes for the same reason). Min/max are two driver
    scalars from one aggregate — metadata, not data."""
    from pyspark.sql import functions as F

    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)).first()
    if lo_a is None or lo_b is None:
        # Empty input: min/max (and the quantile boundaries below) come
        # back NULL — write the empty dataset as-is rather than raising
        # on int(None); a scheduled job's zero-row day must not crash.
        df.write.mode("overwrite").parquet(path)
        return
    scale = (1 << bits) - 1

    def norm(col: str, lo, hi):
        span = max(int(hi) - int(lo), 1)
        return ((F.col(col) - F.lit(int(lo))).cast("double")
                / F.lit(span) * scale).cast("long")

    tmp = (df.withColumn("_na", norm(col_a, lo_a, hi_a))
             .withColumn("_nb", norm(col_b, lo_b, hi_b))
             .withColumn("_z", morton_code_expr("_na", "_nb", bits)))

    # Deterministic file boundaries. repartitionByRange on the raw code
    # samples it with a seed derived from the RDD id — i.e. on how many
    # jobs the session ran before this one — so two identical writes can
    # produce different (and at small scale, poorly placed) range splits.
    # Instead: exact-deterministic quantile boundaries from one
    # percentile_approx pass (a GK sketch — no RNG), then bucket each row
    # by boundary count. Ranging on the tiny 0..n-1 bucket id is
    # sampling-proof in practice (n distinct heavily-repeated values), and
    # the _z sort inside each file is what the footer statistics need.
    n = num_files or max(tmp.rdd.getNumPartitions(), 1)
    if n > 1:
        [bounds] = tmp.agg(F.percentile_approx(
            "_z", [i / n for i in range(1, n)], 100_000)).first()
        bucket = F.lit(0)
        for b in sorted(set(bounds)):
            bucket = bucket + (F.col("_z") > F.lit(int(b))).cast("int")
        # Ranging on the bucket id still SAMPLES it (seeded by RDD id —
        # session-history-dependent), and an under-sampled bucket value
        # occasionally collapses two files into one. With only n distinct
        # heavily-repeated values a large per-partition sample makes the
        # boundary placement exhaustive-in-practice and the layout
        # deterministic; conf is saved/restored (the nanosAsLong
        # discipline in streaming/events.py).
        _SAMPLE_CONF = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
        sess = df.sparkSession
        before = sess.conf.get(_SAMPLE_CONF, None)
        sess.conf.set(_SAMPLE_CONF, "10000")
        try:
            out = (tmp.withColumn("_bucket", bucket)
                   .repartitionByRange(n, F.col("_bucket"))
                   .sortWithinPartitions("_z")
                   .drop("_z", "_na", "_nb", "_bucket"))
            out.write.mode("overwrite").parquet(path)
        finally:
            if before is None:
                sess.conf.unset(_SAMPLE_CONF)
            else:
                sess.conf.set(_SAMPLE_CONF, before)
    else:
        out = tmp.coalesce(1).sortWithinPartitions("_z") \
            .drop("_z", "_na", "_nb")
        out.write.mode("overwrite").parquet(path)


def incremental_file_batch(spark: SparkSession, data_dir: str,
                           manifest: DataFrame | None,
                           fmt: str = "parquet"
                           ) -> tuple[DataFrame | None, DataFrame]:
    """Manifest-driven incremental processing: read ONLY the data files in
    ``data_dir`` that a prior run has not yet processed — the daily-ingest
    counterpart of :func:`~..operators.dedup.incremental_ingest_dedup`
    (that one is incremental in ROWS against a fingerprint index; this one
    is incremental in FILES against a name manifest, the way
    micro-batch/auto-loader pipelines track progress).

    ``manifest`` is a DataFrame with a ``file_name`` column (or ``None``
    on the first run); when it also carries ``file_size`` — as the
    manifest rows this function returns always do — the anti-join keys on
    (name, size), so a file OVERWRITTEN IN PLACE with different-sized
    contents re-enters the batch instead of being skipped forever. A
    same-size in-place rewrite is still invisible (names+sizes are what a
    bare FS listing offers); producers that rewrite files in place should
    write fresh shard names, the standard immutable-file discipline of
    every manifest-tracked lake layout. Returns
    ``(batch_df, new_manifest_rows)``:
    ``batch_df`` scans ONLY the unprocessed files (``None`` when there is
    nothing new — a no-op run), and ``new_manifest_rows`` is the
    (file_name, file_size) relation for the caller to append to its
    manifest store AFTER the batch commits (write-then-mark gives
    at-least-once; pair with an idempotent sink such as
    ``run_foreach_batch_to_parquet``'s epoch layout for exactly-once).

    Scale shape: the FS listing is metadata (driver-side by definition —
    Spark's own InMemoryFileIndex lists on the driver); the set
    difference runs IN SPARK (anti-join), so a years-deep manifest of
    millions of rows never collects — only the day's NEW file names do
    (bounded by batch size). The selected files are read directly, so the
    scan touches none of the already-processed bytes."""
    listing = local_frame(
        spark, [(f.name, f.size) for f in _list_files(spark, data_dir)],
        "file_name string, file_size long")
    if manifest is not None:
        keys = (["file_name", "file_size"]
                if "file_size" in manifest.columns else ["file_name"])
        fresh = listing.join(manifest.select(*keys), keys, "left_anti")
    else:
        fresh = listing
    names = [r["file_name"] for r in fresh.select("file_name").collect()]
    if not names:
        return None, fresh

    def _glob_escape(name: str) -> str:
        # load() treats paths as Hadoop globs; a producer-named shard like
        # "export[2024-01].parquet" must be read literally, not pattern-
        # matched (or worse, fail with Path-does-not-exist forever, since
        # the file could then never be marked processed). Hadoop's
        # GlobPattern honors backslash escapes (its re2j parser rejects
        # the []]-style class convention).
        return "".join(f"\\{c}" if c in "[]{}*?\\" else c for c in name)

    batch = spark.read.format(fmt).load(
        [f"{data_dir}/{_glob_escape(n)}" for n in sorted(names)])
    return batch, fresh


def write_dynamic_partition_overwrite(df: DataFrame, path: str,
                                      partition_by: list[str]) -> None:
    """Partition-scoped overwrite — the idempotent backfill/late-data
    write pattern at 100 TB: re-running a day's job replaces ONLY the
    partitions present in ``df`` and leaves every other partition's files
    untouched (static overwrite mode — Spark's default — would first
    DELETE the entire table root). The conf flip is scoped and restored
    (the nanosAsLong discipline); INSERT OVERWRITE through a catalog
    table honors the same setting."""
    sess = df.sparkSession
    _MODE = "spark.sql.sources.partitionOverwriteMode"
    before = sess.conf.get(_MODE, None)
    sess.conf.set(_MODE, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        if before is None:
            sess.conf.unset(_MODE)
        else:
            sess.conf.set(_MODE, before)

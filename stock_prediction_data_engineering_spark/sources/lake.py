"""Hive-partitioned Parquet lake — the reference's storage layout,
Spark-native.

The reference writes one snappy parquet file per (company, year) under
``company={symbol}/year={year}/`` directories by hand (reference
dags/stock_data_airflow_local_aws_s3.py:53-63) and walks the tree to
upload to S3 (:74-91). In Spark the identical ``k=v`` layout is one
``partitionBy`` write; reads get partition discovery + pruning for
free, and an object store is just a different path scheme
(``s3a://…``) with the committer replacing walk-and-put.

Object-store status (SURVEY.md §2.1 S5): paths are resolved through
the Hadoop FileSystem API, so any scheme with a registered
implementation works unchanged — ``write_lake(df, "s3a://bucket/…")``
needs only the hadoop-aws jar plus credentials, and for production
S3 the zero-rename magic committer::

    spark.hadoop.fs.s3a.committer.name=magic
    spark.sql.sources.commitProtocolClass=
        org.apache.spark.internal.io.cloud.PathOutputCommitProtocol
    spark.sql.parquet.output.committer.class=
        org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter

Those jars are not in this harness, so S3 itself is out-of-harness;
the URI path resolution (scheme-qualified rather than raw OS paths)
is exercised in tests via ``file://`` URIs.

Differences from the reference, by design (SURVEY.md §1.2):

- the partition key columns are NOT duplicated inside the data files
  (the reference writes ``Year`` both in-file and in the directory,
  which collides under Spark's case-insensitive resolution);
- "batch_{n}" work-unit directories are dropped — task partitioning
  replaces them; batch ids remain reproducible as data
  (q_batch_assign);
- small-file control: ``files_per_partition`` repartitions before the
  write, because one file per (company, year) at reference scale is
  ~26.5k tiny files — fine for compat, wrong for 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_PARTITION_COLS = ("company", "year")


def write_lake(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = DEFAULT_PARTITION_COLS,
    files_per_partition: int | None = 1,
    sort_cols: tuple[str, ...] | None = None,
    writer_options: dict[str, str] | None = None,
) -> None:
    """Write ``df`` as a Hive-partitioned snappy-parquet lake.

    ``files_per_partition=1`` reproduces the reference's one-file-per-
    (company, year) grain; larger values salt the repartition key so
    each Hive partition splits across that many tasks/files (parallel
    writes + bounded file sizes for hot partitions); pass ``None`` to
    let upstream partitioning decide (the 100 TB default).

    ``sort_cols`` sorts rows *within* each task before writing, which
    clusters values so parquet row-group min/max stats become
    selective: a predicate on a sort column then skips most row groups
    at scan time (data skipping — the cheap half of Z-ordering, and
    the right half for single-column range predicates like ``ts``).
    """
    if files_per_partition is not None:
        keys = [F.col(c) for c in partition_cols]
        if files_per_partition > 1:
            # deterministic salt: same rows -> same file assignment.
            # The explicit partition count matters: AQE would otherwise
            # coalesce the small salted shuffle back into one task and
            # silently undo the file split.
            salt = F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]),
                F.lit(files_per_partition),
            )
            n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
            df = (
                df.withColumn("__file_salt", salt)
                .repartition(n, *keys, F.col("__file_salt"))
                .drop("__file_salt")
            )
        else:
            df = df.repartition(*keys)
    if sort_cols:
        df = df.sortWithinPartitions(*[F.col(c) for c in sort_cols])
    w = (
        df.write.mode("overwrite")
        .partitionBy(*partition_cols)
        .option("compression", "snappy")
    )
    for k, v in (writer_options or {}).items():
        w = w.option(k, v)
    w.parquet(path)


def read_lake(spark: SparkSession, path: str) -> DataFrame:
    """Read the lake back; partition columns come from the directory
    scheme and predicates on them prune at planning time."""
    return spark.read.parquet(path)


def ohlcv_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive an OHLCV-bar-shaped table from the events stream so lake
    tests exercise the reference's exact layout without network
    fetches: company <- user_id (mod 100 symbols), trading day <-
    date(ts), open/high/low/close <- value aggregates, volume <- count.
    """
    from ..catalog import table

    ev = table(spark, sf_dir, "events")
    day = F.to_date("ts")
    sym = F.concat(F.lit("SYM"), F.lpad((F.col("user_id") % 100).cast("string"), 3, "0"))
    return (
        ev.select(
            sym.alias("company"),
            F.col("ts"),
            day.alias("bar_date"),
            F.col("value"),
        )
        .groupBy("company", "bar_date")
        .agg(
            F.min_by("value", "ts").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ts").alias("close"),
            F.count("*").cast("long").alias("volume"),
        )
        .withColumn("year", F.year("bar_date"))
    )


def _discover_partition_cols(path: str) -> tuple[str, ...]:
    """Partition columns of a Hive-layout lake, from the directory
    names (``k=v`` levels), root-to-leaf order."""
    import os as _os

    cols: list[str] = []
    cur = path
    while True:
        subdirs = [
            d
            for d in sorted(_os.listdir(cur))
            if "=" in d and _os.path.isdir(_os.path.join(cur, d))
        ]
        if not subdirs:
            return tuple(cols)
        cols.append(subdirs[0].split("=", 1)[0])
        cur = _os.path.join(cur, subdirs[0])


def compact_parquet(
    spark: SparkSession, path: str, target_file_mb: int = 128
) -> int:
    """Compact a small-files parquet lake in place (copy-on-write
    through a staging dir) toward ~``target_file_mb`` files, preserving
    any Hive ``k=v`` partition layout; returns the target file count.

    The reference's layout deliberately creates one tiny file per
    (company, year) — ~26.5k files at its own scale (SURVEY.md §4
    'small-files problem'), which at 100 TB turns every scan into a
    listing + open storm. Periodic compaction is the lake-maintenance
    half of the fix; ``write_lake(files_per_partition=None)`` is the
    write-side half.

    Crash safety: the live path is swapped via rename-old → rename-
    staging → delete-old, so at every instant a complete copy of the
    data exists on disk (a crash mid-swap is recoverable from either
    the ``.old`` or ``.compacting`` directory; the previous rmtree-
    then-rename left a window with no data at all).
    """
    import os as _os
    import shutil as _shutil

    total = 0
    leaf_dirs: set[str] = set()
    for root, _dirs, files in _os.walk(path):
        pq = [f for f in files if f.endswith(".parquet")]
        if pq:
            leaf_dirs.add(root)
            total += sum(_os.path.getsize(_os.path.join(root, f)) for f in pq)
    n_files = int(max(1, total // (target_file_mb * 1024 * 1024)))

    partition_cols = _discover_partition_cols(path)
    df = spark.read.parquet(path)
    staging = path.rstrip("/") + ".compacting"
    if partition_cols:
        # per-partition file budget from the overall size target
        per_part = max(1, n_files // max(1, len(leaf_dirs)))
        write_lake(
            df,
            staging,
            partition_cols=partition_cols,
            files_per_partition=per_part,
        )
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(staging)

    old = path.rstrip("/") + ".old"
    if _os.path.exists(old):
        _shutil.rmtree(old)
    _os.rename(path, old)
    _os.rename(staging, path)
    _shutil.rmtree(old)
    return n_files


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = DEFAULT_PARTITION_COLS,
) -> None:
    """Partition-scoped incremental update (the reference's "daily
    stock data updates" roadmap, reference README.md:10,49, at lake
    scale): with dynamic partitionOverwriteMode, :func:`write_lake`'s
    overwrite replaces ONLY the (company, year) partitions present in
    ``df`` and leaves every other partition's files untouched — the
    daily batch costs O(changed partitions), not O(lake).

    Contrast streaming/upsert.py: that is row-keyed MERGE emulation
    (rewrites the whole table copy-on-write); this is partition-keyed
    and is the right tool when updates align with the partition grain,
    as daily bars do.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        write_lake(df, path, partition_cols, files_per_partition=None)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

"""Distributed global ranking — exact NTILE / row_number without a
single-partition window.

``Window.orderBy(...)`` with no ``partitionBy`` moves every row through
one task — the classic 100 TB cliff (an un-partitioned window was the
one scale-killer flagged in round 1). These helpers keep the exact
semantics of a global rank while staying distributed, using the
standard two-phase scheme (the same idea as ``RDD.zipWithIndex``):

1. range-partition the input on the ordering key (a distributed sort:
   each task holds a contiguous, sorted slice of the total order);
2. count rows per partition (one tiny job — the collect is
   partition-count-sized metadata, not data);
3. global rank = per-partition ``row_number`` + the partition's
   cumulative offset, applied via a broadcast map literal.

The final bucket assignment then reproduces SQL NTILE exactly:
with n rows and k tiles, the first ``n mod k`` tiles get
``n div k + 1`` rows, the rest ``n div k``.

Reference parity: the reference has no ranking ops; this backs the W5
declared query (SURVEY.md §2.5) with the same oracle output as
``ntile(4) OVER (ORDER BY ...)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_PID = "__rank_pid"


def _pinned_partition_offsets(
    df: DataFrame, order_cols: list[Column], aggs: list[Column]
) -> tuple[DataFrame, list[Column], list[int]]:
    """Phases 1-2 of the two-phase scheme, shared by the rank and the
    running-sum helpers.

    Range-partitions ``df`` on ``order_cols`` (tagging each row with
    its partition id in ``_PID``), pins that assignment, and collects
    each aggregate in ``aggs`` per partition. Returns ``(ranged,
    offset_maps, totals)``: ``offset_maps[i]`` is a map literal from
    partition id to the sum of ``aggs[i]`` over all EARLIER partitions
    and ``totals[i]`` is its sum over every partition. The collect is
    O(num_partitions) metadata, independent of data size.
    """
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # localCheckpoint PINS the range partitioning: the aggregate job
    # below and the caller's final job must see the exact same
    # row->partition assignment, but RangePartitioner's reservoir
    # sampling is seeded by the (per-job) RDD id — two executions of
    # the same plan can pick different boundaries once the input is
    # large enough to be sampled rather than read whole. Materializing
    # the shuffled partitions once removes that cross-job
    # nondeterminism (caught at sf0.1: ranks drifted by up to ±40
    # between the two jobs).
    ranged = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    per_part = {
        r[_PID]: list(r)[1:] for r in ranged.groupBy(_PID).agg(*aggs).collect()
    }
    offsets: dict[int, list[int]] = {}
    acc = [0] * len(aggs)
    for pid in sorted(per_part):
        offsets[pid] = list(acc)
        acc = [a + (v or 0) for a, v in zip(acc, per_part[pid])]
    if not offsets:  # empty input: the offset expression is never evaluated
        offsets = {0: [0] * len(aggs)}
    offset_maps = [
        F.create_map(
            *[F.lit(x) for pid, offs in offsets.items() for x in (pid, offs[i])]
        )
        for i in range(len(aggs))
    ]
    return ranged, offset_maps, acc


def _with_global_rank(
    df: DataFrame, order_cols: list[Column], rank_col: str
) -> tuple[DataFrame, int]:
    """Attach an exact 1-based global rank over a strict total order.

    Returns ``(ranked_df, total_rows)``. The ordering must be a total
    order (include a unique tiebreak column) so ranks are deterministic.
    Triggers one counting job; the per-partition counts it collects are
    O(num_partitions), independent of data size.
    """
    ranged, (offset_map,), (total,) = _pinned_partition_offsets(
        df, order_cols, [F.count("*").alias("cnt")]
    )
    # Each range partition is one window group: the per-group state is
    # bounded by the range-partition size, never the full table.
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    rank = (F.row_number().over(w) + offset_map[F.col(_PID)]).alias(rank_col)
    return ranged.select(*df.columns, rank), total


def global_running_sum(
    df: DataFrame,
    order_cols: list[Column],
    sum_col: str | list[str],
    out_col: str | list[str],
) -> DataFrame:
    """Exact distributed ``SUM(sum_col) OVER (ORDER BY order_cols ROWS
    UNBOUNDED PRECEDING)`` — a global prefix sum with no
    single-partition window, by the same two-phase scheme as
    :func:`_with_global_rank`: per-partition TOTALS are collected, and
    the running value is the keyed per-partition cumulative sum plus
    the partition's cumulative offset.

    Backs global-CDF analytics (KS statistic, Lorenz/gains curves)
    that would otherwise need the un-partitioned-window cliff.

    ``sum_col``/``out_col`` may be lists: every column's prefix sum is
    computed in the SAME pass — one shuffle, one checkpoint, one
    metadata collect, however many running sums (a two-sample CDF
    needs two; calling the helper twice would double every barrier).
    """
    sum_cols = [sum_col] if isinstance(sum_col, str) else list(sum_col)
    out_cols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(sum_cols) != len(out_cols):
        raise ValueError("sum_col and out_col lengths differ")
    ranged, offset_maps, _ = _pinned_partition_offsets(
        df, order_cols, [F.sum(c).alias(f"s{i}") for i, c in enumerate(sum_cols)]
    )
    w = (
        Window.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = [
        (F.sum(c).over(w) + offset_map[F.col(_PID)]).alias(out)
        for c, out, offset_map in zip(sum_cols, out_cols, offset_maps)
    ]
    return ranged.select(*df.columns, *running)


def global_ntile(
    df: DataFrame, n_tiles: int, order_cols: list[Column], bucket_col: str
) -> DataFrame:
    """Exact distributed ``NTILE(n_tiles) OVER (ORDER BY order_cols)``.

    Output matches the SQL function bit-for-bit (first ``n mod k``
    buckets take the extra row), but the plan is a range-partitioned
    sort plus per-partition windows — no SinglePartition exchange.
    """
    ranked, total = _with_global_rank(df, order_cols, "__rank")
    base, rem = divmod(total, n_tiles)
    threshold = (base + 1) * rem
    rank = F.col("__rank")
    # base == 0 (fewer rows than tiles): every rank falls in the WHEN
    # branch; guard the otherwise-divisor anyway.
    bucket = (
        F.when(rank <= threshold, F.ceil(rank / (base + 1)))
        .otherwise(rem + F.ceil((rank - threshold) / max(base, 1)))
        .cast("int")
        .alias(bucket_col)
    )
    return ranked.select(*df.columns, bucket)

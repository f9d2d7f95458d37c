"""Materialize-and-measure: the one primitive behind the dedup
family's duplication profiles and broadcast-vs-shuffle join gates.

A side that descends from a checkpoint carries a planner estimate
frozen before the checkpoint ran, so the static planner would
broadcast it at any scale. :func:`measure` checkpoints a table and
fills it with the one aggregate its caller needs anyway (row count,
plus a distinct count for a duplication profile); the checkpoint's
stored bytes are then read from the block manager, with no extra job
and no assumed row width. :func:`_sized` broadcasts a side while the
bytes of the checkpoint it comes from fit one budget, and records
every decision in :data:`GATES` (drained per query by ``bench.py``).
"""

from __future__ import annotations

from collections import deque
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Stored (deserialized) checkpoint bytes over-state the broadcast of a
# projection of it, so the gate errs toward shuffle joins.
_BROADCAST_MAX_BYTES = 400 * 1024 * 1024

# (site, rows, bytes, strategy) per decision; bounded for long-lived
# processes such as a streaming dedup job
GATES: deque[tuple[str, int, int, str]] = deque(maxlen=4096)


class Measured(NamedTuple):
    df: DataFrame  # the materialized checkpoint
    rows: int
    bytes: int
    distinct: int | None = None


def stored_bytes(cp: DataFrame) -> int:
    """Memory + disk bytes held for a checkpoint's RDD (0 before it is
    materialized). A driver-side lookup; runs no job."""
    rdd_id = cp._jdf.queryExecution().analyzed().rdd().id()
    for info in cp.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() == rdd_id:
            return int(info.memSize() + info.diskSize())
    return 0


def measure(df: DataFrame, distinct: str | None = None) -> Measured:
    """Lazily checkpoint ``df`` and fill it with ONE aggregate: its row
    count, plus ``countDistinct(distinct)`` for a duplication profile."""
    cp = df.localCheckpoint(eager=False)
    aggs = [F.count("*").alias("n")]
    if distinct is not None:
        aggs.append(F.countDistinct(distinct).alias("d"))
    r = cp.agg(*aggs).first()
    return Measured(cp, r["n"], stored_bytes(cp), r["d"] if distinct else None)


def upstream(m: Measured, cp: DataFrame) -> Measured:
    """Measurement of a lazy checkpoint ``cp`` that ``m``'s job filled
    on the way (``m.df`` is a row-for-row projection of ``cp``)."""
    return Measured(cp, m.rows, stored_bytes(cp))


def dup_material(n: int, d: int) -> bool:
    """At least 5 % of ``n`` rows repeat one of ``d`` distinct keys: the
    exact-dup collapse then saves more than its extra keyed joins cost."""
    return d * 100 <= n * 95


def _sized(df: DataFrame, m: Measured, site: str, big: str = "merge") -> DataFrame:
    """Explicit broadcast of ``df`` while the measured bytes of its
    checkpoint fit the budget; the ``big`` shuffle-join hint beyond
    (where a static broadcast off a frozen estimate would OOM)."""
    strategy = "broadcast" if m.bytes <= _BROADCAST_MAX_BYTES else big
    GATES.append((site, m.rows, m.bytes, strategy))
    return F.broadcast(df) if strategy == "broadcast" else df.hint(big)


def _sized_pair(
    df: DataFrame, cols: dict[str, str], m: Measured, site: str, big: str = "merge"
) -> tuple[DataFrame, DataFrame]:
    """The a- and b-side of a symmetric attach join: ``df`` projected
    to ``cols`` renamed by ``cols[c].format("a"/"b")``, each gated by
    :func:`_sized` as ``site_a`` / ``site_b``."""
    return tuple(
        _sized(
            df.select(*[F.col(c).alias(n.format(s)) for c, n in cols.items()]),
            m,
            f"{site}_{s}",
            big,
        )
        for s in "ab"
    )

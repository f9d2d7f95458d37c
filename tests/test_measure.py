"""The materialize-and-measure helper behind the dedup family's
duplication profiles and join gates (operators/measure.py).

- the profile's row and distinct counts, and the 95 % collapse rule on
  both sides of its boundary;
- the measured bytes are the block manager's stored size of the
  checkpoint, read without running a job;
- the profile is ONE aggregate: one Spark job with adaptive execution
  off, and exactly the jobs of the bare aggregate with it on;
- a long-document corpus: the shingle-hash table's measured width is
  over 10x the sf0.1 corpus' (~940 B/row), so a side far below the
  retired 400 k-row budget takes the shuffle hint once its bytes pass
  the byte budget.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from stock_prediction_data_engineering_spark.operators import measure as M

# stored bytes/row of minhash_lsh_pairs' shingle-hash table on the
# sf0.1 documents (~300-char texts): 4,703,728 B / 5,000 rows
SF01_SHINGLE_BYTES_PER_ROW = 941


def _keyed(spark, n: int, d: int):
    """n rows whose key column takes exactly d distinct values."""
    return spark.range(n).select(
        F.col("id"), (F.col("id") % d).cast("string").alias("k")
    )


def _storage_info_bytes(spark, cp) -> int:
    rdd_id = cp._jdf.queryExecution().analyzed().rdd().id()
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos if i.id() == rdd_id)


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("d, material", [(95, True), (96, False)])
def test_profile_counts_and_collapse_boundary(spark, d, material):
    m = M.measure(_keyed(spark, 100, d), distinct="k")
    assert (m.rows, m.distinct) == (100, d)
    assert M.dup_material(m.rows, m.distinct) is material


def test_measured_bytes_are_the_checkpoint_storage_size(spark):
    m = M.measure(_keyed(spark, 1000, 10))
    assert m.rows == 1000 and m.distinct is None
    assert m.bytes > 0
    assert m.bytes == _storage_info_bytes(spark, m.df)
    # reading it again is a driver-side lookup, not a job
    again, jobs = _jobs(spark, "measure-bytes", lambda: M.stored_bytes(m.df))
    assert again == m.bytes and not jobs
    # the measured DataFrame is the checkpoint itself: later reads
    # scan it instead of recomputing the lineage
    assert "LogicalRDD" in m.df._jdf.queryExecution().analyzed().toString()


def test_profile_is_one_job(spark):
    conf = spark.conf
    old = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        m, jobs = _jobs(
            spark, "measure-one", lambda: M.measure(_keyed(spark, 500, 7), "k")
        )
    finally:
        conf.set("spark.sql.adaptive.enabled", old)
    assert (m.rows, m.distinct) == (500, 7)
    assert len(jobs) == 1
    # adaptive execution submits one job per query stage: the profile
    # still costs exactly what the bare aggregate over a fresh lazy
    # checkpoint costs — the byte read adds nothing
    _, with_measure = _jobs(
        spark, "measure-aqe", lambda: M.measure(_keyed(spark, 500, 7), "k")
    )
    bare = _keyed(spark, 500, 7).localCheckpoint(eager=False)
    _, with_bare = _jobs(
        spark,
        "bare-aqe",
        lambda: bare.agg(F.count("*"), F.countDistinct("k")).first(),
    )
    assert len(with_measure) == len(with_bare)


def test_sized_records_each_decision(spark, monkeypatch):
    m = M.measure(_keyed(spark, 100, 10))
    df = m.df.select("id")
    M.GATES.clear()
    monkeypatch.setattr(M, "_BROADCAST_MAX_BYTES", m.bytes)
    M._sized(df, m, "t.fits")
    monkeypatch.setattr(M, "_BROADCAST_MAX_BYTES", m.bytes - 1)
    M._sized(df, m, "t.over", big="shuffle_hash")
    assert list(M.GATES) == [
        ("t.fits", 100, m.bytes, "broadcast"),
        ("t.over", 100, m.bytes, "shuffle_hash"),
    ]


def _long_docs(spark, n_docs: int = 200, chars: int = 20_000):
    """n_docs pseudo-random ~chars-character texts (deterministic; no
    two share more than a sliver of their shingles, so LSH finds no
    cross-text candidates), plus one exact duplicate of each of the
    first 20 so the cluster path has clusters to expand."""
    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz     "
    rows = [(i, "".join(rng.choices(alphabet, k=chars))) for i in range(n_docs)]
    rows += [(n_docs + i, rows[i][1]) for i in range(20)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_long_documents_flip_the_array_gate(spark, monkeypatch):
    from stock_prediction_data_engineering_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = _long_docs(spark)
    # A budget scaled to this fixture: the bytes a 200-row table 10x
    # wider than sf0.1's stores. The retired row gate broadcast any
    # side under 400 k rows whatever its width; the byte gate sends
    # the long-document arrays to shuffle_hash.
    budget = M._BROADCAST_MAX_BYTES
    monkeypatch.setattr(
        M, "_BROADCAST_MAX_BYTES", 200 * 10 * SF01_SHINGLE_BYTES_PER_ROW
    )
    M.GATES.clear()
    out = minhash_lsh_pairs(docs, jaccard_threshold=0.2, output="clusters")
    gates = {site: (r, b, s) for site, r, b, s in M.GATES}
    for site in ("minhash.hashes_a", "minhash.hashes_b"):
        rows, b, strategy = gates[site]
        assert rows == 200  # one row per distinct text
        assert b / rows > 10 * SF01_SHINGLE_BYTES_PER_ROW
        assert rows < 400_000 and strategy == "shuffle_hash"
    assert b <= budget  # the real budget still broadcasts 200 such rows
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=shuffle_hash" in plan
    # the hint changes the plan, never the answer
    n_self, n_pairs = (
        out.filter(F.col("id_a") == F.col("id_b"))
        .agg(F.count("*"), F.sum("n_member_pairs"))
        .first()
    )
    assert (n_self, n_pairs) == (20, 20)

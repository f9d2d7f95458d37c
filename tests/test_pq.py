"""Product-quantization ANN (operators/pq.py): code validity, exact
agreement between the JVM ADC fold and a driver-side numpy twin, index
persistence round-trip, and determinism. Recall floors live in
tests/test_ann_recall_gate.py alongside the LSH/IVF gates."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from stock_prediction_data_engineering_spark.operators import pq, similarity


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture(scope="module")
def index(emb):
    return pq.pq_build(emb, m=8, nbits=6)


def test_codes_shape_and_range(index):
    rows = index.table.select(
        F.size("codes").alias("m"),
        F.array_min("codes").alias("lo"),
        F.array_max("codes").alias("hi"),
    ).agg(
        F.min("m"), F.max("m"), F.min("lo"), F.max("hi")
    ).first()
    assert rows[0] == rows[1] == 8
    assert rows[2] >= 0
    assert rows[3] < 64


def test_adc_matches_numpy_twin(emb, index):
    """The JVM aggregate/transform/element_at scoring fold must equal
    the straightforward numpy ADC on identical codes — pins the
    1-based element_at indexing and the lut flattening order."""
    qvec = emb.filter(F.col("vec_id") == 7).select("embedding")
    got = {
        r.vec_id: r.adc_score
        for r in pq.pq_search(index, qvec, k=5).collect()
    }
    codes = {
        r.vec_id: list(r.codes)
        for r in index.table.filter(
            F.col("vec_id").isin(list(got))
        ).collect()
    }
    q = np.asarray(qvec.first()[0], dtype=np.float64)
    q /= np.linalg.norm(q)
    qs = q.reshape(index.m, -1)
    lut = np.einsum("sd,skd->sk", qs, index.codebooks)
    for vid, score in got.items():
        expect = sum(lut[s, c] for s, c in enumerate(codes[vid]))
        assert score == pytest.approx(round(expect, 4), abs=1e-9)


def test_self_retrieval(emb, index):
    """A vector's own (exactly-encoded-input) row must rank in the
    top-k for its own query — quantization distorts, but the query's
    own code maximizes its own lookup table within its cell
    neighborhood on this fixture."""
    for qid in (0, 101, 303):
        qvec = emb.filter(F.col("vec_id") == qid).select("embedding")
        top = [r.vec_id for r in pq.pq_search(index, qvec, k=10).collect()]
        assert qid in top


def test_encode_deterministic(emb):
    """Same corpus + seed → byte-identical codes (hash-ordered sample,
    seeded k-means, no RNG at encode time)."""
    a = pq.pq_build(emb, m=8, nbits=4, seed=7)
    b = pq.pq_build(emb, m=8, nbits=4, seed=7)
    diff = (
        a.table.alias("a")
        .join(b.table.alias("b"), "vec_id")
        .filter(F.col("a.codes") != F.col("b.codes"))
        .count()
    )
    assert diff == 0
    assert np.array_equal(a.codebooks, b.codebooks)


def test_persisted_roundtrip(emb, tmp_path):
    idx = pq.pq_build(emb, m=8, nbits=4, path=str(tmp_path / "pq_lake"))
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding")
    top = [r.vec_id for r in pq.pq_search(idx, qvec, k=5).collect()]
    assert len(top) == 5 and top[0] == 0


@pytest.fixture(scope="module")
def ivfpq_index(emb):
    return pq.ivfpq_build(emb, n_cells=8, m=8, nbits=6)


def test_ivfpq_self_retrieval(emb, ivfpq_index):
    for qid in (0, 101, 303):
        qvec = emb.filter(F.col("vec_id") == qid).select("embedding")
        top = [
            r.vec_id
            for r in pq.ivfpq_search(ivfpq_index, qvec, k=10, nprobe=4).collect()
        ]
        assert qid in top


def test_ivfpq_score_decomposition(emb, ivfpq_index):
    """The composed score must equal q·c_cell + ADC(residual codes)
    computed driver-side — pins the per-cell constant lookup and the
    residual lut order."""
    qvec = emb.filter(F.col("vec_id") == 7).select("embedding")
    got = {
        r.vec_id: r.adc_score
        for r in pq.ivfpq_search(ivfpq_index, qvec, k=5, nprobe=8).collect()
    }
    rows = {
        r.vec_id: (r.ivf_cell, list(r.codes))
        for r in ivfpq_index.table.filter(
            F.col("vec_id").isin(list(got))
        ).collect()
    }
    q = np.asarray(qvec.first()[0], dtype=np.float64)
    q /= np.linalg.norm(q)
    m, _, dsub = ivfpq_index.codebooks.shape
    lut = np.einsum("sd,skd->sk", q.reshape(m, dsub), ivfpq_index.codebooks)
    for vid, score in got.items():
        cell, codes = rows[vid]
        expect = ivfpq_index.centroids[cell] @ q + sum(
            lut[s, c] for s, c in enumerate(codes)
        )
        assert score == pytest.approx(round(expect, 4), abs=1e-9)


def test_ivfpq_persisted_prunes_partitions(emb, tmp_path, spark):
    """A persisted index reads a cell-partitioned lake; a probed
    search must touch only the probed cells' files."""
    idx = pq.ivfpq_build(
        emb, n_cells=8, m=8, nbits=4, path=str(tmp_path / "ivfpq_lake")
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding")
    plan = pq.ivfpq_search(idx, qvec, k=5, nprobe=2)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "ivf_cell" in plan
    res = pq.ivfpq_search(idx, qvec, k=5, nprobe=2).collect()
    assert len(res) == 5


def test_pq_beats_random_baseline(emb, index):
    """Recall sanity at module params (full gate in
    test_ann_recall_gate.py): PQ top-10 should intersect exact top-10
    far above the 10/N random floor."""
    qvec = emb.filter(F.col("vec_id") == 21).select("embedding")
    exact = {r.vec_id for r in similarity.brute_force_topk(emb, qvec, k=10).collect()}
    approx = {r.vec_id for r in pq.pq_search(index, qvec, k=10).collect()}
    assert len(exact & approx) >= 3


def test_empty_query_raises_clear_error(emb, index, ivfpq_index):
    """An empty query DataFrame must raise a diagnosable ValueError,
    not an opaque TypeError from first() returning None — from every
    search, since they share one query read."""
    none_q = emb.filter(F.lit(False))
    with pytest.raises(ValueError, match="query_vec is empty"):
        pq.pq_search(index, none_q, k=3)
    with pytest.raises(ValueError, match="query_vec is empty"):
        pq.ivfpq_search(ivfpq_index, none_q, k=3)
    with pytest.raises(ValueError, match="query_vec is empty"):
        similarity.ivf_search(similarity.ivf_build(emb, n_cells=4), none_q, k=3)
    lsh = similarity.lsh_build(emb, num_planes=4)
    with pytest.raises(ValueError, match="query_vec is empty"):
        similarity.lsh_search(lsh, none_q, k=3)
    with pytest.raises(ValueError, match="query_vec is empty"):
        similarity.lsh_search(lsh, none_q, k=3, probe_budget=4)


def test_rerank_full_shortlist_equals_brute_force(emb, index):
    """With the shortlist covering the whole corpus, the exact re-rank
    stage must reproduce brute-force cosine top-k EXACTLY (ids and
    scores): ADC then only selects membership, and the second stage's
    true-cosine scoring is the same expression brute_force_topk uses."""
    n = emb.count()
    qvec = emb.filter(F.col("vec_id") == 21).select("embedding")
    exact = similarity.brute_force_topk(emb, qvec, k=10).collect()
    rr = pq.pq_search(index, qvec, k=10, rerank_from=emb, shortlist=n).collect()
    assert [(r.vec_id, r.cosine) for r in rr] == [
        (r.vec_id, r.cosine) for r in exact
    ]


def test_rerank_semi_join_path_equals_isin_path(emb, index, monkeypatch):
    """Shortlists past ISIN_PUSHDOWN_MAX switch from the eager
    collect+isin pushdown to a lazy broadcast semi-join; both paths
    must return identical rows. The threshold is patched down so the
    small fixture actually exercises the semi-join branch, and the
    lazy path's plan must embed no In-literal over shortlist ids."""
    qvec = emb.filter(F.col("vec_id") == 21).select("embedding")
    isin_rows = pq.pq_search(
        index, qvec, k=10, rerank_from=emb, shortlist=50
    ).collect()
    monkeypatch.setattr(pq, "ISIN_PUSHDOWN_MAX", 10)
    lazy_df = pq.pq_search(index, qvec, k=10, rerank_from=emb, shortlist=50)
    plan = lazy_df._jdf.queryExecution().optimizedPlan().toString()
    assert "vec_id IN" not in plan and " INSET " not in plan
    assert [tuple(r) for r in lazy_df.collect()] == [
        tuple(r) for r in isin_rows
    ]


def test_rerank_recall_at_least_adc(emb, index):
    """The re-ranked top-k (default 10·k shortlist) never recalls
    fewer true neighbors than plain ADC top-k — re-scoring a superset
    of ADC's answer with exact distances can only fix orderings."""
    for qid in (21, 42):
        qvec = emb.filter(F.col("vec_id") == qid).select("embedding")
        exact = {
            r.vec_id
            for r in similarity.brute_force_topk(emb, qvec, k=10).collect()
        }
        adc = {r.vec_id for r in pq.pq_search(index, qvec, k=10).collect()}
        rr = {
            r.vec_id
            for r in pq.pq_search(index, qvec, k=10, rerank_from=emb).collect()
        }
        assert len(exact & rr) >= len(exact & adc)


def test_ivfpq_rerank_all_cells_full_shortlist_is_exact(emb, ivfpq_index):
    """IVF-PQ with every cell probed and a corpus-wide shortlist must
    also collapse to brute-force exactly — cell pruning off, code
    distortion corrected by the exact stage."""
    n = emb.count()
    qvec = emb.filter(F.col("vec_id") == 7).select("embedding")
    exact = similarity.brute_force_topk(emb, qvec, k=5).collect()
    rr = pq.ivfpq_search(
        ivfpq_index,
        qvec,
        k=5,
        nprobe=len(ivfpq_index.centroids),
        rerank_from=emb,
        shortlist=n,
    ).collect()
    assert [(r.vec_id, r.cosine) for r in rr] == [
        (r.vec_id, r.cosine) for r in exact
    ]


def test_ivfpq_index_write_load_append(emb, tmp_path, spark):
    """Persisted appendable IVF-PQ: the sidecar round-trips centroids
    and codebooks exactly; appended batches are encoded bit-identically
    to the build-time encoder against the frozen quantizers."""
    import json
    import os

    from stock_prediction_data_engineering_spark.operators.pq import (
        ivfpq_index_append,
        ivfpq_index_load,
        ivfpq_index_write,
        ivfpq_search,
        pq_encode_df,
    )
    from stock_prediction_data_engineering_spark.operators.similarity import (
        ivf_assign,
    )

    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivfpq_idx")

    built = ivfpq_index_write(corpus, path, n_cells=4, m=8, nbits=6)
    loaded = ivfpq_index_load(spark, path)
    assert np.allclose(loaded.centroids, built.centroids)
    assert np.allclose(loaded.codebooks, built.codebooks)
    assert loaded.vec_col == built.vec_col == "embedding"
    # the sidecar's keys are the on-disk format older indexes carry
    with open(os.path.join(path, "_ivfpq_meta.json")) as fh:
        assert set(json.load(fh)) == {
            "format", "vec_col", "id_col", "centroids", "codebooks"
        }

    qv = emb.filter(F.col("vec_id") == 1).select("embedding")
    assert [tuple(r) for r in ivfpq_search(loaded, qv, k=5).collect()] == [
        tuple(r) for r in ivfpq_search(built, qv, k=5).collect()
    ]

    ivfpq_index_append(spark, path, batch)
    after = ivfpq_index_load(spark, path)
    assert after.table.count() == emb.count()
    # appended codes == a fresh encode of the batch with the frozen
    # quantizers (bit-identical ingest)
    fresh = {
        (r.vec_id, r.ivf_cell, tuple(r.codes))
        for r in pq_encode_df(
            ivf_assign(batch, built.centroids),
            built.codebooks,
            centroids=built.centroids,
        ).collect()
    }
    got = {
        (r.vec_id, r.ivf_cell, tuple(r.codes))
        for r in after.table.join(
            batch.select("vec_id"), "vec_id", "semi"
        ).collect()
    }
    assert got == fresh

"""Product-quantization ANN — the third L7 scale path (SURVEY.md
§2.11), after hyperplane LSH and IVF-Flat (operators/similarity.py),
and the home of the quantized-search steps all four indexes share.

Why PQ at 100 TB: LSH and IVF prune *which* vectors are scanned, but
every scanned row still reads the full float vector (256 B at 64-dim
float32; KBs for modern embedding dims). PQ compresses each vector to
``m`` one-byte centroid codes (m=8 → 32× smaller at 64-dim), so the
candidate scan reads tiny code arrays and scores them with ``m``
table lookups per row — a 100 TB embedding corpus becomes a ~3 TB
code lake, and the scan cost is memory-bandwidth on codes, not FLOPs
on floats. This is the standard quantized-search design (Jégou,
Douze & Schmid, "Product Quantization for Nearest Neighbor Search",
IEEE TPAMI 2011): an optional coarse partitioner (IVF cells or LSH
buckets, operators/similarity.py), optional (residual) PQ codes, ADC
scoring and an exact re-rank. Each step has one implementation here
or in operators/similarity.py; the searches only compose them.

Shape of the implementation, Spark-first:

- **Codebook fit is O(1) in corpus size.** The per-subspace k-means
  codebooks total ``m × 2^nbits × (dim/m)`` floats (≈64 KB at the
  defaults) and are fit on a deterministic bounded sample collected
  to the driver (hash-ordered top-k — TakeOrderedAndProject, no full
  sort; the collect is bounded metadata like the ranker offset maps,
  never O(corpus)). The FULL corpus only flows through the
  distributed, map-only encode.
- **Encoding is Arrow-vectorized.** A pandas_udf batch-encodes
  vectors with one numpy argmin per subspace; the codebooks ride in
  the closure. A 256-way nearest-centroid argmin is exactly the
  "genuinely can't express with built-in operators" case the UDF
  budget exists for.
- **Scoring is pure JVM.** The query-side lookup table (``m × 2^nbits``
  inner products, computed driver-side in microseconds) is broadcast
  as one array literal row; the asymmetric-distance score of a code
  array is ``aggregate(transform(codes, (c, i) -> lut[i·K + c]))`` —
  whole-stage-codegen'd, no Python anywhere in the corpus scan.

Vectors are L2-normalized before both fit and encode, so the ADC
inner product approximates cosine directly (same geometry trick as
IVF's spherical k-means, ``l2_normalize_expr`` in
operators/similarity.py).

Reference scope: the reference repo (a 131-line pandas ingest DAG)
has no vector search; this module is north-star surface per
BASELINE.json's LLM-pipeline brief.
"""

from __future__ import annotations

import dataclasses
from typing import ClassVar

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .similarity import (
    _coarse_fit,
    _cosine_topk,
    _persist_partitioned,
    _read_query,
    _sidecar_load,
    _sidecar_write,
    ivf_assign,
    ivf_probe,
    staged_append,
)


def _fit_codebooks_matrix(X, m: int, nbits: int, seed: int, n_iter: int = 10):
    """Per-subspace Lloyd k-means over a driver-side sample matrix
    ``X`` (n, dim). Returns ``(m, k, dim // m)`` with k clamped to the
    sample size; empty clusters keep their previous center (standard
    Lloyd fallback)."""
    n, dim = X.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    k = min(1 << nbits, n)
    rng = np.random.default_rng(seed)
    Xs = X.reshape(n, m, dsub)
    codebooks = np.empty((m, k, dsub), dtype=np.float64)
    for sub in range(m):
        data = Xs[:, sub, :]
        centers = data[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(n_iter):
            # ||x-c||² argmin via -2x·c + ||c||² (||x||² constant per row)
            d2 = -2.0 * data @ centers.T + (centers**2).sum(axis=1)
            assign = d2.argmin(axis=1)
            # vectorized Lloyd update: per-dimension bincount replaces
            # the k boolean-mask passes (256 masks × 16k rows × 10
            # iters × 8 subspaces measured ~4 s; this is ~0.3 s)
            counts = np.bincount(assign, minlength=k)
            sums = np.stack(
                [
                    np.bincount(assign, weights=data[:, d], minlength=k)
                    for d in range(dsub)
                ],
                axis=1,
            )
            nz = counts > 0
            centers[nz] = sums[nz] / counts[nz, None]
        codebooks[sub] = centers
    return codebooks


def _sample_matrix(
    corpus: DataFrame, vec_col: str, sample_limit: int, extra_cols: tuple = ()
):
    """Deterministic bounded sample of (normalized vector, *extras):
    the ``sample_limit`` rows with the smallest ``xxhash64(vector)`` —
    stable across runs and executors, executed as per-partition top-k
    (TakeOrderedAndProject), never a global sort. The collect is
    bounded metadata (≤ sample_limit × dim floats, ~4 MB at the
    defaults) — O(1) in corpus size.

    The top-k orders by the hash of the RAW vector column and
    normalizes the collected sample driver-side: hashing the
    l2_normalize_expr output instead re-evaluates the normalize
    lambda (an O(d²)-interpreted aggregate-in-lambda after
    CollapseProject — the operators/winnow.py trap) on EVERY corpus
    row inside the TakeOrdered scan; measured 10.7 s vs ~1 s for a
    20k-row corpus at sf1, and it grows with the corpus while the
    numpy normalize stays O(sample)."""
    rows = (
        corpus.select(F.col(vec_col).alias("v"), *extra_cols)
        .orderBy(F.xxhash64(F.col("v")))
        .limit(sample_limit)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    np.divide(X, norms, out=X, where=norms > 0)
    return X, rows


def pq_fit_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    sample_limit: int = 16384,
    n_iter: int = 10,
):
    """Fit per-subspace k-means codebooks on a bounded sample.

    Returns an ndarray of shape ``(m, 2^nbits, dim // m)``. Sample
    selection and Lloyd iterations are both O(1) in corpus size (see
    :func:`_sample_matrix`); the output codebook is ~64 KB.
    """
    X, _ = _sample_matrix(corpus, vec_col, sample_limit)
    return _fit_codebooks_matrix(X, m, nbits, seed, n_iter)


def pq_encode_df(
    corpus: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    code_col: str = "codes",
    centroids=None,
) -> DataFrame:
    """Add the PQ code array (``array<smallint>``, length m) to every
    corpus row. Arrow-batched: one numpy argmin per subspace per
    batch; the ~64 KB codebook rides in the task closure.

    With ``centroids`` (IVF-PQ), each row's unit vector is encoded as
    its RESIDUAL against ``centroids[ivf_cell]`` (the row must carry
    ``ivf_cell``). The build and every append call this one encoder,
    so appended batches encode bit-identically against the frozen
    quantizers."""
    cb = np.asarray(codebooks)
    m, _, dsub = cb.shape
    cb_norms = (cb**2).sum(axis=2)  # (m, k), precomputed once
    cents = None if centroids is None else np.asarray(centroids)

    @F.pandas_udf("array<smallint>")
    def _encode(vs: pd.Series, *cell: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        norms = np.sqrt((X**2).sum(axis=1, keepdims=True))
        np.divide(X, norms, out=X, where=norms > 0)
        if cell:  # IVF-PQ: the residual against the row's cell centroid
            X = X - cents[cell[0].to_numpy(dtype=int)]
        B = X.shape[0]
        Xs = X.reshape(B, m, dsub)
        codes = np.empty((B, m), dtype=np.int16)
        for sub in range(m):
            d2 = -2.0 * Xs[:, sub, :] @ cb[sub].T + cb_norms[sub]
            codes[:, sub] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    args = [F.col(vec_col)] + ([] if cents is None else [F.col("ivf_cell")])
    return corpus.withColumn(code_col, _encode(*args))


@dataclasses.dataclass(eq=False)
class PqIndex:
    """A built PQ index: the compressed (id, codes) table + the tiny
    codebook matrix. Build once, search many times. When ``path`` was
    given to :func:`pq_build`, ``table`` reads the persisted code
    lake — at scale this is the ~32×-smaller artifact every query
    scans instead of the raw embedding lake."""

    table: DataFrame
    codebooks: np.ndarray
    vec_col: str
    id_col: str

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def k(self) -> int:
        return self.codebooks.shape[1]


def pq_build(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    sample_limit: int = 16384,
    path: str | None = None,
) -> PqIndex:
    """Fit codebooks (bounded sample) and encode the full corpus
    (one distributed map-only pass). ``path`` persists the code
    table; searches then scan the compressed lake only."""
    codebooks = pq_fit_codebooks(
        corpus, vec_col, m=m, nbits=nbits, seed=seed, sample_limit=sample_limit
    )
    encoded = pq_encode_df(corpus, codebooks, vec_col).select(id_col, "codes")
    if path is not None:
        encoded.write.mode("overwrite").parquet(path)
        encoded = corpus.sparkSession.read.parquet(path)
    return PqIndex(encoded, codebooks, vec_col, id_col)


def adc_score_expr(codes, lut, k: int):
    """JVM-side asymmetric-distance score of one code array:
    sum over subspaces of lut[sub·k + code]. element_at is 1-based."""
    return F.aggregate(
        F.transform(
            codes,
            lambda c, i: F.element_at(
                lut, (i * F.lit(k) + c.cast("int") + F.lit(1)).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


ISIN_PUSHDOWN_MAX = 8192
"""Shortlist-size bound for the collect+``isin`` rerank path. Up to
this many ids, a driver-collected In-list pushed into the parquet scan
(row-group min/max pruning) beats a join; past it, the In-literal
bloats the plan and collection is no longer 'bounded metadata', so the
rerank switches to a lazy semi-join on the shortlist DataFrame
instead (the brute-force-equivalence tests pass corpus-sized
shortlists through exactly that path)."""


def _adc_topk(
    cands: DataFrame,
    q,
    index,
    query_vec: DataFrame,
    k: int,
    shortlist: int | None = None,
    rerank_from: DataFrame | None = None,
    centroids=None,
) -> DataFrame:
    """The one ADC stage of every quantized search: score ``cands``
    (rows carrying ``codes``, already pruned to the probed cells or
    buckets) against the unit query ``q`` and keep the top n by
    ``(adc_score desc, id)``, ``adc_score`` rounded to 4 places.

    The lookup table lut[sub·k + j] = <q_sub, codebook[sub][j]> is
    computed driver-side (m × k × dsub ≈ 16k FLOPs) and broadcast as
    one row. With ``centroids`` the codes are IVF residuals and the
    score adds the per-cell constant q·c_cell (``cell_lut``, looked up
    by ``ivf_cell``): q·x ≈ q·c_cell + q·residual_code, so residual
    codes cost one extra lookup per row, all JVM.

    Without ``rerank_from``, n = k and the ADC top-k is the answer.
    With it, n = ``shortlist`` (default 10·k) and :func:`_exact_rerank`
    re-scores those candidates with true cosine from ``rerank_from``
    (an (id, vector) table); the output column is then ``cosine``
    instead of ``adc_score``."""
    cb = np.asarray(index.codebooks)
    m, kk, dsub = cb.shape
    lut = np.einsum("sd,skd->sk", q.reshape(m, dsub), cb).reshape(m * kk)
    score = adc_score_expr(F.col("codes"), F.col("lut"), kk)
    lut_row, schema = [lut.tolist()], "lut array<double>"
    if centroids is not None:
        lut_row.append((np.asarray(centroids) @ q).tolist())
        schema += ", cell_lut array<double>"
        score = (
            F.element_at(F.col("cell_lut"), (F.col("ivf_cell") + 1).cast("int"))
            + score
        )
    lut_df = cands.sparkSession.createDataFrame([tuple(lut_row)], schema)
    n = k if rerank_from is None else (shortlist or 10 * k)
    top = (
        cands.crossJoin(F.broadcast(lut_df))
        .select(F.col(index.id_col), F.round(score, 4).alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), F.col(index.id_col))
        .limit(n)
    )
    if rerank_from is None:
        return top
    return _exact_rerank(
        top, n, rerank_from, query_vec, k, index.vec_col, index.id_col
    )


def _exact_rerank(
    adc_top: DataFrame,
    shortlist: int,
    rerank_from: DataFrame,
    query_vec: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Exact-cosine re-rank of an ADC shortlist of ``shortlist`` rows —
    the standard second stage of quantized search (Jégou et al. 2011
    §V.C: ADC orders candidates with quantization distortion;
    re-scoring the short shortlist with TRUE distances recovers the
    exact ordering among them, so recall@k is limited only by
    shortlist membership, not by code precision). The float read is
    |shortlist| rows, so a search can probe wide over code bytes while
    total bytes stay ≈ (probed rows)·m + |shortlist|·dim·4.

    Execution semantics, chosen here from the shortlist size:

    - Up to ``ISIN_PUSHDOWN_MAX`` rows, the shortlist is bounded
      metadata, so its ids are collected to the driver (the same
      driver-bounded pattern as the ranker offset maps) and go back as
      an ``isin`` predicate on ``rerank_from``, which Spark pushes into
      the parquet scan (row-group min/max pruning on the id column);
      the re-rank reads full float vectors for only the shortlist
      rows, never a second corpus pass. This path is EAGER: the
      collect runs the ADC TakeOrdered job at DataFrame-CONSTRUCTION
      time, before any action on the returned frame — callers building
      plans without executing them (plan sweeps, lints) pay that cost
      up front.
    - Larger shortlists stay fully lazy: a semi-join of ``rerank_from``
      against the shortlist ids, with NO broadcast hint. The shortlist
      outgrew the bounded-metadata threshold, so its size is unknown
      and possibly corpus-scale, and a mandated broadcast risks
      driver/executor OOM. AQE's runtime join selection broadcasts it
      anyway whenever the built side turns out small, and falls back
      to a shuffled semi-join when it doesn't. Loses scan-level
      pruning but keeps the plan size and driver memory O(1) in
      shortlist length."""
    if shortlist <= ISIN_PUSHDOWN_MAX:
        ids = [r[0] for r in adc_top.select(id_col).collect()]
        cand = rerank_from.filter(F.col(id_col).isin(ids))
    else:
        cand = rerank_from.join(adc_top.select(id_col), id_col, "semi")
    return _cosine_topk(cand, query_vec, k, vec_col, id_col)


def pq_search(
    index: PqIndex,
    query_vec: DataFrame,
    k: int = 10,
    rerank_from: DataFrame | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """Approximate top-k by ADC over the compressed code table.

    The corpus-side plan is: scan (id, codes) → per-row JVM fold of m
    array lookups → TakeOrderedAndProject. No Python, no shuffle, no
    float vectors read. Scores approximate cosine (vectors were
    normalized at encode time); quantization distortion is bounded by
    the per-subspace k-means error, measured by the recall harness
    (tools/ann_recall.py).

    With ``rerank_from`` (the original (id, vector) table), ADC picks
    a ``shortlist`` (default 10·k) and the exact stage re-scores only
    those rows (measured on sf0.1: 0.62 → ≥0.9 recall@10 at <10%
    byte-equivalent scan) — see :func:`_adc_topk` and
    :func:`_exact_rerank` for the output and execution semantics."""
    q, _ = _read_query(query_vec, index.vec_col)
    return _adc_topk(index.table, q, index, query_vec, k, shortlist, rerank_from)


def pq_topk(
    corpus: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """One-shot PQ approximate top-k: :func:`pq_build` +
    :func:`pq_search`. Repeated searches should build (and persist)
    the index once and reuse it."""
    index = pq_build(corpus, vec_col, id_col, m=m, nbits=nbits, seed=seed)
    return pq_search(index, query_vec, k)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells prune WHICH codes are scanned, residual PQ
# compresses WHAT each scan reads — the canonical composed design
# (FAISS "IVFPQ"; Jégou et al. 2011 §V). With the inner-product
# metric on normalized vectors the residual trick costs nothing at
# query time: q·x ≈ q·c_cell + q·residual_code, so the score is one
# per-cell constant lookup plus the SAME m-term ADC fold — all JVM.


@dataclasses.dataclass(eq=False)
class IvfPqIndex:
    """A built IVF-PQ index: (id, ivf_cell, codes) table + the coarse
    centroid matrix + residual codebooks. When persisted, the code
    lake is partitioned by ``ivf_cell`` so probes prune to the probed
    cells' directories AND read ~32× fewer bytes within them."""

    table: DataFrame
    centroids: np.ndarray
    codebooks: np.ndarray
    vec_col: str
    id_col: str

    SIDECAR: ClassVar[str] = "_ivfpq_meta.json"
    FORMAT: ClassVar[str] = "ivf-pq"

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def k(self) -> int:
        return self.codebooks.shape[1]

    @property
    def n_cells(self) -> int:
        return len(self.centroids)


def ivfpq_build(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    sample_limit: int = 16384,
    sample_fraction: float | None = None,
    path: str | None = None,
) -> IvfPqIndex:
    """Build the composed index.

    1. Coarse quantizer + cell assignment: the IVF fit of
       operators/similarity.py, bounded to ``sample_limit`` rows.
    2. Residual codebooks: per-subspace k-means over
       ``x_norm − centroid(cell)`` on the bounded deterministic
       sample (driver-side, O(1) in corpus size).
    3. Encode: :func:`pq_encode_df` over (vector, cell) — the only
       full-corpus pass beyond the assignment, map-only.
    """
    _, centroids, assigned = _coarse_fit(
        corpus, vec_col, n_cells, seed, sample_fraction, sample_limit
    )
    X, rows = _sample_matrix(
        assigned, vec_col, sample_limit, extra_cols=(F.col("ivf_cell"),)
    )
    cells = np.array([r["ivf_cell"] for r in rows], dtype=int)
    codebooks = _fit_codebooks_matrix(X - centroids[cells], m, nbits, seed)
    encoded = pq_encode_df(assigned, codebooks, vec_col, centroids=centroids)
    table = _persist_partitioned(
        encoded.select(id_col, "ivf_cell", "codes"), path, "ivf_cell"
    )
    return IvfPqIndex(table, centroids, codebooks, vec_col, id_col)


def ivfpq_search(
    index: IvfPqIndex,
    query_vec: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    rerank_from: DataFrame | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """Probe the ``nprobe`` nearest cells, ADC-score their codes.

    Corpus-side plan: partition-pruned scan of (id, cell, codes) →
    per-row JVM fold (one cell-constant lookup + m code lookups) →
    TakeOrderedAndProject. Scan fraction ~ nprobe/n_cells of the
    corpus at ~32× fewer bytes per scanned row than IVF-Flat.
    ``rerank_from`` and ``shortlist`` add the exact stage as in
    :func:`pq_search`."""
    q, cells = ivf_probe(index, query_vec, nprobe)
    probed = index.table.filter(F.col("ivf_cell").isin(cells))
    return _adc_topk(
        probed, q, index, query_vec, k, shortlist, rerank_from, index.centroids
    )


def ivfpq_topk(
    corpus: DataFrame,
    query_vec: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """One-shot IVF-PQ approximate top-k: :func:`ivfpq_build` +
    :func:`ivfpq_search`. Repeated searches should build (and
    persist) the index once and reuse it."""
    index = ivfpq_build(
        corpus, vec_col, id_col, n_cells=n_cells, m=m, nbits=nbits, seed=seed
    )
    return ivfpq_search(index, query_vec, k, nprobe)


def ivfpq_index_write(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    sample_limit: int = 16384,
    sample_fraction: float | None = None,
) -> IvfPqIndex:
    """Persist a reloadable, APPENDABLE IVF-PQ index: the
    cell-partitioned code lake plus a ``_ivfpq_meta.json`` sidecar
    carrying the coarse centroids and residual codebooks (both tiny —
    KBs). Same ingest contract as
    :func:`~.similarity.ivf_index_write`: append batches encode against
    the FROZEN quantizers in O(batch); rebuild when distribution drift
    matters."""
    index = ivfpq_build(
        corpus,
        vec_col,
        id_col,
        n_cells=n_cells,
        m=m,
        nbits=nbits,
        seed=seed,
        sample_limit=sample_limit,
        sample_fraction=sample_fraction,
        path=path,
    )
    _sidecar_write(index, path)
    return index


def ivfpq_index_load(spark: SparkSession, path: str) -> IvfPqIndex:
    """Reload a persisted IVF-PQ index: code lake + frozen coarse
    centroids, residual codebooks and build-time column names."""
    return _sidecar_load(IvfPqIndex, spark, path)


def ivfpq_index_append(
    spark: SparkSession, path: str, batch: DataFrame
) -> None:
    """Ingest a new vector batch into a persisted IVF-PQ index:
    assign cells against the frozen coarse centroids, encode residuals
    against the frozen codebooks (both one Arrow-batched map —
    O(batch)), append into the existing ``ivf_cell=`` directories via
    :func:`~.similarity.staged_append`: the batch stages under a
    hidden prefix and renames in, so a failed append is never
    reader-visible and completed codes become searchable with
    unchanged pruning."""
    index = ivfpq_index_load(spark, path)
    assigned = ivf_assign(batch, index.centroids, index.vec_col)
    encoded = pq_encode_df(
        assigned, index.codebooks, index.vec_col, centroids=index.centroids
    )
    staged_append(encoded.select(index.id_col, "ivf_cell", "codes"), path, "ivf_cell")

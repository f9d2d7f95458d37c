"""Exact set-similarity join via global-frequency prefix filtering.

The dedup family (operators/dedup.py) finds near-duplicates
*approximately* (MinHash/SimHash buckets, candidate verify). This
operator is the exact counterpart: ALL pairs whose token-set Jaccard
clears a threshold, with no false negatives — the AllPairs/PPJoin
prefix-filter algorithm (Bayardo et al., WWW'07; public literature)
expressed as DataFrame ops.

Why it scales: a naive inverted-index join explodes on every shared
token. Prefix filtering orders each document's tokens by GLOBAL
document frequency (rarest first) and indexes only the first
``n - ceil(t*n) + 1`` of them: if Jaccard(A,B) >= t then
|A∩B| >= ceil(t*max(|A|,|B|)), and two sets with overlap >= c must
share a token within their (size-c+1)-prefixes under any one global
order. So candidates are generated from the *rarest* slice of each
document — the postings lists that blow up (stopword-grade tokens)
are exactly the ones the prefix never indexes. Verification is
candidate-bounded and exact.

No reference-repo counterpart (the reference is a 131-line ingest DAG,
reference dags/stock_data_airflow_local_aws_s3.py); this is north-star
LLM-curation surface (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .dedup import _intersect_counts_np
from .measure import _sized, _sized_pair, dup_material, measure, upstream


def split_words(text: Column | str) -> Column:
    """Lowercased word array of a text column (empty regex-split
    tokens removed, so the stream matches a 1-based SQL
    reconstruction exactly). Project this into its OWN column behind
    a materialization barrier before feeding :func:`word_ngrams_over`
    on a hot path — see the construction note there."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.split(F.lower(c), r"[^a-z0-9]+"), lambda w: w != F.lit("")
    )


def word_ngrams_over(ws: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles over an existing word-array
    column. Each gram slices the array column — O(n) per gram when
    ``ws`` is a materialized column; if ``ws`` is an unmaterialized
    split expression the whole subtree re-evaluates per gram
    (CollapseProject; O(words²/n) per doc — tools/plan_lint.py flags
    the 'slice(split(' signature)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - (n - 1)),
        lambda i: F.array_join(F.slice(ws, i, n), " "),
    )
    # sequence(1, x) counts DOWN when x < 1 — guard short documents.
    return F.when(F.size(ws) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased text as an array.

    Construction note (measured, sf0.1): the gram lambda references
    the word array ONCE via slice+array_join. The obvious alternative
    — n element_at() calls per gram — embeds n copies of the whole
    split/filter subtree per gram after projection collapse, which
    codegen does not CSE under a transform lambda: 14 s vs 1.4 s for
    the same 260 k grams. Even the single reference re-evaluates the
    split per gram on the interpreted lambda path, so HOT paths should
    project :func:`split_words` behind a checkpoint barrier and use
    :func:`word_ngrams_over` instead (the round-6 plan-lint finding)."""
    return word_ngrams_over(split_words(text), n)


def jaccard_similarity_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """All document pairs with shingle-set Jaccard >= num/den (exact).

    Returns (doc_a, doc_b, inter_grams, union_grams, jac_bp) with
    doc_a < doc_b; the threshold test and jac_bp are pure integer
    arithmetic. Exactness contract: the verify stage intersects
    per-gram xxhash64 values, not the gram strings, so results are
    exact up to hash collisions — P[any collision across a vocabulary
    of |V| distinct grams] <= |V|^2 / 2^65 (~1e-9 at 1e5-gram
    vocabularies). If |V| ever approaches 2^30, assign dense gram ids
    off the df table instead (the fallback noted at the hashing site
    below); under that bound, results are bit-identical across
    engines.

    Plan shape (all keyed, nothing global):
      1. one scan -> distinct (id, gram) explode;
      2. gram document frequencies (vocabulary-sized keyed count);
      3. per-doc rarest-first rank: window keyed by id over the
         doc's own grams (bounded by document length);
      4. candidate pairs from prefix x prefix on gram — the only
         quadratic-risk join, bounded because prefixes hold only
         globally-rare grams (a gram's posting length is its df rank);
      5. exact verify bounded by |candidates|: count shared grams per
         pair, integer cross-multiplied threshold.
    """
    # CPU-parallelism guard: the gram explode is per-row compute on a
    # byte-tiny input (one parquet file = one input split), so without
    # an explicit repartition the whole tokenize pipeline runs on ONE
    # core — the same byte-based-sizing trap operators/dedup.py
    # documents. Measured at sf0.1: 18 s -> ~1 s for the gram scan.
    par = docs.sparkSession.sparkContext.defaultParallelism
    # Exact-duplicate collapse (identity-preserving): identical texts
    # have identical gram sets, so the whole prefix-filter pipeline
    # runs on ONE representative per distinct text and the result
    # expands back to member pairs — cross-cluster pairs inherit the
    # representatives' exact (inter, union); intra-cluster pairs are
    # inter = union = n with jac_bp = 10000 (only for clusters with a
    # non-empty gram set: gram-less docs never enter the prefix index
    # uncollapsed, so their twins must not pair here either). Without
    # this, a cluster of m exact copies inflates candidates by C(m,2)
    # while data grows by m — the measured 10.8x time for 10x data on
    # the fully-duplicated sf1 replication fixture.
    # The collapse engages ADAPTIVELY: one 1-row duplication profile
    # over (id, content-hash); a dup-free corpus runs the direct
    # pipeline and skips the expansion joins entirely.
    src = docs.repartition(par, id_col)
    prof = measure(
        src.select(
            F.col(id_col).alias("id"),
            F.md5(F.col(text_col).cast("string")).alias("__th"),
        ),
        distinct="__th",
    )
    members = prof.df
    # collapse pays only when duplicate mass is material: the
    # expansion adds ~4 keyed joins, worth it when clusters shrink
    # the candidate stage, pure overhead for a handful of twins
    collapse = dup_material(prof.rows, prof.distinct)
    if collapse:
        reps = members.groupBy("__th").agg(F.min("id").alias("id"))
        src = src.join(
            reps.select(F.col("id").alias("__rep_id")),
            F.col(id_col) == F.col("__rep_id"),
            "left_semi",
        )
    arrs = (
        src.select(
            F.col(id_col).alias("id"),
            word_ngrams(text_col, ngram).alias("arr"),
        )
        .withColumn("n", F.size("arr"))
        # per-gram xxhash64, computed ONCE inside the checkpoint: the
        # verify stage counts intersections over these int64 sets
        # instead of the string arrays (strings hash per-pair in the
        # old array_intersect verify; ints ride the shared numpy
        # kernel). Distinct strings map to distinct hashes with
        # P[any collision across the vocabulary] <= |V|^2 / 2^65
        # (~1e-9 at 1e5-gram vocabularies); if |V| ever approaches
        # 2^30, swap to dense gram ids assigned off the df table.
        .withColumn("harr", F.transform("arr", lambda g: F.xxhash64(g)))
    )
    # The tokenized table feeds FOUR consumers (df counts, prefix
    # ranking, and both verify sides). Without materialization the
    # tokenize — the single most expensive stage — re-executes once
    # per consumer. A lazy localCheckpoint computes it exactly once
    # per invocation and truncates lineage; unlike persist() it is
    # not plan-cache matched across invocations (each call gets a
    # fresh RDD), so repeated runs re-pay the tokenize honestly.
    # Measured at sf0.1 (5 k docs): warm 8.3-10.6 s -> 2.2-2.8 s.
    # Cluster note: localCheckpoint stores unreplicated executor-
    # local blocks — an executor loss fails the job instead of
    # recomputing lineage. For a deterministic batch dedup pass
    # that is the standard time/fault-tolerance trade; flip to
    # persist(MEMORY_AND_DISK) + explicit unpersist if running
    # under preemptible executors.
    arrs = arrs.localCheckpoint(eager=False)
    # Join gates: the gram df and prefix tables are gram-string-sized
    # and key on the whole checkpoint; the verify attaches broadcast
    # only (id, harr, n), a fraction of it (the strings dominate: at
    # 377 k docs 734 MB vs 200 MB), so their gate measures that
    # projection. Its count fills the checkpoint on the way — the
    # tokenize runs in that job instead of the query's first stage.
    verify_m = measure(arrs.select("id", "harr", "n"))
    arrs_m = upstream(verify_m, arrs)

    grams = arrs.select("id", "n", F.explode("arr").alias("gram"))
    dfreq = grams.groupBy("gram").agg(F.count("*").alias("df"))

    ranked = grams.join(
        _sized(dfreq, arrs_m, "ssjoin.gram_df"), "gram"
    ).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("id").orderBy("df", "gram")
        ),
    )
    # prefix length = n - ceil(t*n) + 1, all integer:
    # ceil(a*n/b) = (a*n + b - 1) div b
    pref = (
        ranked.withColumn(
            "plen",
            F.expr(
                f"n - (({threshold_num} * n + {threshold_den - 1}) "
                f"div {threshold_den}) + 1"
            ),
        )
        .filter(F.col("rnk") <= F.col("plen"))
        .select("id", "gram", "n", "rnk")
    )

    # candidate join carries the PPJoin length + position filters:
    # J >= t forces t*na <= nb <= na/t (size-mismatched pairs never
    # leave the join), and a pair seen at prefix positions (pa, pb)
    # can overlap at most 1 + min(na-pa, nb-pb) grams, which must
    # reach the required overlap ceil(t/(1+t)*(na+nb)) — both checks
    # integer cross-multiplied, no float
    # candidate self-join: gate the build side the same way — the
    # prefix table scales with corpus grams, and the static planner
    # broadcast one full copy of it at 377 k docs off the checkpoint's
    # frozen estimate
    pref = _sized(pref, arrs_m, "ssjoin.prefix")
    a = pref.alias("a")
    b = pref.alias("b")
    nsum = F.col("a.n") + F.col("b.n")
    ubound = (
        F.least(
            F.col("a.n") - F.col("a.rnk"), F.col("b.n") - F.col("b.rnk")
        )
        + 1
    )
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("b.n") * threshold_den >= F.col("a.n") * threshold_num)
            & (F.col("a.n") * threshold_den >= F.col("b.n") * threshold_num)
            & (
                ubound * (threshold_num + threshold_den)
                >= F.lit(threshold_num) * nsum
            ),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )

    # exact verify, candidate-bounded: count shared grams per pair
    # over the hashed int64 gram sets via the shared sort+searchsorted
    # Arrow kernel (operators/dedup.py _intersect_counts_np — measured
    # ~7x cheaper per pair than a per-row JVM hash-set build, and far
    # cheaper again than hashing STRINGS per pair) instead of
    # exploding candidates x grams back into a row join. The two keyed
    # joins spread pairs across shuffle partitions; no extra
    # repartition, because the array payloads make any additional
    # exchange the dominant cost (measured: a post-join pair
    # repartition was pure overhead).
    va, vb = _sized_pair(
        arrs, {"id": "id_{}", "harr": "h_{}", "n": "n_{}"}, verify_m, "ssjoin.verify"
    )
    paired = (
        cand.select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
        .join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", "n_a", "n_b", "h_a", "h_b")
        # local sort, no exchange: the join leaves rows ordered by
        # id_b, so the kernel's one-element id_a sort cache would
        # almost never hit; sorting within partitions restores id_a
        # runs so each left array is sorted once per run, not per pair
        .sortWithinPartitions("id_a")
    )
    counted = paired.mapInPandas(
        _intersect_counts_np,
        StructType(
            [
                paired.schema["id_a"],
                paired.schema["id_b"],
                paired.schema["n_a"],
                paired.schema["n_b"],
                StructField("inter", IntegerType()),
            ]
        ),
    )
    verified = counted.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("inter").cast("bigint").alias("inter_grams"),
        (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("bigint").alias(
            "union_grams"
        ),
    )
    rep_pairs = verified.filter(
        F.col("inter_grams") * threshold_den
        >= F.lit(threshold_num) * F.col("union_grams")
    ).select(
        "doc_a",
        "doc_b",
        "inter_grams",
        "union_grams",
        F.expr("(inter_grams * 10000) div union_grams").alias("jac_bp"),
    )
    if not collapse:
        return rep_pairs

    # expand representative pairs to member pairs (disjoint clusters:
    # least/greatest restores doc_a < doc_b; cross and intra sets
    # cannot overlap)
    # expansion-join strategy gated on the members profile's bytes
    # (rep_th is d <= n rows of the same columns, members n rows; both
    # checkpoint/agg-descended)
    rep_th = reps.select(F.col("id").alias("rid"), "__th")
    th_a, th_b = _sized_pair(
        rep_th, {"rid": "doc_{}", "__th": "__th_{}"}, prof, "ssjoin.rep_th"
    )
    mem_a, mem_b = _sized_pair(
        members, {"__th": "__th_{}", "id": "{}_id"}, prof, "ssjoin.members"
    )
    cross = (
        rep_pairs.join(th_a, "doc_a")
        .join(th_b, "doc_b")
        .join(mem_a, "__th_a")
        .join(mem_b, "__th_b")
        .select(
            F.least("a_id", "b_id").alias("doc_a"),
            F.greatest("a_id", "b_id").alias("doc_b"),
            "inter_grams",
            "union_grams",
            "jac_bp",
        )
    )
    if threshold_num > threshold_den:
        return cross
    grammed_th = (
        arrs.filter(F.col("n") > 0)
        .select("id", "n")
        .join(
            _sized(rep_th, prof, "ssjoin.grammed_rep_th"),
            F.col("id") == F.col("rid"),
            "inner",
        )
        .select("__th", "n")
    )
    mm = members.join(
        _sized(grammed_th, prof, "ssjoin.grammed_th"), "__th"
    )
    intra = (
        mm.alias("x")
        .join(
            mm.alias("y"),
            (F.col("x.__th") == F.col("y.__th"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("doc_a"),
            F.col("y.id").alias("doc_b"),
            F.col("x.n").cast("bigint").alias("inter_grams"),
            F.col("x.n").cast("bigint").alias("union_grams"),
            F.lit(10000).cast("bigint").alias("jac_bp"),
        )
    )
    return cross.unionByName(intra)

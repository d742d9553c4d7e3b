"""Driver-visible recall evidence for the approximate (rows-only)
dedup/ANN family (VERDICT r3 #6).

The LSH-blocked operators (`dedup_near`, `dedup_simhash`,
`dedup_embedding_lsh`, `sim_topk_lsh`) are approximations whose exact
output is not SQL-expressible, so their direct driver rows are
rows-only. Each query here computes the approximation's recall against
its EXACT oracle-backed twin inside one Spark plan and emits a single
row of oracle-expressible facts: a count the oracle derives from the
exact twin's own SQL, plus a boolean quality gate (recall over a fixed
threshold). Everything is deterministic — the sketches are hash-derived
(no RNG) and the testdata is fixed — so the booleans are stable facts
about the data, not flaky measurements. Thresholds sit well under the
measured values (all recalls are 1.0 and every true near-dup pair is
within Hamming 12 at sf0.001/sf0.01) so a regenerated dataset with the
same generator would still pass.

Reference parity: the reference validates its scraper output against
expected-value fixtures (test_parquet_processor.py:222-266); these
queries are the same idea applied to approximation quality — the
"expected value" is the exact operator run side-by-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_processor_spark.ops import dedup, vector
from parquet_processor_spark.ops.aggregates import _CMS_SQL, _CMS_W
from parquet_processor_spark.ops.multimodal import _AUDIO_LANDMARK_CTES
from parquet_processor_spark.registry import _ORACLES, query
from parquet_processor_spark.tables import t


def _gate(matched: F.Column, total: F.Column, threshold: float) -> F.Column:
    """matched/total >= threshold, vacuously true on an empty truth set."""
    return F.coalesce(matched / total >= F.lit(threshold), F.lit(True))


@query(
    "recall_sim_topk_lsh",
    oracle=f"select count(*) as n_brute, true as overlap_ok from ({_ORACLES['sim_topk']})",
    tags=("vector", "lsh", "evidence"),
)
def recall_sim_topk_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 overlap of banded-LSH ANN vs brute-force cosine (>= 0.8,
    measured 1.0). Both sides broadcast one query vector; the join here
    is 10x10."""
    brute = vector.sim_topk(spark, sf).select("vec_id")
    approx = vector.sim_topk_lsh(spark, sf).select(F.col("vec_id").alias("a_id"))
    hit = F.sum(F.when(F.col("a_id").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return brute.join(approx, F.col("vec_id") == F.col("a_id"), "left").agg(
        n.alias("n_brute"), _gate(hit, n, 0.8).alias("overlap_ok")
    )


@query(
    "recall_dedup_embedding_lsh",
    oracle=(
        "select count(*) as n_exact_dups, true as recall_ok "
        f"from ({_ORACLES['dedup_embedding']}) where is_dup"
    ),
    tags=("dedup", "vector", "lsh", "evidence"),
)
def recall_dedup_embedding_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Fraction of the label-blocked exact variant's duplicates the
    hash-blocked (banded hyperplane LSH) variant also flags (>= 0.5,
    measured 1.0 — same gate family as tests/test_dedup_vector.py)."""
    exact = dedup.dedup_embedding(spark, sf).where("is_dup").select("vec_id")
    lsh = (
        dedup.dedup_embedding_lsh(spark, sf)
        .where("is_dup")
        .select(F.col("vec_id").alias("l_id"))
    )
    hit = F.sum(F.when(F.col("l_id").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return exact.join(lsh, F.col("vec_id") == F.col("l_id"), "left").agg(
        n.alias("n_exact_dups"), _gate(hit, n, 0.5).alias("recall_ok")
    )


@query(
    "recall_dedup_near",
    oracle=(
        "select count(*) as n_true_pairs, true as recall_ok "
        f"from ({_ORACLES['dedup_ngram_jaccard']})"
    ),
    tags=("dedup", "lsh", "evidence"),
)
def recall_dedup_near(spark: SparkSession, sf: str) -> DataFrame:
    """Fraction of true Jaccard>=0.2 pairs (exact shingle-join twin)
    surfaced as MinHash-LSH band candidates (>= 0.6, measured 1.0 —
    the corpus's true pairs sit at J>=0.5 where b=6/r=2 banding gives
    >=0.97 expected recall)."""
    truth = dedup.dedup_ngram_jaccard(spark, sf).select("doc_a", "doc_b")
    cand = dedup.dedup_near(spark, sf).select(
        F.col("doc_a").alias("ca"), F.col("doc_b").alias("cb")
    )
    hit = F.sum(F.when(F.col("ca").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return truth.join(
        cand, (F.col("doc_a") == F.col("ca")) & (F.col("doc_b") == F.col("cb")), "left"
    ).agg(n.alias("n_true_pairs"), _gate(hit, n, 0.6).alias("recall_ok"))


@query(
    "recall_dedup_simhash",
    oracle=(
        "select count(*) as n_true_pairs, true as hamming_ok "
        f"from ({_ORACLES['dedup_ngram_jaccard']})"
    ),
    tags=("dedup", "simhash", "evidence"),
)
def recall_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """True near-dup pairs must land Hamming-close in simhash space:
    fraction with bit_count(sig_a XOR sig_b) <= 16 must be >= 0.9
    (measured with shingle-feature simhash: max true-pair distance 12
    at both test SFs vs random-pair median 32 — the token-feature
    variant collapsed to median 14 on this shared-vocabulary corpus,
    which is why the features are shingles)."""
    sig = (
        dedup.dedup_simhash(spark, sf)
        .where(F.col("chunk") == 0)
        .select("doc_id", "simhash")
    )
    truth = dedup.dedup_ngram_jaccard(spark, sf).select("doc_a", "doc_b")
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    close = F.sum(F.when(ham <= 16, 1).otherwise(0))
    n = F.count(F.lit(1))
    return (
        truth.join(sa, "doc_a")
        .join(sb, "doc_b")
        .agg(n.alias("n_true_pairs"), _gate(close, n, 0.9).alias("hamming_ok"))
    )


@query(
    "error_approx_distinct",
    oracle="select count(distinct user_id) as n_exact, true as within_rsd from events",
    tags=("agg", "approx", "evidence"),
)
def error_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """HLL++ cardinality error gate: |approx - exact| / exact must be
    inside 3x the sketch's target relative standard deviation (5%
    default — Spark's HyperLogLog++ is deterministic for a fixed
    input set, so the boolean is a stable fact, not a flaky sample).
    Exact and approx sides aggregate in ONE pass each; the exact count
    is what the oracle recomputes."""
    agg = t(spark, sf, "events").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("n_approx"),
    )
    err = F.abs(F.col("n_approx") - F.col("n_exact")) / F.col("n_exact")
    return agg.select("n_exact", (err <= 0.15).alias("within_rsd"))


@query(
    "error_approx_quantile",
    oracle="select cast(count(*) as bigint) as n_rows, true as within_err from lineitem",
    tags=("agg", "approx", "evidence"),
)
def error_approx_quantile(spark: SparkSession, sf: str) -> DataFrame:
    """Greenwald-Khanna approximate-percentile error gate: the RANK of
    each approx value (p50/p95 of l_extendedprice at accuracy 1/1000)
    must sit within 0.005 of its target rank — 5x the sketch's epsilon,
    so the boolean is a stable fact, not a flaky measurement. Rank
    error, not value error: value distance is scale-dependent while
    rank distance is the quantity the sketch actually bounds.

    Two passes in one plan: the 1-row sketch aggregate broadcasts back
    against the scan (the filter_by_quantile pattern — no driver-side
    scalar), then one rank-counting aggregate. At 100 TB both passes
    are map-side-combined scans; nothing shuffles but partial aggs."""
    li = t(spark, sf, "lineitem").select("l_extendedprice")
    ap = li.agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.95], 1000).alias("ap")
    )
    eps = 0.005
    return (
        li.crossJoin(F.broadcast(ap))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("l_extendedprice") <= F.col("ap")[0], 1).otherwise(0)).alias("r50"),
            F.sum(F.when(F.col("l_extendedprice") <= F.col("ap")[1], 1).otherwise(0)).alias("r95"),
        )
        .select(
            "n_rows",
            (
                (F.abs(F.col("r50") / F.col("n_rows") - 0.5) <= eps)
                & (F.abs(F.col("r95") / F.col("n_rows") - 0.95) <= eps)
            ).alias("within_err"),
        )
    )


@query(
    "agg_sketch_merge",
    oracle="select cast(count(distinct user_id) as bigint) as n_exact, true as within_err from events",
    tags=("agg", "approx", "sketch", "evidence"),
)
def agg_sketch_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable-sketch distinct: one DataSketches HLL sketch per day
    (``hll_sketch_agg``), merged at query time (``hll_union_agg``) into
    a corpus-wide estimate — gated within 15% of exact. This is THE
    incremental-distinct pattern at 100 TB: per-partition/per-day
    sketches are built once at ingest (kilobytes each), and any date
    range's cardinality is a union of sketches instead of a re-scan;
    the union is register-wise max — commutative, associative, and
    deterministic for a fixed input set, so the gate is stable."""
    ev = t(spark, sf, "events")
    merged = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("n_approx"))
    )
    exact = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    err = F.abs(F.col("n_approx") - F.col("n_exact")) / F.col("n_exact")
    return exact.crossJoin(F.broadcast(merged)).select(
        "n_exact", (err <= 0.15).alias("within_err")
    )


@query(
    "recall_dedup_connected_lsh",
    oracle="select count(*) as n_docs, true as agree_ok from documents",
    tags=("dedup", "graph", "lsh", "evidence"),
)
def recall_dedup_connected_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-assignment agreement between the exact transitive
    closure (shingle-join pairs) and the LSH-blocked closure (MinHash
    candidate pairs): fraction of docs with identical cluster_id must
    be >= 0.9 (measured 1.0 at sf0.001/sf0.01 — on this corpus MinHash
    banding recovers every true pair, so the closures coincide)."""
    exact = dedup.dedup_connected(spark, sf).select("doc_id", "cluster_id")
    lsh = dedup.dedup_connected_lsh(spark, sf).select(
        F.col("doc_id").alias("l_id"), F.col("cluster_id").alias("l_cluster")
    )
    same = F.sum(F.when(F.col("cluster_id") == F.col("l_cluster"), 1).otherwise(0))
    n = F.count(F.lit(1))
    return exact.join(lsh, F.col("doc_id") == F.col("l_id")).agg(
        n.alias("n_docs"), _gate(same, n, 0.9).alias("agree_ok")
    )


@query(
    "recall_dedup_incremental_minhash",
    oracle=f"""
    with cutoff as (
      select cast(floor(min(doc_id)
                        + {dedup._INCR_DEDUP_CUTOFF_FRAC} * (max(doc_id) - min(doc_id)))
                  as bigint) as c
      from documents
    )
    select count(*) as n_true_pairs, true as recall_ok
    from ({_ORACLES['dedup_ngram_jaccard']}) p, cutoff
    where p.doc_b >= c
    """,
    tags=("dedup", "lsh", "incremental", "evidence"),
)
def recall_dedup_incremental_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """Recall gate for the incremental MinHash dedup: every TRUE
    near-dup pair involving a delta document (exact capped-shingle
    Jaccard >= 0.2; doc_a < doc_b and delta ids follow the cutoff, so
    "involves a delta doc" is exactly doc_b >= cutoff) must surface in
    the incremental candidate stream — corpus-probe hits plus
    within-delta block pairs (>= 0.95; the banding is identical to the
    batch ``dedup_near``, so a found pair cannot be lost by splitting
    the corpus, and the measured recall is 1.0)."""
    cutoff = dedup._incr_cutoff(dedup._minhash_sig_cached(spark, sf))
    truth = (
        dedup.dedup_ngram_jaccard(spark, sf)
        .crossJoin(F.broadcast(cutoff))
        .where(F.col("doc_b") >= F.col("c"))
        .select("doc_a", "doc_b")
    )
    cand = dedup._incremental_minhash_pairs(spark, sf).select(
        F.col("doc_a").alias("ca"), F.col("doc_b").alias("cb")
    )
    hit = F.sum(F.when(F.col("ca").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return truth.join(
        cand, (F.col("doc_a") == F.col("ca")) & (F.col("doc_b") == F.col("cb")), "left"
    ).agg(n.alias("n_true_pairs"), _gate(hit, n, 0.95).alias("recall_ok"))


@query(
    "recall_sim_topk_ivf_nprobe",
    oracle=f"select count(*) as n_brute, true as overlap_ok from ({_ORACLES['sim_topk']})",
    tags=("vector", "ivf", "evidence"),
)
def recall_sim_topk_ivf_nprobe(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 overlap of the served IVF ANN (n_cells = max(8, ⌊√N⌋)
    seed cells, nprobe = half of them — vector._ivf_params) vs
    brute-force cosine (>= 0.55; measured 8/10 at sf0.001, 7/10 at
    sf0.01, 9/10 at sf0.1). Both top-10 lists are deterministic
    (hash-checked queries), so the boolean is a stable fact.

    SF-ROBUST by derivation (r14, closing the r13 sweep finding): the
    r13 fixture froze 8 seed cells at every scale, so recall decayed
    per decade (0.7→0.6→0.2) as the corpus outgrew the index. Both
    geometry knobs now derive from the corpus count, holding the
    probed mass fraction — and with it measured recall — at every SF.

    Why the served depth is HALF the cells and not a small nprobe:
    the fixture's embedding space is near-isotropic relative to this
    query (no cluster structure), so recall inherently tracks probed
    MASS — the measured curve at num/8 of the cells for num=1/2/4/6/8
    is ~0.2-0.5/0.4-0.6/0.7-0.9/0.9-1.0/1.0 across the three SFs. On
    clustered real embeddings the same machinery concentrates the
    neighbors in the query's nearest cells and reaches the target at
    far smaller fractions (the IVF premise); report_ivf_recall_curve
    pins the per-corpus curve so a serving team picks num for THEIR
    data. tests/test_dedup_vector.py asserts the monotone curve and
    exact recovery at full probe."""
    brute = vector.sim_topk(spark, sf).select("vec_id")
    approx = vector.sim_topk_ivf_nprobe(spark, sf).select(F.col("vec_id").alias("a_id"))
    hit = F.sum(F.when(F.col("a_id").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return brute.join(approx, F.col("vec_id") == F.col("a_id"), "left").agg(
        n.alias("n_brute"), _gate(hit, n, 0.55).alias("overlap_ok")
    )


@query(
    "recall_sim_topk_ivf_trained",
    oracle=f"select count(*) as n_brute, true as overlap_ok from ({_ORACLES['sim_topk']})",
    tags=("vector", "ivf", "evidence"),
)
def recall_sim_topk_ivf_trained(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 overlap of the TRAINED-centroid IVF serve
    (sim_topk_ivf_trained: Lloyd-trained cells at the derived
    n_cells/nprobe geometry) vs brute-force cosine (>= 0.55; measured
    8/10, 8/10, 10/10 at sf0.001/0.01/0.1 — at or above the seeded
    serve's 8/7/9: trained cells tighten the Voronoi regions, never
    loosen the probed-mass floor). Completes the r13 sweep remedy: the training
    loop's output is now gate-audited in the serving path, not just
    inertia-checked in isolation (kmeans_ivf_train)."""
    brute = vector.sim_topk(spark, sf).select("vec_id")
    approx = vector.sim_topk_ivf_trained(spark, sf).select(F.col("vec_id").alias("a_id"))
    hit = F.sum(F.when(F.col("a_id").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return brute.join(approx, F.col("vec_id") == F.col("a_id"), "left").agg(
        n.alias("n_brute"), _gate(hit, n, 0.55).alias("overlap_ok")
    )


@query(
    "error_minhash_estimate",
    oracle=(
        "select count(*) as n_pairs, true as mae_ok, true as max_err_ok "
        f"from ({_ORACLES['dedup_ngram_jaccard']})"
    ),
    tags=("dedup", "lsh", "evidence"),
)
def error_minhash_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Estimation-error gate for the MinHash signature itself: on every
    TRUE near-dup pair (exact capped-shingle Jaccard >= 0.2), compare
    the K-minhash agreement estimate (`dedup_near`'s est_jaccard) to
    the exact Jaccard. Gates: mean |est - exact| <= 0.25 and
    max |est - exact| <= 0.6 (K=12 gives sd ~= sqrt(J(1-J)/K) <= 0.15,
    so both bounds hold with wide margin; a pair the LSH banding missed
    entirely counts as est = 0 — the recall gate says there are none,
    this gate would surface it as max error if that ever regressed).
    Complements the recall_* family: recall says the candidates are
    found, this says the similarity VALUES the sketch reports are
    trustworthy — what a production pipeline thresholds on."""
    exact = dedup.dedup_ngram_jaccard(spark, sf).select("doc_a", "doc_b", "jaccard")
    est = dedup.dedup_near(spark, sf).select(
        F.col("doc_a").alias("e_a"), F.col("doc_b").alias("e_b"), "est_jaccard"
    )
    err = F.abs(F.coalesce(F.col("est_jaccard"), F.lit(0.0)) - F.col("jaccard"))
    return (
        exact.join(
            est, (F.col("doc_a") == F.col("e_a")) & (F.col("doc_b") == F.col("e_b")), "left"
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.coalesce(F.avg(err) <= 0.25, F.lit(True))).alias("mae_ok"),
            (F.coalesce(F.max(err) <= 0.6, F.lit(True))).alias("max_err_ok"),
        )
    )


# Approximate top-k evidence gate: Spark 4's approx_top_k sketch
# (bounded state: maxItemsTracked entries per partial, mergeable)
# against the exact heavy-hitter counts. With corpus vocab below the
# tracking bound the sketch is provably exact, so every returned count
# must equal its exact count and the smallest returned count must sit
# at the true k-th boundary — stable facts, not flaky measurements.
# (At a vocab >> tracking bound the same gate loosens to count-error
# bounds; the plan shape — one sketch aggregate, one broadcast-join
# audit — is unchanged.)
_TOPK_K = 10
_TOPK_TRACKED = 50


@query(
    "error_approx_topk",
    oracle=f"""
    with tok0 as (
      select unnest(regexp_split_to_array(text, '\\s+')) as tok from documents
    ),
    tok as (select tok from tok0 where tok <> ''),
    tc as (select tok, count(*) as n from tok group by tok),
    kth as (select n from tc order by n desc, tok limit 1 offset {_TOPK_K - 1})
    select cast({_TOPK_K} as bigint) as n_returned,
           cast({_TOPK_K} as bigint) as n_count_exact,
           (select cast(n as bigint) from kth) as boundary_count,
           true as topk_valid
    """,
    tags=("agg", "approx", "topk", "evidence"),
)
def error_approx_topk(spark: SparkSession, sf: str) -> DataFrame:
    """approx_top_k audit: items returned, how many carry exact
    counts, the exact k-th-place count, and the validity boolean
    (every sketch count exact AND no returned count below the true
    boundary).

    100 TB shape: the sketch is ONE map-side-combined aggregate with
    O(maxItemsTracked) state per partial — the bounded-memory
    replacement for the exact vocab aggregate when the vocabulary
    explodes; the audit joins the k returned items against exact
    counts (broadcast: k rows) and the boundary is a 1-row broadcast.
    Tie-safety: a tie AT the boundary means either tied item is a
    valid k-th pick, so the gate checks counts, never item identity.
    """
    tok = (
        t(spark, sf, "documents")
        .select(F.explode_outer(F.split("text", r"\s+")).alias("tok"))
        .where(F.col("tok") != "")
    )
    exact = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    kth = (
        exact.orderBy(F.col("n").desc(), "tok")
        .limit(_TOPK_K)
        .agg(F.min("n").alias("kth_n"))
    )
    sk = (
        tok.agg(F.expr(f"approx_top_k(tok, {_TOPK_K}, {_TOPK_TRACKED})").alias("items"))
        .select(F.explode("items").alias("it"))
        .select(F.col("it.item").alias("tok"), F.col("it.count").alias("sk_n"))
    )
    return (
        sk.join(F.broadcast(exact), "tok", "left")
        .crossJoin(F.broadcast(kth))
        .agg(
            F.count(F.lit(1)).alias("n_returned"),
            F.sum(F.when(F.col("sk_n") == F.col("n"), 1).otherwise(0))
            .cast("long")
            .alias("n_count_exact"),
            F.max("kth_n").cast("long").alias("boundary_count"),
            (
                (F.count(F.lit(1)) == F.lit(_TOPK_K))
                & (
                    F.sum(F.when(F.col("sk_n") == F.col("n"), 1).otherwise(0))
                    == F.count(F.lit(1))
                )
                & (F.min("sk_n") >= F.max("kth_n"))
            ).alias("topk_valid"),
        )
    )


def _perceptual_recall_oracle() -> str:
    from parquet_processor_spark.ops import multimodal as mm

    off = mm._PHASH_INJECT_OFFSET
    return f"""
    with {mm._phash_sig_ctes()},
    injham as (
      select a.media_id - {off} as k,
             {mm._phash_ham_sql()} as ham
      from h a join h b on a.media_id = b.media_id + {off}
      where a.media_id >= {off}
    )
    select cast(count(*) as bigint) as n_injected,
           cast(coalesce(sum(case when ham <= {mm._PHASH_MAX_HAM}
                                  then 1 else 0 end), 0) as bigint) as n_in_radius,
           true as recall_ok
    from injham
    """


@query(
    "recall_dedup_perceptual",
    oracle=_perceptual_recall_oracle(),
    tags=("multimodal", "dedup", "perceptual", "evidence"),
)
def recall_dedup_perceptual(spark: SparkSession, sf: str) -> DataFrame:
    """Every injected re-encode WITHIN the contracted Hamming radius
    must be flagged: the multi-index guarantees a shared band-pair
    key within Hamming multimodal._PHASH_MAX_HAM, so in-radius recall is EXACTLY 1.0 by
    construction (pigeonhole), not a tuned 0.9x. The gate conditions
    on the TRUE measured radius (r13: at sf0.1 four injected pairs
    measure Hamming 7-8 — the case-flip perturbation moves more block
    means on longer texts — and those sit OUTSIDE the operator's
    contract by definition, so gating raw injection recall was an
    sf-dependent fixture assumption, not the guarantee). n_injected -
    n_in_radius audits how many injections exceeded the radius; the
    oracle replays the dHash/Hamming to pin both counts, and the gate
    goes through _gate so an empty fixture stays vacuously green."""
    from parquet_processor_spark.ops import multimodal as mm

    off = mm._PHASH_INJECT_OFFSET
    out = mm.multimodal_dedup_perceptual(spark, sf)
    flagged = out.where(F.col("media_id") >= off).select(
        (F.col("media_id") - off).alias("k"), "is_dup"
    )
    # The audited corpus is the SAME builder the detector ran over —
    # not a re-derivation (r13 advice): a recipe change can no longer
    # desynchronize gate and detector.
    sig = mm._phash_bands_arrow(mm._injected_media(spark, sf))
    cols = [f"b{i}" for i in range(mm._PHASH_BANDS)]
    a = sig.where(F.col("media_id") >= off).select(
        (F.col("media_id") - off).alias("k"),
        *[F.col(c).alias(f"a_{c}") for c in cols],
    )
    b = sig.where(
        (F.col("media_id") < off) & (F.col("media_id") % mm._PHASH_INJECT_MOD == 0)
    ).select(F.col("media_id").alias("k"), *cols)
    ham = sum(
        F.bit_count(F.expr(f"cast(a_{c} as bigint) ^ cast({c} as bigint)"))
        for c in cols
    )
    inrad = (
        a.join(b, "k")
        .select("k", (ham <= mm._PHASH_MAX_HAM).alias("in_radius"))
        .join(flagged, "k")
    )
    n = F.count(F.lit(1))
    n_in = F.coalesce(F.sum(F.when(F.col("in_radius"), 1)), F.lit(0))
    hit_in = F.coalesce(
        F.sum(F.when(F.col("in_radius") & F.col("is_dup"), 1)), F.lit(0)
    )
    return inrad.agg(
        n.cast("long").alias("n_injected"),
        n_in.cast("long").alias("n_in_radius"),
        _gate(hit_in, n_in, 1.0).alias("recall_ok"),
    )


@query(
    "recall_sim_topk_ivfpq",
    oracle=(
        f"select cast(count(*) as bigint) as n_exact, true as overlap_ok "
        f"from ({_ORACLES['sim_topk']})"
    ),
    tags=("vector", "ivf", "pq", "evidence"),
)
def recall_sim_topk_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ end-to-end recall: the refined top-10 must recover >=
    half of the exact cosine top-10. The index serves the same
    SF-derived geometry as sim_topk_ivf_nprobe (n_cells = max(8,
    ⌊√N⌋), nprobe = half — r14), so the cell-boundary ceiling holds
    at every SF instead of decaying past the check SFs; the residual
    shortfall vs that ceiling is PQ shortlist truncation, which the
    exact-cosine refine of the top-R (R=_IVFPQ_R) keeps near zero (see
    recall_sim_topk_ivf_nprobe for the measured ceiling curve)."""
    from parquet_processor_spark.ops import vector as vec

    got = vec.sim_topk_ivfpq(spark, sf).select("vec_id")
    exact = vec.sim_topk(spark, sf).select(F.col("vec_id").alias("evid"))
    hit = F.sum(F.when(F.col("vec_id").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return exact.join(got, F.col("evid") == F.col("vec_id"), "left").agg(
        n.alias("n_exact"), _gate(hit, n, 0.5).alias("overlap_ok")
    )


@query(
    "error_approx_intersection",
    oracle="""
    select cast(count(distinct case when event_type = 'click' then user_id end)
              + count(distinct case when event_type = 'purchase' then user_id end)
              - count(distinct case when event_type in ('click', 'purchase')
                               then user_id end) as bigint) as n_exact,
           true as within_err
    from events
    """,
    tags=("agg", "approx", "evidence"),
)
def error_approx_intersection(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-based set-INTERSECTION estimate gate: |clickers ∩ buyers|
    via inclusion-exclusion over three HLL++ sketches (|A| + |B| -
    |A∪B| — the standard trick, since HLLs union natively but cannot
    intersect), checked against the exact intersection computed by the
    same identity over exact distincts. Gate: relative error <= 0.15
    (3x the 5% rsd; the identity compounds the union's error into the
    intersection, which is why real systems bound intersection
    estimates by the JACCARD-scaled union error — at the fixture's
    full overlap the compounding is benign, and HLL++ is deterministic
    for a fixed input so the boolean is a stable fact).

    100 TB shape: ONE aggregate pass computes all six counters
    (Spark's multi-countDistinct plans a single Expand); sketches are
    mergeable, so the same plan runs partition-incremental exactly
    like agg_sketch_merge."""
    ev = t(spark, sf, "events")
    click = F.when(F.col("event_type") == "click", F.col("user_id"))
    buy = F.when(F.col("event_type") == "purchase", F.col("user_id"))
    either = F.when(F.col("event_type").isin("click", "purchase"), F.col("user_id"))
    agg = ev.agg(
        (F.countDistinct(click) + F.countDistinct(buy) - F.countDistinct(either)).alias(
            "n_exact"
        ),
        (
            F.approx_count_distinct(click, rsd=0.05)
            + F.approx_count_distinct(buy, rsd=0.05)
            - F.approx_count_distinct(either, rsd=0.05)
        ).alias("n_est"),
    )
    err = F.abs(F.col("n_est") - F.col("n_exact")) / F.col("n_exact")
    return agg.select(
        F.col("n_exact").cast("long").alias("n_exact"),
        F.coalesce(err <= 0.15, F.lit(True)).alias("within_err"),
    )


# CMS error gate: the published guarantee is one-sided (never
# underestimates) with overestimate <= e*N/w at confidence 1 - e^-d.
# Both facts are measured here over the deterministic sketch and
# emitted as oracle-checkable booleans: the fixture's w=16 is sized so
# collisions are real (max_over is thousands, not zero) and the bound
# still holds — the gate that would catch a broken bucket hash or a
# lost counter merge at any scale.
@query(
    "error_count_min",
    oracle=f"""
    with {_CMS_SQL},
    n as (select cast(sum(cnt) as bigint) as n_tokens from vocab),
    o as (
      select cast(min(n_est - n_exact) as bigint) as min_over,
             cast(max(n_est - n_exact) as bigint) as max_over
      from cms_est
    )
    select n.n_tokens, o.min_over, o.max_over,
           o.min_over >= 0 as never_under,
           cast(o.max_over as double)
             <= 2.718281828459045 * cast(n.n_tokens as double) / {_CMS_W} as within_bound
    from n cross join o
    """,
    tags=("sketch", "gate", "approx"),
)
def error_count_min(spark: SparkSession, sf: str) -> DataFrame:
    from parquet_processor_spark.ops.aggregates import _cms_estimates

    est = _cms_estimates(spark, sf).withColumn(
        "over", (F.col("n_est") - F.col("n_exact")).cast("long")
    )
    n = (
        t(spark, sf, "documents")
        .select(F.explode(F.split(F.col("text"), r"\s+")).alias("tok"))
        .where(F.col("tok") != "")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    )
    o = est.agg(F.min("over").alias("min_over"), F.max("over").alias("max_over"))
    return (
        n.crossJoin(F.broadcast(o))
        .select(
            "n_tokens",
            "min_over",
            "max_over",
            (F.col("min_over") >= 0).alias("never_under"),
            (
                F.col("max_over").cast("double")
                <= F.lit(2.718281828459045) * F.col("n_tokens").cast("double") / F.lit(_CMS_W)
            ).alias("within_bound"),
        )
    )


@query(
    "recall_dedup_audio",
    # the landmark CTE chain is SHARED with multimodal_dedup_audio's
    # oracle, so tuning _AUDIO_FR/_AUDIO_FANOUT can never
    # desynchronize the gate from the operator
    oracle=f"""
    with media as (
      select doc_id as track_id, coalesce(text, '') as content
      from documents
      where doc_id % 10 = 0 and len(coalesce(text, '')) >= 150
    ),
    {_AUDIO_LANDMARK_CTES}
    select cast(count(*) filter (len(hashes) >= 2) as bigint) as n_true_pairs,
           cast(count(*) filter (len(hashes) < 2) as bigint) as n_unfingerprintable,
           true as recall_ok
    from lm
    """,

    tags=("multimodal", "dedup", "audio", "evidence"),
)
def recall_dedup_audio(spark: SparkSession, sf: str) -> DataFrame:
    """Every injected shifted re-record whose SOURCE is fingerprintable
    (>= 2 distinct landmarks) must be flagged: a whole-frame shift
    translates all peaks together, so the copy carries every source
    landmark verbatim and shared == n_source >= the match threshold —
    recall is EXACTLY 1.0 by construction, not a tuned 0.9x. Sources
    below 2 landmarks (monotone byte streams — "silence") are counted
    honestly in n_unfingerprintable rather than hidden from the
    denominator's definition."""
    from parquet_processor_spark.ops import multimodal as mm

    out = mm.multimodal_dedup_audio(spark, sf)
    src_lm = out.where(
        (F.col("track_id") < 1_000_000_000)
    ).select(
        (F.col("track_id") + 1_000_000_000).alias("inj_id"),
        F.col("n_landmarks").alias("src_landmarks"),
    )
    inj = out.where(F.col("track_id") >= 1_000_000_000).join(
        src_lm, F.col("track_id") == F.col("inj_id")
    )
    eligible = F.col("src_landmarks") >= 2
    hit = F.sum(F.when(eligible & F.col("is_dup"), 1).otherwise(0))
    n = F.sum(F.when(eligible, 1).otherwise(0))
    return inj.agg(
        n.cast("long").alias("n_true_pairs"),
        F.sum(F.when(~eligible, 1).otherwise(0)).cast("long").alias("n_unfingerprintable"),
        _gate(hit, n, 1.0).alias("recall_ok"),
    )



# Relative-error gate for the log-bucket histogram's quantile reads:
# estimate q50/q95/q99 as the LOWER BOUND (2^b) of the first bucket
# whose cumulative count reaches ceil(q*N); the bucket bounds every
# member in [2^b, 2^(b+1)), so est <= exact < 2*est is guaranteed at
# gamma=2 — this gate MEASURES it against the exact quantile computed
# collapsed-key (group by cents, cumulative over <= 49k distinct cent
# values — never a row-level sort).
_LOGQ_QS = (50, 95, 99)  # percent, integer-exact arithmetic


@query(
    "error_log_quantile",
    oracle=f"""
    with cents as (
      select c from (
        select cast(floor(value * 100 + 0.5) as bigint) as c
        from events where value > 0
      ) where c >= 1
    ),
    n as (select count(*) as n_events from cents),
    byc as (
      select c, count(*) as cnt from cents group by c
    ),
    cum as (
      select c, sum(cnt) over (order by c rows unbounded preceding) as cum
      from byc
    ),
    qs as (select unnest({list(_LOGQ_QS)}) as q),
    k as (
      select q, cast((q * n_events + 99) // 100 as bigint) as kth, n_events
      from qs cross join n
    ),
    exact as (
      select k.q, k.n_events, min(cum.c) as exact_cents
      from k join cum on cum.cum >= k.kth
      group by k.q, k.n_events
    )
    select q, cast(n_events as bigint) as n_events,
           cast(cast(1 as bigint) << (length(bin(exact_cents)) - 1) as bigint) as est_cents,
           cast(exact_cents as bigint) as exact_cents,
           ((cast(1 as bigint) << (length(bin(exact_cents)) - 1)) <= exact_cents
            and exact_cents < (cast(1 as bigint) << length(bin(exact_cents)))) as within_bound
    from exact
    """,
    tags=("agg", "sketch", "evidence"),
)
def error_log_quantile(spark: SparkSession, sf: str) -> DataFrame:
    """For each target quantile: the histogram's estimate (the bucket
    lower bound the cumulative counts select), the exact quantile, and
    the measured guarantee est <= exact < 2*est. The estimate is
    derived from the exact value's own bucket — precisely what reading
    the log-histogram returns, since the k-th value's bucket IS the
    first bucket whose cumulative count reaches k.

    100 TB shape: the exact side is collapsed-key (group by cents —
    bounded domain — then a cumulative over the collapsed spine); the
    sketch side is the 64-counter histogram. Nothing row-mass sorts.
    """
    from pyspark.sql import Window

    cents = (
        t(spark, sf, "events")
        .where(F.col("value") > 0)
        .select(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"))
        .where(F.col("c") >= 1)  # sub-cent values round to c=0: no bucket
    )
    n = cents.agg(F.count(F.lit(1)).alias("n_events"))
    byc = cents.groupBy("c").agg(F.count(F.lit(1)).alias("cnt"))
    cum = byc.select(
        "c",
        F.sum("cnt")
        .over(Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    qs = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in _LOGQ_QS])).alias("q")
    )
    k = qs.crossJoin(F.broadcast(n)).select(
        "q",
        F.expr("cast((q * n_events + 99) div 100 as bigint)").alias("kth"),
        "n_events",
    )
    exact = (
        k.join(cum, cum["cum"] >= k["kth"])
        .groupBy("q", "n_events")
        .agg(F.min("c").alias("exact_cents"))
    )
    est = F.expr("shiftleft(cast(1 as bigint), length(bin(exact_cents)) - 1)")
    hi = F.expr("shiftleft(cast(1 as bigint), length(bin(exact_cents)))")
    return exact.select(
        "q",
        F.col("n_events").cast("long").alias("n_events"),
        est.alias("est_cents"),
        F.col("exact_cents").cast("long").alias("exact_cents"),
        ((est <= F.col("exact_cents")) & (F.col("exact_cents") < hi)).alias("within_bound"),
    )


@query(
    "recall_sim_knn_graph",
    oracle="""
    select cast(5 * count(*) as bigint) as n_exact,
           true as overlap_ok
    from embeddings where vec_id % 20 = 0
    """,
    tags=("vector", "lsh", "knn", "evidence"),
)
def recall_sim_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Mean overlap@5 of the LSH-blocked k-NN graph vs exact top-5 for
    a deterministic 5% query sample (vec_id % 20 == 0), gated at
    >= 0.75 (measured 0.86-0.89 across check SFs and x10). The exact
    side is a sample x corpus Arrow-cosine pass — linear in the
    corpus, never all-pairs."""
    k = vector._KNN_K
    e = t(spark, sf, "embeddings")
    sided = e.select("vec_id", "embedding", vector.norm(F.col("embedding")).alias("nrm"))
    q = (
        sided.where(F.col("vec_id") % 20 == 0)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col("vec_id").alias("src"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    cos = vector.pair_cos_arrow()(
        F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(F.col("c").desc(), F.col("vec_id"))
    exact = (
        q.crossJoin(sided.select("vec_id", "embedding", "nrm"))
        .where(F.col("vec_id") != F.col("src"))
        .select("src", "vec_id", cos.alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("src", F.col("vec_id").alias("dst"))
    )
    approx = vector.sim_knn_graph(spark, sf).select(
        F.col("src").alias("a_src"), F.col("dst").alias("a_dst")
    )
    hit = F.sum(F.when(F.col("a_src").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return exact.join(
        approx,
        (F.col("src") == F.col("a_src")) & (F.col("dst") == F.col("a_dst")),
        "left",
    ).agg(n.cast("long").alias("n_exact"), _gate(hit, n, 0.75).alias("overlap_ok"))


def _error_dp_oracle() -> str:
    """Built from curation._dp_sql so the noise spelling (hash key
    format, _DP_SEED) has exactly ONE source of truth — a seed or
    key-format change updates both DP oracles together instead of
    silently leaving this one stale."""
    from parquet_processor_spark.ops.curation import _dp_sql

    return f"""
    with g as (
      select c_mktsegment as qi_segment, c_nationkey as qi_nation,
             cast(count(*) as bigint) as n
      from customer group by 1, 2
    ),
    m as (
      select n,
             cast(greatest(n + {_dp_sql('1')} - {_dp_sql('2')}, 0) as bigint) as dp_n
      from g
    )
    select cast(count(*) as bigint) as n_groups,
           cast(max(abs(dp_n - n)) as bigint) as max_abs_err,
           cast(sum(abs(dp_n - n)) as bigint) as total_abs_err,
           max(abs(dp_n - n)) <= 20 as error_bounded
    from m
    """


@query(
    "error_dp_counts",
    oracle=_error_dp_oracle(),
    tags=("curation", "privacy", "dp", "evidence"),
)
def error_dp_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Utility evidence for the DP count release: the realized noise
    magnitude per QI group, gated at max |dp_n - n| <= 20 (the
    two-sided Geometric(1/2) tail puts P(|noise| > 12) ~ 2^-12 per
    group — 20 leaves seed-regeneration margin). This is the
    accuracy-side bookkeeping a DP release ships next to its epsilon:
    the privacy parameter alone says nothing about usefulness."""
    from parquet_processor_spark.ops import curation

    c = t(spark, sf, "customer")
    g = c.groupBy(
        F.col("c_mktsegment").alias("qi_segment"),
        F.col("c_nationkey").alias("qi_nation"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    parts = [F.col("qi_segment"), F.col("qi_nation").cast("string")]
    noise = curation._dp_tz(curation._dp_hash60(parts, "1")) - curation._dp_tz(
        curation._dp_hash60(parts, "2")
    )
    m = g.select("n", F.greatest(F.col("n") + noise, F.lit(0)).cast("long").alias("dp_n"))
    err = F.abs(F.col("dp_n") - F.col("n"))
    return m.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.max(err).cast("long").alias("max_abs_err"),
        F.sum(err).cast("long").alias("total_abs_err"),
        (F.max(err) <= 20).alias("error_bounded"),
    )


# Bootstrap-CI sanity gate: the percentile-bootstrap interval's width
# must agree with the closed-form normal-theory width 2*1.96*s/sqrt(n)
# to within a generous band — the check that catches a seed/weight bug
# collapsing (or exploding) the replicate variance while every
# individual replicate still computes. IEEE sqrt is correctly rounded,
# and the width/ratio formulas are ONE shared text parsed by both
# engines (the agg_regression_multi recipe), so the gate hash-checks
# end to end — no `true`-literal verdict columns.
_BOOT_THEORY = (
    "(2 * 1.96 * sqrt((cast(n2 as double) * ss2 - cast(sx2 as double) * sx2)"
    " / nullif(cast(n2 as double) * n2 * (n2 - 1) * 10000.0, 0.0)))"
)
# nullif on both denominators: n2<=1 zeroes the variance divisor, and a
# constant-value corpus zeroes the theory width itself (n*ss - sx^2
# cancels exactly in integer-derived doubles) — either case must yield
# NULL in BOTH engines, not an ANSI divide-by-zero on the Spark side.
_BOOT_RATIO = f"((ci_hi - ci_lo) / nullif({_BOOT_THEORY}, 0.0))"
_BOOT_OK = f"({_BOOT_RATIO} between 0.4 and 2.5)"


def _error_bootstrap_oracle() -> str:
    from parquet_processor_spark.ops.aggregates import _boot_oracle

    return f"""
    with boot as (
      select * from ( {_boot_oracle()} )
    ),
    mom as (
      select cast(count(*) as bigint) as n2,
             cast(sum(cents) as bigint) as sx2,
             cast(sum(cents * cents) as bigint) as ss2
      from (select cast(floor(value * 100 + 0.5) as bigint) as cents
            from events where event_type = 'purchase' and value is not null)
    )
    select n, ci_lo, ci_hi,
           (ci_hi - ci_lo) as width_boot,
           {_BOOT_THEORY} as width_theory,
           {_BOOT_RATIO} as width_ratio,
           {_BOOT_OK} as width_ok
    from boot, mom
    """


@query(
    "error_bootstrap_ci",
    oracle=_error_bootstrap_oracle(),
    tags=("agg", "stats", "bootstrap", "evidence"),
)
def error_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Evidence gate for agg_bootstrap_ci: the B=32 percentile interval
    width vs the normal-theory width from exact variance moments —
    ratio must sit in [0.4, 2.5] (the k=2/31 order statistics span a
    ~94% central interval, so the expected ratio is just under 1; the
    band is wide because 32 replicates put real sampling noise on the
    order statistics).

    100 TB shape: the moment side is one map-side-combined 1-row
    aggregate over the same scan the bootstrap reads; the comparison
    is scalar arithmetic on two 1-row frames crossJoined broadcast.
    Every input to the verdict is exact-integer-derived, and sqrt is
    IEEE correctly-rounded, so the verdict row hash-checks — this
    gate has no hardcoded-true columns.
    """
    from parquet_processor_spark.ops.aggregates import agg_bootstrap_ci

    boot = agg_bootstrap_ci(spark, sf).select("n", "ci_lo", "ci_hi")
    mom = (
        t(spark, sf, "events")
        .where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n2"),
            F.sum("cents").cast("long").alias("sx2"),
            F.sum(F.col("cents") * F.col("cents")).cast("long").alias("ss2"),
        )
    )
    return boot.crossJoin(F.broadcast(mom)).select(
        "n",
        "ci_lo",
        "ci_hi",
        (F.col("ci_hi") - F.col("ci_lo")).alias("width_boot"),
        F.expr(_BOOT_THEORY).alias("width_theory"),
        F.expr(_BOOT_RATIO).alias("width_ratio"),
        F.expr(_BOOT_OK).alias("width_ok"),
    )


@query(
    "recall_sim_topk_lsh_multiprobe",
    oracle=(
        "select count(*) as n_brute, true as overlap_ok, true as dominates_ok "
        f"from ({_ORACLES['sim_topk']})"
    ),
    tags=("vector", "lsh", "multiprobe", "evidence"),
)
def recall_sim_topk_lsh_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 overlap of multiprobe LSH vs brute-force cosine, PLUS the
    dominance fact that makes multiprobe worth shipping: its candidate
    set is a superset of single-probe's by construction, so its overlap
    may never be lower. Gates: overlap >= 0.8 (the single-probe bar)
    and overlap(multiprobe) >= overlap(single-probe)."""
    brute = vector.sim_topk(spark, sf).select("vec_id")
    multi = vector.sim_topk_lsh_multiprobe(spark, sf).select(F.col("vec_id").alias("m_id"))
    single = vector.sim_topk_lsh(spark, sf).select(F.col("vec_id").alias("s_id"))
    j = brute.join(multi, F.col("vec_id") == F.col("m_id"), "left").join(
        single, F.col("vec_id") == F.col("s_id"), "left"
    )
    hit_m = F.sum(F.when(F.col("m_id").isNotNull(), 1).otherwise(0))
    hit_s = F.sum(F.when(F.col("s_id").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return j.agg(
        n.alias("n_brute"),
        _gate(hit_m, n, 0.8).alias("overlap_ok"),
        (hit_m >= hit_s).alias("dominates_ok"),
    )


@query(
    "recall_join_set_similarity_verify",
    oracle=(
        "select count(*) as n_true_pairs, true as recall_ok "
        f"from ({_ORACLES['join_set_similarity']})"
    ),
    tags=("join", "similarity", "lsh", "evidence"),
)
def recall_join_set_similarity_verify(spark: SparkSession, sf: str) -> DataFrame:
    """N222's error gate: the bounded verify operator's recall against
    the EXACT prefix-filtered set-similarity join (N205) — the
    fraction of true Jaccard >= 1/2 pairs whose candidates survive
    the df-capped MinHash banding (>= 0.6 gate; at J >= 0.5 the
    b=6/r=2 banding gives >= 0.97 expected recall, and verified pairs
    are exact, so precision is 1.0 by construction — only recall
    needs measuring)."""
    truth = dedup.join_set_similarity(spark, sf).select("doc_a", "doc_b")
    got = dedup.join_set_similarity_verify(spark, sf).select(
        F.col("doc_a").alias("ca"), F.col("doc_b").alias("cb")
    )
    hit = F.sum(F.when(F.col("ca").isNotNull(), 1).otherwise(0))
    n = F.count(F.lit(1))
    return truth.join(
        got, (F.col("doc_a") == F.col("ca")) & (F.col("doc_b") == F.col("cb")), "left"
    ).agg(n.alias("n_true_pairs"), _gate(hit, n, 0.6).alias("recall_ok"))

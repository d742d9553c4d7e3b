"""Sampling & batching for training-data pipelines (SURVEY.md §2.13).

The operations a pretraining pipeline runs between curation and
tokenization: deterministic subsampling, stratified per-source
sampling, hash-based train/test splitting, and token-budget sequence
packing. All deterministic (md5-keyed, never ``rand()``) so runs are
reproducible and re-runs of a 100 TB job select identical rows — and
so the DuckDB oracle can check them bitwise.

Scale notes:
- hash sampling / splitting are pure narrow filters — no shuffle, scan
  parallelism preserved, and the md5 evaluates inside whole-stage
  codegen next to the parquet reader.
- stratified sampling and packing use windows PARTITIONED BY a real
  key (``lang``): one hash shuffle on the stratum key, never a global
  single-partition sort. At 100 TB you'd sub-salt giant strata
  (lang → lang,salt) the same way join_skew_salted does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_processor_spark.ops.vector import _DOT_SQL, _NORM_A_SQL, _NORM_B_SQL
from parquet_processor_spark.registry import query
from parquet_processor_spark.tables import t

# First hex nibble of md5(doc_id) — a uniform 16-bucket assignment that
# is identical in Spark and DuckDB (md5 of the decimal string).
_NIBBLE_SQL = "substr(md5(cast(doc_id as varchar)), 1, 1)"


def _nibble() -> F.Column:
    return F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)


# Deterministic ~3/16 subsample: the reproducible "take a slice of the
# corpus" pass (canary runs, ablation subsets). Pure filter — no
# shuffle, no rand(), stable across retries and cluster sizes.
@query(
    "sample_hash",
    oracle=f"""
    select doc_id, lang, n_chars
    from documents
    where {_NIBBLE_SQL} in ('0', '1', '2')
    """,
    tags=("sampling",),
)
def sample_hash(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "documents")
        .where(_nibble().isin("0", "1", "2"))
        .select("doc_id", "lang", "n_chars")
    )


# Stratified sample: first n docs per stratum in hash order — i.e. a
# uniform per-language quota (data-mixing rebalance). One shuffle on
# the stratum key; hash order makes the quota a true random-but-stable
# sample rather than "lowest doc_ids win".
_STRATUM_N = 20


@query(
    "sample_stratified",
    oracle=f"""
    select doc_id, lang, rk from (
      select doc_id, lang,
             row_number() over (
               partition by lang
               order by md5(cast(doc_id as varchar)), doc_id) as rk
      from documents)
    where rk <= {_STRATUM_N}
    """,
    tags=("sampling", "window"),
)
def sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        t(spark, sf, "documents")
        .select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= _STRATUM_N)
    )


# Hash train/test split: 13/16 train, 3/16 test. Assignment, not
# filter — both splits come out of one scan, and membership is a pure
# function of doc_id (new data lands in the same split forever, the
# property rand()-splits lose on reprocessing).
@query(
    "split_train_test",
    oracle=f"""
    select doc_id, lang,
           case when {_NIBBLE_SQL} in
                ('0','1','2','3','4','5','6','7','8','9','a','b','c')
                then 'train' else 'test' end as split
    from documents
    """,
    tags=("sampling",),
)
def split_train_test(spark: SparkSession, sf: str) -> DataFrame:
    train = _nibble().isin(*"0123456789abc")
    return t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        F.when(train, "train").otherwise("test").alias("split"),
    )


# Weighted data mixing: per-source sampling rates (the "mix 50% src0,
# 25% src1, 12.5% of the rest" rebalance before training). The rate is
# a per-source nibble threshold on the same md5 key — still a pure
# narrow filter, no shuffle, and each source's kept set is stable as
# other sources' weights change (rates only move the threshold).
@query(
    "sample_weighted_mix",
    oracle=f"""
    select doc_id, source, lang
    from documents
    where {_NIBBLE_SQL} < case source
            when 'src0' then '8'
            when 'src1' then '4'
            else '2' end
    """,
    tags=("sampling",),
)
def sample_weighted_mix(spark: SparkSession, sf: str) -> DataFrame:
    threshold = (
        F.when(F.col("source") == "src0", "8")
        .when(F.col("source") == "src1", "4")
        .otherwise("2")
    )
    return (
        t(spark, sf, "documents")
        .where(_nibble() < threshold)
        .select("doc_id", "source", "lang")
    )


# Quantile-threshold filter: keep docs above the corpus median length —
# the "drop the bottom half by quality proxy" cutoff. Two passes, both
# cheap at scale: an exact-percentile aggregate reduced to one row,
# then broadcast back against the full scan (BroadcastNestedLoopJoin on
# a 1-row side ≈ free) — never a global sort or a driver collect.
@query(
    "filter_by_quantile",
    oracle="""
    select doc_id, lang, n_chars
    from documents
    where n_chars > (select quantile_cont(n_chars, 0.5) from documents)
    """,
    tags=("sampling", "text"),
)
def filter_by_quantile(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents")
    med = d.agg(F.expr("percentile(n_chars, 0.5)").alias("med"))
    return (
        d.join(F.broadcast(med))
        .where(F.col("n_chars") > F.col("med"))
        .select("doc_id", "lang", "n_chars")
    )


# Token-budget sequence packing: assign docs to fixed-budget bins by
# running token count — the batching step before tokenization. The
# running sum is per-stratum (partitionBy lang), so the window shuffle
# is keyed and parallel; bin boundaries are deterministic given the
# (lang, doc_id) order. floor(exclusive-cumsum / budget) packs greedily:
# a doc straddling a boundary starts the next bin.
_PACK_BUDGET = 2048


@query(
    "pack_sequences",
    oracle=f"""
    select doc_id, lang, n_tokens,
           cast(floor(coalesce(sum(n_tokens) over (
                  partition by lang order by doc_id
                  rows between unbounded preceding and 1 preceding), 0)
                / {_PACK_BUDGET}) as bigint) as bin_id
    from (
      select doc_id, lang,
             len(regexp_split_to_array(text, '\\s+')) as n_tokens
      from documents)
    """,
    tags=("sampling", "window", "text"),
)
def pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents").select(
        "doc_id", "lang", F.size(F.split("text", r"\s+")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return d.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(cum_before / _PACK_BUDGET).alias("bin_id"),
    )


# Temperature-scaled mixing (alpha = 0.5) over the LANGUAGE strata:
# downsample each language at rate sqrt(n_l)/sqrt(n_max), flattening
# the language distribution the way temperature-based mixing does for
# LLM training corpora (the doc languages are the skewed stratum in
# this corpus; sources are uniform). Unlike sample_weighted_mix's
# fixed literal rates, the rates here are DERIVED FROM THE DATA, and
# selection stays a pure function of the doc key.
_TEMP_SCALE = float(1 << 52)


@query(
    "sample_temperature_mix",
    oracle=f"""
    with counts as (
      select lang, count(*) as n from documents group by lang
    ),
    rates as (
      select lang,
             cast(floor(sqrt(cast(n as double))
                        / sqrt((select max(cast(n as double)) from counts))
                        * {_TEMP_SCALE}) as bigint) as thr
      from counts
    )
    select d.doc_id, d.source, d.lang
    from documents d join rates r on d.lang = r.lang
    where ('0x' || substr(md5(cast(d.doc_id as varchar)), 1, 13))::bigint < r.thr
    """,
    tags=("sampling", "mixing"),
)
def sample_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic temperature (alpha=0.5) language rebalance.

    100 TB shape: per-language counts are one map-side-combined
    aggregate (a handful of rows); the max is a 1-row broadcast onto
    them; the resulting (lang, threshold) table broadcasts onto the
    scan, so selection is a codegen filter beside the parquet reader —
    zero shuffles of the corpus. Selection u(doc) = first 13 md5
    nibbles of the key as a 52-bit integer, compared against
    floor(rate * 2^52): u is uniform, reproducible under retries, and
    stable as the corpus grows (a kept doc stays kept unless its
    language's rate changes). sqrt and one divide are correctly-
    rounded IEEE ops, so thresholds are bit-identical across engines.
    The majority language keeps everything (rate 1.0); minority
    languages keep sqrt(n_l/n_max) — the alpha=0.5 flattening.
    """
    d = t(spark, sf, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    m = counts.agg(F.max(F.col("n").cast("double")).alias("n_max"))
    rates = (
        counts.crossJoin(F.broadcast(m))
        .select(
            "lang",
            F.floor(
                F.sqrt(F.col("n").cast("double")) / F.sqrt(F.col("n_max")) * F.lit(_TEMP_SCALE)
            ).cast("bigint").alias("thr"),
        )
    )
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast("bigint")
    return (
        d.join(F.broadcast(rates), "lang")
        .where(u < F.col("thr"))
        .select("doc_id", "source", "lang")
    )


# Budget-constrained corpus mix: allocate a global character budget
# across languages by alpha=0.5 temperature weights, then fill each
# language's budget greedily in deterministic hash order — the "build
# the training mixture to a token budget" capstone of the sampling
# family (rates say HOW MUCH of each stratum; this says WHICH rows,
# to a hard budget).
_MIX_BUDGET = 100_000  # characters


@query(
    "sample_budget_mix",
    oracle=f"""
    with lt as (
      select lang, cast(sum(n_chars) as bigint) as chars
      from documents group by lang
    ),
    w as (
      select lang, cast(sqrt(cast(chars as double)) as bigint) as wt from lt
    ),
    budgets as (
      select lang, ({_MIX_BUDGET} * wt) // (select sum(wt) from w) as budget
      from w
    ),
    ordered as (
      select d.doc_id, d.lang, d.n_chars,
             sum(d.n_chars) over (
               partition by d.lang
               order by md5(cast(d.doc_id as varchar)), d.doc_id
               rows between unbounded preceding and current row
             ) as cum_chars,
             b.budget
      from documents d join budgets b on d.lang = b.lang
    )
    select doc_id, lang, cast(n_chars as bigint) as n_chars,
           cast(cum_chars as bigint) as cum_chars
    from ordered where cum_chars <= budget
    """,
    tags=("sampling", "mixing", "budget"),
)
def sample_budget_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Documents selected per language up to its share of a global
    _MIX_BUDGET-character budget (alpha=0.5 weights), greedy in hash order.

    100 TB shape: language totals are one map-side-combined aggregate
    (|langs| rows); weights/budgets are integer arithmetic on that
    tiny table (sqrt of an integer-valued double is correctly rounded
    IEEE — identical on both engines — and everything after is bigint,
    so no order-dependent float accumulation anywhere); the fill is
    ONE per-language window cumsum in deterministic (md5, id) order
    with the budget as a broadcast join — the same keyed-window shape
    as pack_sequences, so state stays sharded by stratum. Selection is
    stable: a document's rank never changes as other languages grow.
    """
    d = t(spark, sf, "documents")
    lt = d.groupBy("lang").agg(F.sum("n_chars").cast("long").alias("chars"))
    w = lt.select("lang", F.sqrt(F.col("chars").cast("double")).cast("long").alias("wt"))
    denom = w.agg(F.sum("wt").alias("denom"))
    budgets = (
        w.crossJoin(F.broadcast(denom))
        .select("lang", F.expr(f"({_MIX_BUDGET} * wt) div denom").alias("budget"))
    )
    win = (
        Window.partitionBy("lang")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(F.broadcast(budgets), "lang")
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.sum("n_chars").over(win).cast("long").alias("cum_chars"),
            "budget",
        )
        .where(F.col("cum_chars") <= F.col("budget"))
        .select("doc_id", "lang", "n_chars", "cum_chars")
    )


# Negative-pair mining for contrastive training data: each anchor doc
# gets K deterministic pseudo-random partners (hash of (id, slot) mod
# the id range), validated against the corpus by one semi join —
# never a cross join, never an RNG. The same shape mines negatives
# for embedding training at any corpus size.
_NEG_K = 2


@query(
    "sample_negative_pairs",
    oracle=f"""
    with ids as (select doc_id from documents),
    nn as (select max(doc_id) + 1 as n from documents),
    cand as (
      select i.doc_id, s.j,
             (('0x' || substr(md5(i.doc_id || ':' || s.j), 1, 13))::bigint
               % (select n from nn)) as neg_id
      from ids i, unnest(generate_series(0, {_NEG_K - 1})) as s(j)
    )
    select c.doc_id, cast(c.j as bigint) as j, c.neg_id
    from cand c semi join ids p on c.neg_id = p.doc_id
    where c.neg_id <> c.doc_id
    """,
    tags=("sampling", "vector", "pairs"),
)
def sample_negative_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """K deterministic negative partners per anchor document
    (contrastive-pairs generator): partner id = md5(id:slot) folded to
    52 bits, mod the id range; self-pairs dropped; ids that miss a
    real document drop out via the existence join (with dense ids —
    how a training corpus is usually materialized — nothing misses).

    100 TB shape: candidate generation is a narrow map (K rows per
    anchor, no shuffle); the only exchange is the existence semi join
    on the partner id — and when ids are dense 0..N-1 even that
    collapses to a range filter. Determinism makes the pairing
    reproducible across runs and resumable mid-corpus, the properties
    an RNG-based sampler loses on retry.
    """
    d = t(spark, sf, "documents").select("doc_id")
    nn = d.agg((F.max("doc_id") + 1).alias("n"))
    cand = (
        d.crossJoin(F.broadcast(nn))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(_NEG_K - 1))).alias("j"),
            "n",
        )
        .select(
            "doc_id",
            F.col("j").cast("long").alias("j"),
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("j"))), 1, 13
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("n")
            ).alias("neg_id"),
        )
        .where(F.col("neg_id") != F.col("doc_id"))
    )
    partners = d.select(F.col("doc_id").alias("neg_id"))
    return cand.join(partners, "neg_id", "left_semi").select("doc_id", "j", "neg_id")


# Leakage-safe train/test split + duplicate down-weighting: the two
# split-hygiene passes a pretraining pipeline runs AFTER near-dup
# clustering. A doc-keyed hash split (split_train_test) puts near-
# duplicate documents on opposite sides of the split — the test set
# then "contains" paraphrases of training docs and eval scores are
# contaminated. Keying the split hash by the dedup CLUSTER id instead
# guarantees every near-dup cluster lands whole on one side.
def _cc_labels_oracle() -> str:
    from parquet_processor_spark.registry import _ORACLES

    return _ORACLES["dedup_connected"]


def _cluster_nibble_sql() -> str:
    return "substr(md5(cast(cluster_id as varchar)), 1, 1)"


@query(
    "split_leakage_safe",
    oracle=f"""
    with labels as ( {_cc_labels_oracle()} )
    select doc_id, cluster_id,
           case when {_cluster_nibble_sql()} in
                ('0','1','2','3','4','5','6','7','8','9','a','b','c')
                then 'train' else 'test' end as split
    from labels
    """,
    tags=("sampling", "dedup", "graph"),
)
def split_leakage_safe(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-aware 13/16-train hash split: the split key is the
    transitive-closure dedup cluster id (:func:`...ops.dedup.
    dedup_connected`), so two near-duplicate documents can never
    straddle the train/test boundary — the contamination mode a plain
    per-doc hash split (:func:`split_train_test`) cannot prevent.

    100 TB shape: the closure labels are the expensive part and are
    computed anyway by the dedup pass (here the iteration runs only
    over the dup-graph nodes, singletons label themselves via one
    left join); the split assignment itself is a narrow md5 projection
    on the label column — no additional shuffle, stable under corpus
    growth (a cluster keeps its side forever unless its minimum
    member changes).
    """
    from parquet_processor_spark.ops import dedup

    labels = dedup.dedup_connected(spark, sf).select("doc_id", "cluster_id")
    nib = F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 1)
    return labels.select(
        "doc_id",
        "cluster_id",
        F.when(nib.isin(*"0123456789abc"), "train").otherwise("test").alias("split"),
    )


@query(
    "sample_downweight_dups",
    oracle=f"""
    with labels as ( {_cc_labels_oracle()} ),
    sizes as (
      select cluster_id, cast(count(*) as bigint) as cluster_size
      from labels group by cluster_id
    )
    select l.doc_id, l.cluster_id, s.cluster_size,
           cast(1.0 as double) / s.cluster_size as weight
    from labels l join sizes s on l.cluster_id = s.cluster_id
    """,
    tags=("sampling", "dedup", "graph"),
)
def sample_downweight_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Soft dedup: keep every document but weight it 1/cluster_size so
    each near-dup cluster contributes one document's worth of training
    mass — the standard alternative to hard keep-one dedup when the
    duplicates carry distribution signal (repeated docs ARE more
    important, just not linearly so).

    100 TB shape: cluster sizes are one map-side-combined count on the
    label table (two longs per row), and the size join back is
    cluster-keyed — co-partitioned with the agg output, so AQE plans
    it shuffle-free on the already-exchanged side; the corpus itself
    is never re-shuffled. The weight is a single IEEE division
    (1.0/bigint), bitwise identical across engines.
    """
    from parquet_processor_spark.ops import dedup

    labels = dedup.dedup_connected(spark, sf).select("doc_id", "cluster_id")
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labels.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.lit(1.0) / F.col("cluster_size")).alias("weight"),
    )


# End-to-end curation manifest: the single artifact a pretraining run
# consumes — per document: its near-dup cluster, soft-dedup weight,
# leakage-safe split side, keep-one canonical flag, quality gate, and
# the final selection bit. Composes N17 (closure) + N24 (keep-best) +
# N71 (cluster split) + N72 (down-weight) + the quantile quality
# cutoff in ONE plan with the closure computed ONCE (each piece is
# individually oracle-checked; this query proves the composition).
@query(
    "pipeline_curate_corpus",
    oracle=f"""
    with labels as ( {_cc_labels_oracle()} ),
    enriched as (
      select l.doc_id, l.cluster_id, d.n_chars
      from labels l join documents d on l.doc_id = d.doc_id
    ),
    ranked as (
      select doc_id, cluster_id, n_chars,
             row_number() over (partition by cluster_id
                                order by n_chars desc, doc_id) as rk,
             cast(count(*) over (partition by cluster_id) as bigint) as cluster_size
      from enriched
    ),
    keep as (select cluster_id, doc_id as keep_id from ranked where rk = 1),
    q as (select quantile_cont(n_chars, 0.25) as q25 from documents)
    select r.doc_id, r.cluster_id, r.cluster_size,
           cast(1.0 as double) / r.cluster_size as weight,
           case when {_cluster_nibble_sql().replace('cluster_id', 'r.cluster_id')} in
                ('0','1','2','3','4','5','6','7','8','9','a','b','c')
                then 'train' else 'test' end as split,
           k.keep_id,
           (r.doc_id = k.keep_id) as is_kept,
           (r.n_chars >= q.q25) as quality_ok,
           ((r.doc_id = k.keep_id) and r.n_chars >= q.q25) as selected
    from ranked r join keep k on r.cluster_id = k.cluster_id, q
    """,
    tags=("sampling", "dedup", "curation", "pipeline"),
)
def pipeline_curate_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The full curation pipeline as one query: closure labels →
    (cluster size, keep-best canonical, 1/size weight, cluster-keyed
    split) → quality cutoff (n_chars ≥ corpus p25) → final selection.

    100 TB shape: the expensive closure runs ONCE and everything else
    is keyed on its outputs — one cluster-keyed aggregate computes
    size AND the keep-best argmax together (map-side combined), joins
    back co-partitioned; the quality threshold is a 1-row broadcast;
    the split/weight columns are narrow projections. Integer-valued
    n_chars keeps the p25 interpolation bitwise cross-engine
    (numeric.py policy). This is the plan a real corpus-prep job
    submits nightly — the per-operator queries are its unit tests.
    """
    from parquet_processor_spark.ops import dedup

    labels = dedup.dedup_connected(spark, sf).select("doc_id", "cluster_id")
    docs = t(spark, sf, "documents").select("doc_id", "n_chars")
    enriched = labels.join(docs, "doc_id")
    agg = enriched.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max_by(
            "doc_id", F.struct(F.col("n_chars").alias("q"), (-F.col("doc_id")).alias("t"))
        ).alias("keep_id"),
    )
    q25 = docs.agg(F.expr("percentile(n_chars, 0.25)").alias("q25"))
    nib = F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 1)
    return (
        enriched.join(agg, "cluster_id")
        .crossJoin(F.broadcast(q25))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.lit(1.0) / F.col("cluster_size")).alias("weight"),
            F.when(nib.isin(*"0123456789abc"), "train").otherwise("test").alias("split"),
            "keep_id",
            (F.col("doc_id") == F.col("keep_id")).alias("is_kept"),
            (F.col("n_chars") >= F.col("q25")).alias("quality_ok"),
            (
                (F.col("doc_id") == F.col("keep_id")) & (F.col("n_chars") >= F.col("q25"))
            ).alias("selected"),
        )
    )


# DSIR-style importance selection (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): score every doc by
# the likelihood ratio of its tokens under a TARGET distribution (a
# small seed corpus defining the desired domain) vs the raw-corpus
# distribution, keep docs whose ratio clears 1. The published recipe
# uses hashed-ngram log-ratios; this twin keeps the estimator in
# integer space — per-doc token-count sums against each distribution,
# cross-multiplied exactly — so selection is a bigint comparison and
# the emitted double score is one IEEE division, bitwise cross-engine.
# Seed here: docs mentioning 'vector' (a topic slice with a genuinely
# shifted unigram distribution in the fixture).
_DSIR_SEED_TOKEN = "vector"


@query(
    "sample_importance_dsir",
    oracle=rf"""
    with tok as (
      select doc_id, tok from (
        select doc_id, unnest(regexp_split_to_array(text, '\s+')) as tok
        from documents
      ) where tok <> ''
    ),
    seed as (
      select doc_id from documents
      where list_contains(regexp_split_to_array(text, '\s+'), '{_DSIR_SEED_TOKEN}')
    ),
    corpus_cnt as (select tok, count(*) as c_all from tok group by tok),
    target_cnt as (
      select tok, count(*) as c_tgt
      from tok join seed using (doc_id) group by tok
    ),
    totals as (
      select (select sum(c_all) from corpus_cnt) as n_all,
             (select sum(c_tgt) from target_cnt) as n_tgt
    ),
    per_doc as (
      select t.doc_id,
             cast(sum(coalesce(tc.c_tgt, 0)) as bigint) as tgt_mass,
             cast(sum(cc.c_all) as bigint) as all_mass
      from tok t
      join corpus_cnt cc on t.tok = cc.tok
      left join target_cnt tc on t.tok = tc.tok
      group by t.doc_id
    )
    select d.doc_id,
           p.tgt_mass, p.all_mass,
           cast(p.tgt_mass * totals.n_all as double)
             / cast(p.all_mass * totals.n_tgt as double) as score,
           p.tgt_mass * totals.n_all >= p.all_mass * totals.n_tgt as selected
    from per_doc p join documents d using (doc_id)
    cross join totals
    """,
    tags=("sampling", "curation", "dsir"),
)
def sample_importance_dsir(spark: SparkSession, sf: str) -> DataFrame:
    """Importance-ratio data selection against a seed-topic target.

    100 TB shape: the corpus is tokenized ONCE, with seed membership
    computed INLINE beside the scan (array_contains — no corpus-mass
    doc_id join against a seed list); both unigram tables are
    vocab-sized map-side aggregates broadcast back onto the token
    stream, so the only corpus-mass shuffle is the per-doc sum (one
    doc-keyed aggregate with map-side combine). Selection and score
    stay in exact integer space until a single final division —
    products fit bigint up to ~2^53/corpus-mass, past which the same
    algebra rides decimal(38,0) unchanged.
    """
    d = t(spark, sf, "documents")
    words = F.split(F.col("text"), r"\s+")
    tok = d.select(
        "doc_id",
        F.array_contains(words, _DSIR_SEED_TOKEN).alias("is_seed"),
        F.explode(words).alias("tok"),
    ).where(F.col("tok") != "")
    # BOTH unigram tables in one map-side-combined pass (count +
    # conditional count share the aggregate), so the token stream is
    # materialized twice total: once for the vocab, once for the
    # per-doc sums.
    counts = tok.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.sum(F.when(F.col("is_seed"), 1).otherwise(0)).alias("c_tgt"),
    )
    totals = counts.agg(
        F.sum("c_all").alias("n_all"), F.sum("c_tgt").alias("n_tgt")
    )
    per_doc = (
        tok.join(F.broadcast(counts), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("c_tgt").cast("long").alias("tgt_mass"),
            F.sum("c_all").cast("long").alias("all_mass"),
        )
    )
    num = F.col("tgt_mass") * F.col("n_all")
    den = F.col("all_mass") * F.col("n_tgt")
    return (
        per_doc.join(d.select("doc_id"), "doc_id")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "tgt_mass",
            "all_mass",
            (num.cast("double") / den.cast("double")).alias("score"),
            (num >= den).alias("selected"),
        )
    )


# Greedy k-center coreset (Gonzalez 1985) — the data-PRUNING seed
# selection: pick K points so every point is close to some pick, by
# repeatedly taking the point FARTHEST from the chosen set (max-min).
# The 2-approximation behind coreset curation, diverse few-shot
# exemplar picking, and k-means++-style seeding at fixed fan-out.
# Distances are squared L2 computed by the vector family's sequential
# left fold, so every double is bit-identical across engines.
_KCENTER_K = 8


def _kcenter_d2_sql(pt: str, ct: str) -> str:
    """Squared-L2 DuckDB spelling between {pt}.embedding and
    {ct}.embedding — the _DOT_SQL fold discipline (ops/vector.py:25):
    sequential list_reduce from 0.0, elementwise cast BEFORE subtract."""
    return (
        f"list_reduce(list_prepend(cast(0 as double), "
        f"[(cast({pt}.embedding[i] as double) - cast({ct}.embedding[i] as double))"
        f" * (cast({pt}.embedding[i] as double) - cast({ct}.embedding[i] as double)) "
        f"for i in generate_series(1, len({pt}.embedding))]), (acc, v) -> acc + v)"
    )


def _kcenter_oracle() -> str:
    steps, outs = [], ["select 0 as round, vec_id, cast(0 as double) as radius_d2 from c0"]
    for r in range(1, _KCENTER_K):
        prev_m = f"m{r - 1}"
        steps.append(f"""
    c{r} as materialized (
      select vec_id, embedding, mind2 from {prev_m}
      where mind2 > 0 order by mind2 desc, vec_id asc limit 1
    ),
    m{r} as materialized (
      select m.vec_id, m.embedding,
             least(m.mind2, {_kcenter_d2_sql('m', f'c{r}')}) as mind2
      from {prev_m} m cross join c{r}
    )""")
        outs.append(f"select {r} as round, vec_id, mind2 as radius_d2 from c{r}")
    union = "\n      union all ".join(outs)
    return f"""
    with c0 as materialized (
      select vec_id, embedding from embeddings
      where vec_id = (select min(vec_id) from embeddings)
    ),
    m0 as materialized (
      select e.vec_id, e.embedding, {_kcenter_d2_sql('e', 'c0')} as mind2
      from embeddings e cross join c0
    ),
    {",".join(steps)}
    select cast(round as int) as round, vec_id, radius_d2
    from ({union})
    """


@query(
    "sample_coreset_kcenter",
    oracle=_kcenter_oracle(),
    tags=("sampling", "vector", "coreset", "iterative"),
)
def sample_coreset_kcenter(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy k-center picks over the embedding table: (round, vec_id,
    radius_d2) for _KCENTER_K centers, where radius_d2 is the
    max-min squared distance at selection time — round r's radius is
    the coverage guarantee after r centers (non-increasing, asserted
    in tests). Seed = lowest vec_id; ties on distance break to the
    lowest id; exact-duplicate points (mind2 == 0) are never picked,
    so a degenerate corpus yields fewer than K rows identically in
    both engines.

    100 TB shape: each round is ONE narrow map over the point set
    (update mind2 against a 1-row broadcast center) plus a global
    argmax (TakeOrdered — never a full sort); the point set with its
    running mind2 is localCheckpointed per round (the k-means/
    connected-components lineage discipline), so plan depth stays
    O(K) and nothing re-derives. K rounds of one-pass maps = the
    textbook scalable Gonzalez; the fold arithmetic is the vector
    family's sequential left fold (ops/vector.py:25), bit-identical
    in the DuckDB oracle's unrolled, MATERIALIZED CTEs.
    """
    e = t(spark, sf, "embeddings").select("vec_id", "embedding")
    seed_id = e.agg(F.min("vec_id").alias("sid"))
    c0 = (
        e.join(F.broadcast(seed_id), e["vec_id"] == F.col("sid"))
        .select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
        .localCheckpoint(eager=True)
    )

    def d2(a, b):
        return F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    m = (
        e.crossJoin(F.broadcast(c0))
        .select("vec_id", "embedding", d2(F.col("embedding"), F.col("c_emb")).alias("mind2"))
        .localCheckpoint(eager=True)
    )
    picks = c0.select(
        F.lit(0).cast("int").alias("round"),
        F.col("c_id").alias("vec_id"),
        F.lit(0.0).alias("radius_d2"),
    )
    for r in range(1, _KCENTER_K):
        c = (
            m.where(F.col("mind2") > 0)
            .orderBy(F.col("mind2").desc(), F.col("vec_id").asc())
            .limit(1)
            .select(
                F.col("vec_id").alias("c_id"),
                F.col("embedding").alias("c_emb"),
                F.col("mind2").alias("c_d2"),
            )
            .localCheckpoint(eager=True)
        )
        picks = picks.unionByName(
            c.select(
                F.lit(r).cast("int").alias("round"),
                F.col("c_id").alias("vec_id"),
                F.col("c_d2").alias("radius_d2"),
            )
        )
        m = (
            m.crossJoin(F.broadcast(c.select("c_emb")))
            .select(
                "vec_id",
                "embedding",
                F.least(F.col("mind2"), d2(F.col("embedding"), F.col("c_emb"))).alias("mind2"),
            )
            .localCheckpoint(eager=True)
        )
    return picks


# Hard-negative mining — the contrastive-training counterpart of
# sample_negative_pairs' RANDOM negatives: for each anchor, the
# nearest neighbors that carry a DIFFERENT label. Random negatives are
# mostly easy (far) and teach little; the highest-similarity
# cross-label points are exactly the pairs a dual encoder needs to
# separate (triplet/InfoNCE mining). Reuses the batched-retrieval
# plan with a label-inequality predicate.
_HARDNEG_Q = 5   # anchors: vec_ids 0..4
_HARDNEG_K = 3


@query(
    "sample_hard_negatives",
    oracle=f"""
    with scored as (
      select a.vec_id as anchor_id, a.label as anchor_label,
             b.vec_id, b.label,
             {_DOT_SQL} / ({_NORM_A_SQL} * {_NORM_B_SQL}) as cos_sim
      from (select vec_id, label, embedding from embeddings
            where vec_id < {_HARDNEG_Q}) a
      cross join (select vec_id, label, embedding from embeddings
                  where vec_id >= {_HARDNEG_Q}) b
      where a.label <> b.label
    )
    select anchor_id, anchor_label, vec_id, label, cos_sim, cast(rn as int) as rank
    from (select *, row_number() over (partition by anchor_id
                                       order by cos_sim desc, vec_id) as rn
          from scored)
    where rn <= {_HARDNEG_K}
    """,
    tags=("sampling", "vector", "contrastive"),
)
def sample_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Top-K hardest negatives per anchor (K=_HARDNEG_K): highest-cosine
    corpus points whose label differs from the anchor's.

    100 TB shape: identical to sim_topk_batch — anchors broadcast, one
    corpus pass scores everything map-side, the label filter runs
    beside the scan (no extra shuffle), and rank <= K plans as
    WindowGroupLimit so K rows per anchor per partition reach the
    exchange. At billion-vector scale the exact pass swaps for the
    IVF/nprobe shortlist (sim_topk_ivf_nprobe) with the same
    cross-label predicate applied to the shortlist.
    """
    from pyspark.sql import Window

    from parquet_processor_spark.ops.vector import norm, pair_cos_arrow

    e = t(spark, sf, "embeddings")
    # r14: norms once per side + Arrow pair scoring (guide §4.2; the
    # previous cosine() re-evaluated three interpreted folds per
    # (anchor, candidate) pair). Bit-exact by the pair_cos_arrow
    # contract — dot/(ne*na) is cosine()'s exact expression tree with
    # the norms evaluated once per row instead of once per pair.
    anchors = e.where(F.col("vec_id") < _HARDNEG_Q).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("a_emb"),
        norm(F.col("embedding")).alias("na"),
    )
    base = e.where(F.col("vec_id") >= _HARDNEG_Q).select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("ne")
    )
    scored = (
        base.crossJoin(F.broadcast(anchors))
        .where(F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            pair_cos_arrow()(
                F.col("embedding"), F.col("a_emb"), F.col("ne"), F.col("na")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _HARDNEG_K)
    )


# Curriculum sampling — data mixing keyed to a COMPUTED difficulty
# signal (the readability grade, N157) instead of a stored column:
# easy bands keep a larger share for the early-training mix, hard
# bands are thinned. Selection is the hash-percent discipline
# (sample_hash): membership is a pure function of doc_id, so the
# curriculum is stable under reprocessing and new data lands in the
# same slice forever. Shares step 80% -> 30% across difficulty,
# clamped so out-of-range grades (word salad can score negative or
# very high) still get a defined share.
_CURR_TAG = "curr"


def _curr_grade_sql() -> str:
    return """
      select doc_id,
             cast(floor(0.39 * (cast(n_words as double) / n_sentences)
                        + 11.8 * (cast(n_syllables as double) / n_words)
                        - 15.59) as int) as grade_band
      from (
        select doc_id,
               cast(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z]+')) as bigint)
                 as n_words,
               cast(greatest(len(regexp_extract_all(coalesce(text, ''), '[.!?]+')), 1)
                    as bigint) as n_sentences,
               cast(len(regexp_extract_all(lower(coalesce(text, '')), '[aeiouy]+'))
                    as bigint) as n_syllables
        from documents
      ) where n_words > 0
    """


@query(
    "sample_curriculum_mix",
    oracle=f"""
    with g as ({_curr_grade_sql()}),
    s as (
      select doc_id, grade_band,
             cast(80 - 10 * least(greatest(grade_band, 0), 5) as int) as share_pct,
             ('0x' || substr(md5(cast(doc_id as varchar) || ':{_CURR_TAG}'), 1, 15))::bigint
               % 100 as h
      from g
    )
    select doc_id, grade_band, share_pct, h < share_pct as selected
    from s
    """,
    tags=("sampling", "curriculum", "quality"),
)
def sample_curriculum_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Difficulty-keyed curriculum slice: per readability grade band,
    keep a hash-stable share stepping 80% (grade <= 0) down to 30%
    (grade >= 5). Wordless docs have no grade and are excluded — a
    curriculum needs a difficulty signal to place a doc at all.

    100 TB shape: the grade is three regexp counters beside the scan
    (N157) and selection is a pure doc_id-hash predicate — the whole
    operator is one shuffle-free codegen map (plan-asserted), the
    sample_hash discipline with a computed stratum. Rebalancing the
    curriculum means editing the share step, not re-shuffling data.
    """
    from parquet_processor_spark.ops.text import text_readability

    g = text_readability(spark, sf).where(F.col("n_words") > 0)
    share = (80 - 10 * F.least(F.greatest(F.col("grade_band"), F.lit(0)), F.lit(5))).cast("int")
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{_CURR_TAG}"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return g.select(
        "doc_id",
        "grade_band",
        share.alias("share_pct"),
        (h < F.col("share_pct")).alias("selected"),
    )


# Class-balanced resampling — the class-imbalance staple of training
# prep (downsample every class to the MINORITY class's size so the
# trained model can't win by majority-guessing): per language, keep
# the first min-class-count documents by deterministic md5 order.
# Distinct from sample_stratified's FIXED per-stratum quota: the quota
# here is DATA-DERIVED (the global minimum), so the output is exactly
# balanced whatever the input skew.
@query(
    "sample_class_balance",
    oracle="""
    with counts as (
      select lang, count(*) as n from documents group by lang
    ),
    m as (select cast(min(n) as bigint) as m from counts),
    ranked as (
      select doc_id, lang,
             cast(row_number() over (
               partition by lang
               order by md5(cast(doc_id as varchar)), doc_id) as bigint) as rk
      from documents
    )
    select r.doc_id, r.lang, r.rk
    from ranked r, m
    where r.rk <= m.m
    """,
    tags=("sampling", "balance", "curation"),
)
def sample_class_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Downsample every language class to the minority class's size:
    per-class deterministic md5-ordered ranks, quota = the global
    minimum class count (1-row broadcast). Output is exactly balanced
    regardless of input skew, and stable across runs/partitionings.

    100 TB shape: one map-side-combined count per class (a tiny
    broadcast), one per-class window that ships at most quota rows per
    task once Catalyst rewrites rank<=k to WindowGroupLimit-style
    partial limits; no shuffle touches the document payload — the
    selection is on the (doc_id, lang) spine.
    """
    from pyspark.sql import Window

    d = t(spark, sf, "documents").select("doc_id", "lang")
    m = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).agg(
        F.min("n").cast("long").alias("m")
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).cast("long").alias("rk"))
        .crossJoin(F.broadcast(m))
        .where(F.col("rk") <= F.col("m"))
        .select("doc_id", "lang", "rk")
    )


# Quality-bucketed epoch repetition (the FineWeb/RefinedWeb "repeat
# your best data" recipe; Muennighoff et al. 2023 show up to ~4
# epochs of high-quality data beats fresh low-quality tokens): assign
# each document an integer epoch count by quality tier, then emit one
# row per (doc, epoch) so the downstream shard writer sees repetition
# as ordinary rows. Tiers are literal n_chars thresholds (the corpus
# length quartiles), not a quantile pass — the production version
# swaps in any scored tier column.
_EPOCH_TIERS = ((400, 4), (250, 2))  # (min_n_chars, epochs); below all -> 1


def _epochs_col() -> F.Column:
    c = F.lit(1)
    for lo, ep in reversed(_EPOCH_TIERS):
        c = F.when(F.col("n_chars") >= lo, ep).otherwise(c)
    return c.cast("int")


@query(
    "sample_epoch_repeat",
    oracle=f"""
    with e as (
      select doc_id, lang,
             cast(case when n_chars >= {_EPOCH_TIERS[0][0]} then {_EPOCH_TIERS[0][1]}
                       when n_chars >= {_EPOCH_TIERS[1][0]} then {_EPOCH_TIERS[1][1]}
                       else 1 end as int) as epochs
      from documents
    )
    select doc_id, lang, epochs, cast(unnest(generate_series(1, epochs)) as int) as epoch
    from e
    """,
    tags=("sampling", "mixing", "epochs"),
)
def sample_epoch_repeat(spark: SparkSession, sf: str) -> DataFrame:
    """Epoch-repeat expansion: high-quality documents appear
    ``epochs`` times in the training stream (epoch index carried so
    shard shuffling can interleave repeats), low-tier documents once.

    100 TB shape: shuffle-free — the tier is a codegen CASE beside
    the scan and the repetition is a generator (explode of a
    constant-bounded sequence), so the plan is scan → project →
    generate with no exchange at all; output volume is the token
    budget the tiers encode (bounded by max-epochs × input). The
    repeated rows carry only the (doc_id, lang, epoch) spine — the
    shard writer joins payloads back by doc_id at write time, so
    document bytes are never duplicated through a shuffle.
    """
    return (
        t(spark, sf, "documents")
        .select("doc_id", "lang", _epochs_col().alias("epochs"))
        .select(
            "doc_id",
            "lang",
            "epochs",
            F.explode(F.sequence(F.lit(1).cast("int"), F.col("epochs"))).alias("epoch"),
        )
    )


# Concat-and-chunk packing — the GPT pretraining data layout: the
# corpus is one global token stream (docs concatenated in a
# deterministic order) cut into fixed-size training sequences, with
# documents crossing sequence boundaries split across them. The other
# packing shapes here — pack_sequences (greedy whole-doc bins) and
# doc_chunk_windows (per-doc windows) — never split a doc across
# bins; this one does, which is what makes every sequence EXACTLY the
# training context length with zero padding.
_CHUNK_SEQ_LEN = 512


@query(
    "pack_concat_chunks",
    oracle=f"""
    with d as (
      select doc_id,
             cast(len(regexp_split_to_array(text, '\\s+')) as bigint) as n_tokens
      from documents
    ),
    g as (
      select doc_id, n_tokens,
             cast(coalesce(sum(n_tokens) over (
                    order by doc_id rows between unbounded preceding
                    and 1 preceding), 0) as bigint) as tok_start
      from d
    ),
    spans as (
      select doc_id, n_tokens, tok_start,
             unnest(generate_series(tok_start // {_CHUNK_SEQ_LEN},
                                    (tok_start + n_tokens - 1) // {_CHUNK_SEQ_LEN}))
               as seq_id
      from g
    )
    select doc_id, cast(seq_id as bigint) as seq_id,
           cast(greatest(seq_id * {_CHUNK_SEQ_LEN}, tok_start) - tok_start
                as bigint) as doc_tok_from,
           cast(greatest(seq_id * {_CHUNK_SEQ_LEN}, tok_start)
                - seq_id * {_CHUNK_SEQ_LEN} as bigint) as seq_tok_from,
           cast(least((seq_id + 1) * {_CHUNK_SEQ_LEN}, tok_start + n_tokens)
                - greatest(seq_id * {_CHUNK_SEQ_LEN}, tok_start) as bigint) as n_toks
    from spans
    """,
    tags=("sampling", "packing", "text"),
)
def pack_concat_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Assign every document its (sequence, offset) spans in the
    concatenated-corpus layout: sequences are exactly B tokens
    (B=_CHUNK_SEQ_LEN), a doc whose tokens straddle a boundary emits one
    span row per touched sequence with in-doc and in-sequence offsets —
    the manifest a shard writer uses to materialize fixed-length
    training rows without padding.

    100 TB shape: the global token offset comes from the TWO-PHASE
    cumulative sum (data-derived buckets, per-bucket window,
    broadcast triangular offsets — windows.global_cumsum_before), so
    no single-partition Window.orderBy ever sees the corpus; the span
    expansion is a generator bounded by ceil(doc_len/B)+1 rows per
    doc. Only (doc_id, counts) longs move — text never shuffles; the
    oracle spells the same arithmetic over a plain single-stream
    window.
    """
    from parquet_processor_spark.ops.windows import global_cumsum_before

    d = t(spark, sf, "documents").select(
        "doc_id", F.size(F.split("text", r"\s+")).cast("long").alias("n_tokens")
    )
    g = global_cumsum_before(d, "doc_id", "n_tokens", out_col="tok_start")
    B = _CHUNK_SEQ_LEN
    s0 = (F.col("tok_start") / B).cast("long")
    s1 = ((F.col("tok_start") + F.col("n_tokens") - 1) / B).cast("long")
    spans = g.select(
        "doc_id",
        "n_tokens",
        "tok_start",
        F.explode(F.sequence(s0, s1)).alias("seq_id"),
    )
    seg_start = F.greatest(F.col("seq_id") * B, F.col("tok_start"))
    seg_end = F.least(
        (F.col("seq_id") + 1) * B, F.col("tok_start") + F.col("n_tokens")
    )
    return spans.select(
        "doc_id",
        F.col("seq_id").cast("long").alias("seq_id"),
        (seg_start - F.col("tok_start")).cast("long").alias("doc_tok_from"),
        (seg_start - F.col("seq_id") * B).cast("long").alias("seq_tok_from"),
        (seg_end - seg_start).cast("long").alias("n_toks"),
    )


# N208: systematic PPS sampling (probability proportional to size —
# Madow 1949, the survey-sampling workhorse): n equally-spaced
# positions walk the cumulative size line from a deterministic
# md5-derived start; each unit is drawn once per position inside its
# cumulative interval, and Horvitz-Thompson weights T/(n*size) make
# any downstream sum unbiased for the population total. The training-
# data use: value-weighted corpus subsampling where expensive docs
# (long, high-quality) should be kept proportionally more often,
# with weights that keep aggregate statistics calibrated.
_PPS_N = 500  # fixed sample positions; cum*n stays < 2^63 for corpora to ~1e16 cents


@query(
    "sample_pps",
    oracle=f"""
    with sized as (
      select o_orderkey, cast(floor(o_totalprice * 100 + 0.5) as bigint) as cents
      from orders
    ),
    cum as (
      select o_orderkey, cents,
             coalesce(sum(cents) over (order by o_orderkey
               rows between unbounded preceding and 1 preceding), 0) as cum_lo
      from sized
    ),
    tot as (
      select cast(sum(cents) as bigint) as t from sized
    ),
    par as (
      select t, ('0x' || substr(md5('pps:1'), 1, 15))::bigint % t as u from tot
    ),
    hits as (
      select c.o_orderkey, c.cents,
             ((c.cum_lo + c.cents) * {_PPS_N} - u - 1 + t) // t
               - (c.cum_lo * {_PPS_N} - u - 1 + t) // t as n_hits,
             t
      from cum c, par
    )
    select o_orderkey, cents, cast(n_hits as bigint) as n_hits,
           cast(t as double) / ({_PPS_N} * cents) as ht_weight
    from hits where n_hits > 0
    """,
    tags=("sample", "pps", "weights"),
)
def sample_pps(spark: SparkSession, sf: str) -> DataFrame:
    """Systematic PPS sample of orders by total price: n=_PPS_N positions
    at spacing T/n from start U = md5('pps:1') % T select each order
    floor-counting positions inside its [cum, cum+size) interval —
    all arithmetic exact int64 (sizes in cents, positions scaled by
    n; the +T shift keeps every div numerator non-negative so both
    engines' integral division agrees), big units can be drawn
    multiple times (n_hits), and ht_weight = T/(n*size) is the
    exact Horvitz-Thompson reciprocal inclusion density.

    100 TB shape: the cumulative line is the TWO-PHASE global cumsum
    (global_cumsum_before — data-derived key-range buckets, no
    single-partition sort over the order spine); T and U are a 1-row
    broadcast; selection is codegen arithmetic beside the scan. The
    n-position design keeps cum*n inside int64 to ~1e16 cents of
    corpus mass; past that the same formulas widen to decimal(38,0)
    unchanged.
    """
    from parquet_processor_spark.ops.windows import global_cumsum_before

    sized = t(spark, sf, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    cum = global_cumsum_before(sized, "o_orderkey", "cents", out_col="cum_lo")
    tot = sized.agg(F.sum("cents").cast("long").alias("t"))
    par = tot.select(
        "t",
        (
            F.conv(F.substring(F.md5(F.lit("pps:1")), 1, 15), 16, 10).cast("long")
            % F.col("t")
        ).alias("u"),
    )
    j = cum.crossJoin(F.broadcast(par))
    n_hits = (
        F.expr(f"((cum_lo + cents) * {_PPS_N} - u - 1 + t) div t")
        - F.expr(f"(cum_lo * {_PPS_N} - u - 1 + t) div t")
    )
    return (
        j.select(
            "o_orderkey",
            "cents",
            n_hits.cast("long").alias("n_hits"),
            (F.col("t").cast("double") / (F.lit(_PPS_N) * F.col("cents"))).alias(
                "ht_weight"
            ),
        )
        .where(F.col("n_hits") > 0)
    )


# N216: Neyman-allocated stratified sampling (Neyman 1934 — the
# OPTIMAL budget split across strata: n_h proportional to N_h * S_h,
# so volatile strata get more of the budget and the stratified
# estimator's variance is minimized). The uniform per-stratum rates
# of sample_stratified leave variance on the table; this is the
# design a measurement team actually ships. Integerization is
# largest-remainder (exactly exhausts the budget), selection is the
# md5-rank determinism of the whole sampling family.
_NEYMAN_BUDGET = 200


def _neyman_oracle() -> str:
    sd = "sqrt((cast(nh as double) * ss - cast(sx as double) * sx) / (cast(nh as double) * nh))"
    return f"""
    with st as (
      select lang, cast(count(*) as bigint) as nh,
             cast(sum(n_chars) as bigint) as sx,
             cast(sum(n_chars * n_chars) as bigint) as ss
      from documents group by lang
    ),
    sh as (
      select lang, nh, {sd} as sdev, nh * {sd} as mass from st
    ),
    tot as (select sum(mass) as tm from sh),
    raw as (
      select lang, nh, sdev,
             {_NEYMAN_BUDGET} * mass / nullif(tm, 0.0) as r
      from sh, tot
    ),
    alloc as (
      select lang, nh, sdev, r, floor(r) as base,
             row_number() over (order by r - floor(r) desc, lang) as frk,
             {_NEYMAN_BUDGET} - sum(floor(r)) over () as leftover
      from raw
    ),
    fin as (
      select lang, nh, sdev,
             cast(least(base + case when frk <= leftover then 1 else 0 end, nh)
                  as bigint) as alloc_n
      from alloc
    ),
    ranked as (
      select d.doc_id, d.lang,
             row_number() over (partition by d.lang
               order by md5('neyman:' || cast(d.doc_id as varchar)), d.doc_id) as rk
      from documents d
    )
    select r.doc_id, r.lang, f.nh as stratum_n, f.alloc_n,
           cast(f.nh as double) / f.alloc_n as weight
    from ranked r join fin f on r.lang = f.lang
    where r.rk <= f.alloc_n
    """


@query("sample_stratified_neyman", oracle=_neyman_oracle(), tags=("sample", "strata", "neyman"))
def sample_stratified_neyman(spark: SparkSession, sf: str) -> DataFrame:
    """Neyman-optimal stratified sample of documents by language:
    per-stratum SD of n_chars from exact integer moments (population
    form — a 1-doc stratum contributes zero mass, never a
    divide-by-zero), budget b=_NEYMAN_BUDGET split largest-remainder on
    N_h*S_h shares (exactly exhausting the budget, capped at stratum
    size), then the md5-rank deterministic pick inside each stratum with
    design weight N_h/n_h.

    100 TB shape: stratum moments are ONE map-side-combined
    aggregate; the allocation runs entirely on the |strata| control
    table (windows over strata rows, not docs); selection is a
    per-stratum rank window (WindowGroupLimit shape) against the
    broadcast allocation. sqrt is IEEE correctly-rounded, every other
    number is exact-int-derived, and the share formulas are one text
    — so even the double allocation ranks identically cross-engine.
    """
    st = t(spark, sf, "documents").groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("nh"),
        F.sum("n_chars").cast("long").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("ss"),
    )
    sd = F.expr(
        "sqrt((cast(nh as double) * ss - cast(sx as double) * sx)"
        " / (cast(nh as double) * nh))"
    )
    sh = st.select("lang", "nh", sd.alias("sdev"), (F.col("nh") * sd).alias("mass"))
    tot = sh.agg(F.sum("mass").alias("tm"))
    raw = sh.crossJoin(F.broadcast(tot)).select(
        "lang",
        "nh",
        "sdev",
        F.expr(f"{_NEYMAN_BUDGET} * mass / nullif(tm, 0.0)").alias("r"),
    )
    w_rem = Window.orderBy(F.expr("r - floor(r)").desc(), F.col("lang"))
    alloc = raw.select(
        "lang",
        "nh",
        F.expr("floor(r)").alias("base"),
        F.row_number().over(w_rem).alias("frk"),
        (F.lit(_NEYMAN_BUDGET) - F.sum(F.expr("floor(r)")).over(Window.partitionBy()))
        .alias("leftover"),
    ).select(
        "lang",
        "nh",
        F.least(
            F.col("base") + F.when(F.col("frk") <= F.col("leftover"), 1).otherwise(0),
            F.col("nh"),
        )
        .cast("long")
        .alias("alloc_n"),
    )
    w_sel = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("neyman:"), F.col("doc_id").cast("string"))), F.col("doc_id")
    )
    ranked = t(spark, sf, "documents").select(
        "doc_id", "lang", F.row_number().over(w_sel).alias("rk")
    )
    return (
        ranked.join(F.broadcast(alloc), "lang")
        .where(F.col("rk") <= F.col("alloc_n"))
        .select(
            "doc_id",
            "lang",
            F.col("nh").alias("stratum_n"),
            "alloc_n",
            (F.col("nh").cast("double") / F.col("alloc_n")).alias("weight"),
        )
    )


# N230: leakage-safe K-FOLD assignment — the cross-validation
# generalization of split_leakage_safe's train/test split: folds are
# assigned at the dedup-CLUSTER level (md5 of the transitive-closure
# cluster id, mod K), so near-duplicate documents can never straddle
# a fold boundary and every fold's held-out set is contamination-free
# against the other K-1. Deterministic and stable: a cluster keeps
# its fold forever unless its minimum member changes.
_KFOLD_K = 5


@query(
    "sample_kfold",
    oracle=f"""
    with labels as ( {_cc_labels_oracle()} )
    select doc_id, cluster_id,
           cast(('0x' || substr(md5(cast(cluster_id as varchar)), 1, 15))::bigint
                % {_KFOLD_K} as int) as fold
    from labels
    """,
    tags=("sampling", "dedup", "graph", "cv"),
)
def sample_kfold(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-keyed k-fold (k=_KFOLD_K) assignment: fold =
    md5-60bit(cluster_id) mod k over the connected-component dedup
    labels.

    100 TB shape: identical cost profile to split_leakage_safe — the
    closure labels are computed anyway by the dedup pass; the fold id
    is a narrow md5 projection on the label column (no extra
    shuffle). The 60-bit hash is non-negative, so `%` agrees across
    engines without a floorMod dance.
    """
    from parquet_processor_spark.ops import dedup

    labels = dedup.dedup_connected(spark, sf).select("doc_id", "cluster_id")
    h60 = F.conv(
        F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    return labels.select(
        "doc_id", "cluster_id", (h60 % _KFOLD_K).cast("int").alias("fold")
    )


# N242: time-based train/test split with an embargo gap — the
# temporal analog of split_leakage_safe: when examples are windows
# over time (forecasting, churn, CUPED covariates), a random split
# leaks future information backward, and even a plain time cut leaks
# through features computed over windows that END after the cut. The
# embargo (purged rows between train-end and test-start, de Prado's
# purged walk-forward CV) is the standard fix. The cut/embargo are
# shared constants; audit columns prove the gap held.
_TSPLIT_CUT = "2024-01-22 00:00:00"
_TSPLIT_TRAIN_END = "2024-01-19 00:00:00"  # cut minus the 3-day embargo


@query(
    "split_time_embargo",
    oracle=f"""
    with lab as (
      select case when ts < timestamp '{_TSPLIT_TRAIN_END}' then 'train'
                  when ts >= timestamp '{_TSPLIT_CUT}' then 'test'
                  else 'embargo' end as split,
             user_id, ts
      from events where ts is not null
    )
    select split,
           cast(count(*) as bigint) as n_events,
           cast(count(distinct user_id) as bigint) as n_users,
           min(ts) as min_ts,
           max(ts) as max_ts
    from lab group by split
    """,
    tags=("sampling", "split", "temporal", "leakage"),
)
def split_time_embargo(spark: SparkSession, sf: str) -> DataFrame:
    """Per-split audit of the purged temporal split: train strictly
    before cut-minus-embargo, test at/after the cut, the embargo band
    between them excluded from both (its row counts the purge cost).
    min_ts/max_ts per split prove the gap held — a downstream
    pipeline asserts max_ts('train') < train_end <= cut <=
    min_ts('test').

    100 TB shape: the split label is pure codegen beside the scan (a
    time-partitioned table prunes whole partitions per split), and
    the audit is one map-side-combined aggregate to 3 rows; assigning
    the label to the full corpus for export costs zero shuffles.
    """
    lab = (
        t(spark, sf, "events")
        .where(F.col("ts").isNotNull())
        .select(
            F.when(
                F.col("ts") < F.lit(_TSPLIT_TRAIN_END).cast("timestamp"), "train"
            )
            .when(F.col("ts") >= F.lit(_TSPLIT_CUT).cast("timestamp"), "test")
            .otherwise("embargo")
            .alias("split"),
            "user_id",
            "ts",
        )
    )
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )

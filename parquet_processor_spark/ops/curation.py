"""Training-data curation operators (SURVEY.md §2.13 extension).

The four curation steps every large-scale LLM data pipeline runs
between raw scrape and tokenizer, missing from the reference (its
pipeline stops at metadata extraction) but first-class here:

- per-source quota caps (the CommonCrawl "domain cap" — no single
  source may dominate the corpus),
- benchmark-contamination detection (n-gram overlap between training
  docs and a held-out benchmark set),
- PII / term scrubbing (regex redaction, RE2-compatible patterns so
  the DuckDB oracle computes the identical result),
- repetition filtering (the Gopher-style top-word-fraction signal for
  degenerate/boilerplate docs).

All four are pure DataFrame built-ins — no Python UDFs — and each is
oracle-checked at value-hash level.

100 TB notes are per-operator; the common theme: one keyed shuffle
each, map-side combine everywhere, the benchmark side of the
contamination join broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_processor_spark.ops.dedup import (
    _SHINGLE_DF_CAP,
    drop_hot_shingles,
    shingle_hashes,
    split_words,
)
from parquet_processor_spark.registry import query
from parquet_processor_spark.tables import t

# Deterministic cross-engine tie-free ordering: md5 of the stringified
# key (the sampling family's established md5-nibble pattern — DuckDB
# has no xxhash64, but md5 hex strings compare identically everywhere).
_CAP_PER_SOURCE = 10


@query(
    "curation_cap_per_source",
    oracle=f"""
    select doc_id, source, rk from (
      select doc_id, source,
             row_number() over (
               partition by source
               order by md5(cast(doc_id as varchar)), doc_id) as rk
      from documents
    ) where rk <= {_CAP_PER_SOURCE}
    """,
    tags=("curation", "sampling", "bench_extended"),
)
def curation_cap_per_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source quota cap: keep at most K docs per source, chosen by
    deterministic hash order (not file order — rerunnable on any
    cluster layout).

    100 TB: one hash shuffle on source. The rank<=K filter directly
    after row_number triggers Spark's WindowGroupLimit rewrite, so each
    map task pre-prunes to its local top-K before the shuffle — a
    billion-page domain ships K rows per task, not a billion
    (plan-asserted in tests/test_plan_quality.py).
    """
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        t(spark, sf, "documents")
        .select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _CAP_PER_SOURCE)
    )


# Contamination: training docs sharing >= _MIN_SHARED distinct word
# trigrams with any benchmark doc. The benchmark set here is the
# deterministic doc_id % 50 == 0 slice (~2%) standing in for an
# external eval-set table.
_MIN_SHARED = 5

# Broadcast size contract: the benchmark side is loaded into every
# executor, so it must stay ≪ executor memory. The cap is on DOCS
# (checked with one cheap count on the pre-explode side) — at ~1 KB of
# shingle hashes per doc, 100k docs ≈ 100 MB broadcast, the sane upper
# bound for real eval suites (which are thousands of docs). A larger
# "benchmark" means the caller is really doing corpus-vs-corpus dedup
# and should use dedup_ngram_jaccard's shuffle join instead.
_MAX_BENCH_DOCS = 100_000


def _assert_broadcastable(bench_docs: DataFrame, max_docs: int = _MAX_BENCH_DOCS) -> None:
    n = bench_docs.limit(max_docs + 1).count()  # eager-by-design: size-contract guard, limit-bounded
    if n > max_docs:
        raise ValueError(
            f"benchmark side exceeds {max_docs} docs — too large to broadcast; "
            "use the shuffle-join dedup (dedup_ngram_jaccard) for corpus-vs-corpus overlap"
        )


@query(
    "curation_contamination",
    oracle=rf"""
    with sh as (
      select doc_id, unnest(list_distinct(
        list_transform(
          generate_series(1, greatest(len(regexp_split_to_array(text, '\s+')) - 2, 1)),
          i -> array_to_string(regexp_split_to_array(text, '\s+')[i:i+2], ' ')
        ))) as shingle
      from documents
    ),
    hot as (select shingle from sh group by shingle having count(*) > {_SHINGLE_DF_CAP}),
    shc as (select s.* from sh s anti join hot h on s.shingle = h.shingle)
    select a.doc_id, b.doc_id as bench_id, count(*) as n_shared
    from shc a join shc b on a.shingle = b.shingle
    where a.doc_id % 50 <> 0 and b.doc_id % 50 = 0
    group by a.doc_id, b.doc_id
    having count(*) >= {_MIN_SHARED}
    """,
    tags=("curation", "dedup", "bench_extended"),
)
def curation_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark-contamination check: flag (train doc, benchmark doc)
    pairs sharing >= ``_MIN_SHARED`` distinct trigram shingles.

    Same hashed-shingle machinery as dedup_ngram_jaccard (8-byte
    xxhash64 keys on the wire; the oracle keeps string shingles —
    identical counts absent 64-bit collisions).

    100 TB: a benchmark set is small (thousands of docs), so its
    exploded shingles BROADCAST — the train rows never shuffle
    (the hot-shingle df statistic shuffles distinct shingles only);
    contamination is a map-side hash probe per shingle followed
    by one aggregation keyed on (doc, bench) pairs that actually
    collide. The broadcast assumption is a CONTRACT, enforced by
    ``_assert_broadcastable`` (limit-bounded count, so the guard
    itself never scans more than the cap). Shingles above the
    document-frequency cap are dropped first (same guard as
    ``dedup_ngram_jaccard``): a stop-phrase trigram present in both
    sets would otherwise fan out |train| × |bench| rows out of the
    probe while carrying no contamination signal.
    """
    d = split_words(spark, sf).select("doc_id", shingle_hashes().alias("shingles"))
    _assert_broadcastable(d.where(F.col("doc_id") % 50 == 0).select("doc_id"))
    # explode_outer + null guard: see dedup._explode_shingles — plain
    # explode's inferred size>0 filter re-runs the shingle expression
    # per row once pushed below the projection.
    sh = drop_hot_shingles(
        d.select("doc_id", F.explode_outer("shingles").alias("shingle")).where(
            F.col("shingle").isNotNull()
        )
    )
    train = sh.where(F.col("doc_id") % 50 != 0)
    bench = sh.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), F.col("shingle").alias("b_shingle")
    )
    return (
        train.join(F.broadcast(bench), F.col("shingle") == F.col("b_shingle"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= _MIN_SHARED)
    )


# RE2-compatible redaction patterns (no backrefs/lookarounds): both
# Java regex and DuckDB's RE2 interpret these identically, which the
# value-hash oracle proves on every row. The term list ("customer" on
# this corpus) stands in for a denylist table.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9][0-9() .-]{7,}[0-9]"
_TERM = r"\bcustomer\b"


@query(
    "curation_pii_scrub",
    oracle=rf"""
    select doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g'),
             '{_TERM}', '[REDACTED]', 'g') as text_scrubbed,
           (regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_PII_EMAIL}', '[EMAIL]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g'),
             '{_TERM}', '[REDACTED]', 'g') <> text) as was_redacted
    from documents
    """,
    tags=("curation", "text", "bench_extended"),
)
def curation_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII/term scrubbing: chained regexp_replace redaction.

    100 TB: a pure narrow projection — no shuffle, no Python, stays
    inside whole-stage codegen; the only cost is the regex engine over
    each row, which scales embarrassingly.
    """
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "[EMAIL]"),
            _PII_PHONE,
            "[PHONE]",
        ),
        _TERM,
        "[REDACTED]",
    )
    return t(spark, sf, "documents").select(
        "doc_id",
        scrubbed.alias("text_scrubbed"),
        (scrubbed != F.col("text")).alias("was_redacted"),
    )


# Repetition: flag when the most frequent word exceeds 1/_REP_DENOM of
# all words (integer comparison — no float threshold edge cases).
_REP_DENOM = 10


@query(
    "curation_repetition",
    oracle=rf"""
    with w as (
      select doc_id, unnest(regexp_split_to_array(text, '\s+')) as word
      from documents
    ),
    c as (select doc_id, word, count(*) as n from w group by doc_id, word),
    s as (select doc_id, max(n) as max_n, sum(n) as n_words from c group by doc_id)
    select doc_id,
           cast(max_n as double) / n_words as top_word_frac,
           (max_n * {_REP_DENOM} > n_words) as is_repetitive
    from s
    """,
    tags=("curation", "text", "bench_extended"),
)
def curation_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of the doc taken by its
    single most frequent word, flagged when above 1/10.

    100 TB: two aggregations, both with map-side partial combine —
    (doc, word) counts collapse before the shuffle, then the per-doc
    rollup is keyed on doc_id alone. The division happens once per doc
    (single IEEE op — bit-identical across engines).
    """
    words = (
        split_words(spark, sf)
        .select("doc_id", F.explode_outer("words").alias("word"))
        .where(F.col("word").isNotNull())
    )
    counts = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("n"))
    per_doc = counts.groupBy("doc_id").agg(
        F.max("n").alias("max_n"), F.sum("n").alias("n_words")
    )
    return per_doc.select(
        "doc_id",
        (F.col("max_n").cast("double") / F.col("n_words")).alias("top_word_frac"),
        (F.col("max_n") * _REP_DENOM > F.col("n_words")).alias("is_repetitive"),
    )


# k-anonymity suppression (Sweeney 2002) — the release-gate a
# governance pipeline runs before training data or analytics extracts
# leave the boundary: any combination of quasi-identifiers shared by
# fewer than k individuals is re-identifiable by linkage, so those
# groups' QI values are suppressed (nulled) while the population-sized
# groups pass through. Output keeps every row (the consumer decides
# drop-vs-generalize); `qi_group_n` makes the decision auditable.
_K_ANON = 10


@query(
    "anonymize_k_anonymity",
    oracle=f"""
    with g as (
      select c_mktsegment, c_nationkey, count(*) as n
      from customer group by 1, 2
    )
    select c.c_custkey,
           case when g.n >= {_K_ANON} then c.c_mktsegment end as qi_segment,
           case when g.n >= {_K_ANON} then c.c_nationkey end as qi_nation,
           g.n < {_K_ANON} as suppressed,
           cast(g.n as bigint) as qi_group_n
    from customer c
    join g on c.c_mktsegment = g.c_mktsegment and c.c_nationkey = g.c_nationkey
    """,
    tags=("curation", "governance", "privacy", "bench_extended"),
)
def anonymize_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """Suppress quasi-identifier combos carried by fewer than k rows.

    100 TB shape: group sizes come from ONE map-side-combined aggregate
    whose result is |QI-domain|-sized (here 125 rows; bounded by the
    attribute-domain product, not the corpus), broadcast back onto the
    scan — the corpus itself never shuffles, unlike the naive
    window-count spelling which sorts every row by QI key. The same
    plan holds for any low-cardinality QI set; a high-cardinality QI
    (e.g. zip+birthdate) keeps the identical algebra with the
    broadcast replaced by a shuffle join, still one corpus pass.
    """
    c = t(spark, sf, "customer")
    k = F.lit(_K_ANON)
    g = c.groupBy("c_mktsegment", "c_nationkey").agg(F.count(F.lit(1)).alias("qi_group_n"))
    return (
        c.join(F.broadcast(g), ["c_mktsegment", "c_nationkey"])
        .select(
            "c_custkey",
            F.when(F.col("qi_group_n") >= k, F.col("c_mktsegment")).alias("qi_segment"),
            F.when(F.col("qi_group_n") >= k, F.col("c_nationkey")).alias("qi_nation"),
            (F.col("qi_group_n") < k).alias("suppressed"),
            F.col("qi_group_n").cast("long").alias("qi_group_n"),
        )
    )


# l-diversity on top of the k-anonymity groups — the attribute-
# disclosure guard k-anonymity alone misses: a group can be large
# (k-anonymous) yet carry ONE sensitive value, so membership still
# discloses the attribute. Machanavajjhala et al.'s distinct
# l-diversity requires >= l distinct sensitive values per QI group;
# groups failing EITHER bar are suppressed, and both group facts ride
# along so the decision is auditable.
_L_DIV = 3


@query(
    "anonymize_l_diversity",
    oracle=f"""
    with g as (
      select c_mktsegment, c_nationkey,
             count(*) as n,
             count(distinct cast(floor(c_acctbal / 5000) as int)) as sens_l
      from customer group by 1, 2
    )
    select c.c_custkey,
           case when g.n >= {_K_ANON} and g.sens_l >= {_L_DIV}
                then c.c_mktsegment end as qi_segment,
           case when g.n >= {_K_ANON} and g.sens_l >= {_L_DIV}
                then c.c_nationkey end as qi_nation,
           g.n < {_K_ANON} as suppressed_k,
           g.sens_l < {_L_DIV} as suppressed_l,
           cast(g.n as bigint) as qi_group_n,
           cast(g.sens_l as bigint) as qi_group_l
    from customer c
    join g on c.c_mktsegment = g.c_mktsegment and c.c_nationkey = g.c_nationkey
    """,
    tags=("curation", "governance", "privacy"),
)
def anonymize_l_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Suppress QI combos that are under-populated (< k=_K_ANON rows,
    the k-anonymity bar) OR under-diverse (< l=_L_DIV distinct
    sensitive account-balance bands, the l-diversity bar). Sensitive
    attribute = floor(c_acctbal/5000) band — the coarse value an
    attacker learns from group membership.

    100 TB shape: identical to anonymize_k_anonymity — ONE map-side
    aggregate bounded by the QI domain (count + exact distinct of a
    3-value band is a tiny per-group state), broadcast back onto the
    scan; the corpus never shuffles. A high-cardinality sensitive
    attribute swaps the exact distinct for HLL++ with the documented
    error gate pattern (error_approx_distinct).
    """
    c = t(spark, sf, "customer")
    band = F.floor(F.col("c_acctbal") / 5000).cast("int")
    g = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("qi_group_n"),
        F.countDistinct(band).alias("qi_group_l"),
    )
    ok = (F.col("qi_group_n") >= _K_ANON) & (F.col("qi_group_l") >= _L_DIV)
    return (
        c.join(F.broadcast(g), ["c_mktsegment", "c_nationkey"])
        .select(
            "c_custkey",
            F.when(ok, F.col("c_mktsegment")).alias("qi_segment"),
            F.when(ok, F.col("c_nationkey")).alias("qi_nation"),
            (F.col("qi_group_n") < _K_ANON).alias("suppressed_k"),
            (F.col("qi_group_l") < _L_DIV).alias("suppressed_l"),
            F.col("qi_group_n").cast("long").alias("qi_group_n"),
            F.col("qi_group_l").cast("long").alias("qi_group_l"),
        )
    )


# t-closeness — the third member of the privacy triad (k-anonymity:
# groups big enough; l-diversity: enough distinct sensitive values;
# t-closeness, Li et al. 2007: the group's SENSITIVE DISTRIBUTION must
# stay within distance t of the global one, or membership itself
# shifts an attacker's posterior). Distance is total variation,
# computed as EXACT INTEGERS (the monitor_feature_drift policy):
# TVD = sum|c_gb*N - c_b*n_g| / (2*n_g*N), compared as
# 100*num <= t%*den — no float ever enters the verdict.
_T_CLOSE_PCT = 20  # t = 0.20

# Shared (QI, band) -> TVD construction — the ONE definition the
# standalone t-closeness operator, the privacy-audit composite, and
# both of their oracles derive from (the _AUDIO_LANDMARK_CTES
# discipline: a single-site edit cannot desynchronize the family).
# Overflow bound: tvd terms are count products c*N and 2*n*N — exact
# in int64 while n_group * N_total < 4.6e18 (N ~ 2e9 rows with the
# largest group at n ~ 2e9 is safe; beyond that the production path
# lifts the three products to decimal(38) with identical algebra).
_TVD_CTES = """
    g as (select c_mktsegment, c_nationkey, band, count(*) as c
          from b group by 1, 2, 3),
    gn as (select c_mktsegment, c_nationkey,
                  sum(c) as n, count(*) as n_bands
           from g group by 1, 2),
    gl as (select band, sum(c) as cb from g group by 1),
    tot as (select sum(c) as nn from g),
    tv as (
      select gn.c_mktsegment, gn.c_nationkey, gn.n, gn.n_bands,
             cast(sum(abs(coalesce(g.c, 0) * tot.nn - gl.cb * gn.n)) as bigint) as tvd_num,
             cast(2 * gn.n * tot.nn as bigint) as tvd_den
      from gn cross join tot cross join gl
      left join g on g.c_mktsegment = gn.c_mktsegment
                 and g.c_nationkey = gn.c_nationkey and g.band = gl.band
      group by gn.c_mktsegment, gn.c_nationkey, gn.n, gn.n_bands, tot.nn
    )
"""


def _qi_band_tvd(b: DataFrame) -> DataFrame:
    """(QI, n, n_bands, tvd_num, tvd_den) per group from a
    (c_mktsegment, c_nationkey, band) relation — the Spark twin of
    _TVD_CTES. The (QI, band) count table is localCheckpointed: it
    feeds gn, gl, tot, AND the TVD join (four consumers, one scan)."""
    g = (
        b.groupBy("c_mktsegment", "c_nationkey", "band")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    gn = g.groupBy("c_mktsegment", "c_nationkey").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_bands")
    )
    gl = g.groupBy("band").agg(F.sum("c").alias("cb"))
    tot = g.agg(F.sum("c").alias("nn"))
    return (
        gn.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(gl))
        .join(g, ["c_mktsegment", "c_nationkey", "band"], "left")
        .groupBy("c_mktsegment", "c_nationkey", "n", "n_bands", "nn")
        .agg(
            F.sum(
                F.abs(F.coalesce(F.col("c"), F.lit(0)) * F.col("nn") - F.col("cb") * F.col("n"))
            )
            .cast("long")
            .alias("tvd_num")
        )
        .select(
            "c_mktsegment",
            "c_nationkey",
            "n",
            "n_bands",
            "tvd_num",
            (2 * F.col("n") * F.col("nn")).cast("long").alias("tvd_den"),
        )
    )



@query(
    "anonymize_t_closeness",
    oracle=f"""
    with b as (
      select c_custkey, c_mktsegment, c_nationkey,
             cast(floor(c_acctbal / 5000) as int) as band
      from customer
    ),
    {_TVD_CTES}
    select b.c_custkey,
           case when 100 * tv.tvd_num <= {_T_CLOSE_PCT} * tv.tvd_den
                then b.c_mktsegment end as qi_segment,
           case when 100 * tv.tvd_num <= {_T_CLOSE_PCT} * tv.tvd_den
                then b.c_nationkey end as qi_nation,
           100 * tv.tvd_num > {_T_CLOSE_PCT} * tv.tvd_den as suppressed,
           tv.tvd_num, tv.tvd_den
    from b
    join tv on tv.c_mktsegment = b.c_mktsegment and tv.c_nationkey = b.c_nationkey
    """,
    tags=("curation", "governance", "privacy"),
)
def anonymize_t_closeness(spark: SparkSession, sf: str) -> DataFrame:
    """Suppress QI combos whose sensitive-band distribution sits more
    than t = _T_CLOSE_PCT/100 total-variation away from the global
    distribution — the attribute-disclosure guard l-diversity misses
    (a group can carry all 3 bands yet be 90% one of them). The exact
    TVD integers ride along for audit.

    100 TB shape: one map-side aggregate to (QI, band) counts —
    bounded by the QI domain x 3 bands; the global band distribution
    (3 rows) and total (1 row) broadcast; the per-group TVD is an
    aggregate over |QI| x 3 rows; the verdict joins back onto the scan
    by QI key. The corpus never shuffles, same as its k/l siblings.
    Comparison is pure integer cross-multiplication — no division.
    """
    c = t(spark, sf, "customer")
    band = F.floor(F.col("c_acctbal") / 5000).cast("int")
    b = c.select("c_custkey", "c_mktsegment", "c_nationkey", band.alias("band"))
    tv = _qi_band_tvd(b).select("c_mktsegment", "c_nationkey", "tvd_num", "tvd_den")
    close = 100 * F.col("tvd_num") <= _T_CLOSE_PCT * F.col("tvd_den")
    return (
        b.join(F.broadcast(tv), ["c_mktsegment", "c_nationkey"])
        .select(
            "c_custkey",
            F.when(close, F.col("c_mktsegment")).alias("qi_segment"),
            F.when(close, F.col("c_nationkey")).alias("qi_nation"),
            (~close).alias("suppressed"),
            "tvd_num",
            "tvd_den",
        )
    )


# Differentially-private count release — the MECHANISM side of the
# privacy kit (the k/l/t triad suppresses; this perturbs): per-QI-group
# counts plus two-sided discrete geometric noise, the integer-native
# DP mechanism (Ghosh-Roughgarden-Sundararajan 2009 — the discrete
# Laplace). Noise = G1 - G2 where each G counts the trailing zero bits
# of an md5-derived 60-bit integer: P(G = g) = 2^-(g+1), i.e.
# Geometric(1/2), so the difference is the alpha = 1/2 discrete
# Laplace and the release is ln(2)-DP per unit count sensitivity.
# EVERYTHING is integer arithmetic — no transcendental sampling, no
# float inversion — which is what makes the mechanism hash-checkable
# cross-engine. The noise is SEEDED (keyed md5, fixed _DP_SEED): a
# reproducible release for the harness; production rotates the seed
# per release epoch (re-releasing under many seeds composes — the
# standard budget bookkeeping applies).
_DP_SEED = 42


def _dp_hash60(parts: list, tag: str):
    """Keyed 60-bit uniform: md5 over group key + tag + seed — the
    dedup_repeated_ngrams hex-to-bigint construction both engines
    share bitwise."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", *parts, F.lit(tag), F.lit(str(_DP_SEED)))), 1, 15
        ),
        16,
        10,
    ).cast("long")


def _dp_tz(h):
    """Trailing-zero count of a positive 60-bit int = Geometric(1/2);
    h & -h isolates the lowest set bit, bin-length locates it."""
    return F.when(h == 0, F.lit(60)).otherwise(
        F.length(F.bin(h.bitwiseAND(-h))) - 1
    )


def _dp_sql(tag: str) -> str:
    h = (
        f"('0x' || substr(md5(qi_segment || ':' || cast(qi_nation as varchar) "
        f"|| ':{tag}:{_DP_SEED}'), 1, 15))::bigint"
    )
    return f"(case when {h} = 0 then 60 else length(bin(({h}) & -({h}))) - 1 end)"


@query(
    "anonymize_dp_counts",
    oracle=f"""
    with g as (
      select c_mktsegment as qi_segment, c_nationkey as qi_nation,
             cast(count(*) as bigint) as n
      from customer group by 1, 2
    )
    select qi_segment, qi_nation,
           cast(greatest(n + {_dp_sql('1')} - {_dp_sql('2')}, 0) as bigint) as dp_n
    from g
    """,
    tags=("curation", "governance", "privacy", "dp", "bench_extended"),
)
def anonymize_dp_counts(spark: SparkSession, sf: str) -> DataFrame:
    """epsilon = ln(2) differentially-private per-QI-group counts via
    seeded two-sided discrete geometric noise, clamped at zero (the
    standard post-processing — clamping cannot hurt DP).

    100 TB shape: ONE map-side-combined aggregate collapses the
    population to |QI-domain| rows; the mechanism is then a per-row
    integer projection on that tiny table (two md5s + bit tricks per
    group — no corpus-side work at all). This is the shape a DP query
    engine serves every histogram from: the sensitive scan happens
    once, noise is post-aggregation.
    """
    c = t(spark, sf, "customer")
    g = c.groupBy(
        F.col("c_mktsegment").alias("qi_segment"),
        F.col("c_nationkey").alias("qi_nation"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    parts = [F.col("qi_segment"), F.col("qi_nation").cast("string")]
    noise = _dp_tz(_dp_hash60(parts, "1")) - _dp_tz(_dp_hash60(parts, "2"))
    return g.select(
        "qi_segment",
        "qi_nation",
        F.greatest(F.col("n") + noise, F.lit(0)).cast("long").alias("dp_n"),
    )


# Privacy-audit composite — the release gate a data steward actually
# runs: ONE pass over the population computes all three triad verdicts
# per QI group (k-anonymity size, l-diversity distinct bands,
# t-closeness TVD) and a single releasable flag. The three standalone
# operators prove each criterion; this proves the shared-aggregate
# plan a real job uses (the pipeline_curate_corpus composition
# pattern: group facts computed once, every verdict derived from
# them).
@query(
    "pipeline_privacy_audit",
    oracle=f"""
    with b as (
      select c_mktsegment, c_nationkey,
             cast(floor(c_acctbal / 5000) as int) as band
      from customer
    ),
    {_TVD_CTES}
    select c_mktsegment as qi_segment, c_nationkey as qi_nation,
           cast(n as bigint) as n,
           cast(n_bands as bigint) as n_bands,
           tvd_num, tvd_den,
           n >= {_K_ANON} as pass_k,
           n_bands >= {_L_DIV} as pass_l,
           100 * tvd_num <= {_T_CLOSE_PCT} * tvd_den as pass_t,
           (n >= {_K_ANON} and n_bands >= {_L_DIV}
            and 100 * tvd_num <= {_T_CLOSE_PCT} * tvd_den) as releasable
    from tv
    """,
    tags=("curation", "governance", "privacy", "composite"),
)
def pipeline_privacy_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Per-QI-group privacy release gate: all three triad verdicts
    (k >= _K_ANON, l >= _L_DIV, t <= _T_CLOSE_PCT/100) plus the
    exact facts they derive from, in one shared-aggregate pass.

    100 TB shape: the (QI, band) count table is computed ONCE
    map-side and feeds every verdict — group size and band count fall
    out of one rollup, the TVD from the same table joined to the
    3-row global distribution; the standalone operators' three
    separate passes collapse to one. Output is |QI-domain| rows —
    the audit artifact, not a per-row projection.
    """
    c = t(spark, sf, "customer")
    band = F.floor(F.col("c_acctbal") / 5000).cast("int")
    b = c.select("c_mktsegment", "c_nationkey", band.alias("band"))
    tv = _qi_band_tvd(b)
    pass_k = F.col("n") >= _K_ANON
    pass_l = F.col("n_bands") >= _L_DIV
    pass_t = 100 * F.col("tvd_num") <= _T_CLOSE_PCT * F.col("tvd_den")
    return tv.select(
        F.col("c_mktsegment").alias("qi_segment"),
        F.col("c_nationkey").alias("qi_nation"),
        F.col("n").cast("long").alias("n"),
        F.col("n_bands").cast("long").alias("n_bands"),
        "tvd_num",
        "tvd_den",
        pass_k.alias("pass_k"),
        pass_l.alias("pass_l"),
        pass_t.alias("pass_t"),
        (pass_k & pass_l & pass_t).alias("releasable"),
    )


# N183: semantic benchmark decontamination — the EMBEDDING member of
# the contamination family (n-gram overlap = curation_contamination,
# exact spans = curation_contamination_spans). Paraphrased benchmark
# leakage survives both lexical checks; the standard third screen
# (run for the GPT-4/Llama data cards) flags corpus docs whose
# embedding sits too close to ANY benchmark item. The benchmark set
# here is the deterministic vec_id % 50 == 0 slice standing in for a
# held-out eval suite.
_SEM_CONTAM_TAU = 0.35


@query(
    "curation_contamination_semantic",
    oracle=f"""
    with bench as (
      select vec_id as bench_id, embedding from embeddings where vec_id % 50 = 0
    ),
    corpus as (
      select vec_id, embedding from embeddings where vec_id % 50 <> 0
    ),
    scored as (
      select c.vec_id, b.bench_id,
             list_reduce(list_prepend(cast(0 as double),
               [cast(c.embedding[i] as double) * cast(b.embedding[i] as double)
                for i in generate_series(1, len(c.embedding))]), (acc, v) -> acc + v)
             / (sqrt(list_reduce(list_prepend(cast(0 as double),
                  [cast(x as double) * cast(x as double) for x in c.embedding]),
                  (acc, v) -> acc + v))
                * sqrt(list_reduce(list_prepend(cast(0 as double),
                    [cast(x as double) * cast(x as double) for x in b.embedding]),
                    (acc, v) -> acc + v))) as cos
      from corpus c cross join bench b
    )
    select vec_id,
           max(cos) as max_cos,
           cast(sum(case when cos >= {_SEM_CONTAM_TAU} then 1 else 0 end) as bigint)
             as n_bench_hits,
           max(cos) >= {_SEM_CONTAM_TAU} as is_contaminated
    from scored group by vec_id
    """,
    tags=("curation", "vector", "contamination", "bench_extended"),
)
def curation_contamination_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """Flag corpus vectors within cosine _SEM_CONTAM_TAU of any benchmark vector.

    100 TB shape: the benchmark side is SMALL by nature (an eval
    suite, not a corpus) — broadcast it and score map-side in one
    pass over the corpus scan; the per-doc max/hit-count is a
    map-side-combined aggregate keyed by vec_id. No LSH needed and no
    corpus shuffle beyond the final keyed aggregate of 3-column rows.
    Determinism: cosine is the shared sequential-fold spelling
    (bitwise identical both engines); max over identical IEEE doubles
    and the exact hit count follow.
    """
    from parquet_processor_spark.ops.vector import norm, pair_cos_arrow

    e = t(spark, sf, "embeddings")
    bench = (
        e.where(F.col("vec_id") % 50 == 0)
        .select(
            F.col("vec_id").alias("bench_id"),
            F.col("embedding").alias("b_emb"),
            norm(F.col("embedding")).alias("nb"),
        )
    )
    corpus = e.where(F.col("vec_id") % 50 != 0).select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nc")
    )
    # r14: Arrow pair scoring (guide §4.2; bit-exact — pair_cos_arrow)
    cos = pair_cos_arrow()(F.col("embedding"), F.col("b_emb"), F.col("nc"), F.col("nb"))
    return (
        corpus.crossJoin(F.broadcast(bench))
        .select("vec_id", cos.alias("cos"))
        .groupBy("vec_id")
        .agg(
            F.max("cos").alias("max_cos"),
            F.sum(F.when(F.col("cos") >= _SEM_CONTAM_TAU, 1).otherwise(0))
            .cast("long")
            .alias("n_bench_hits"),
            (F.max("cos") >= _SEM_CONTAM_TAU).alias("is_contaminated"),
        )
    )


# N189: deterministic keyed pseudonymization (GDPR art. 4(5): replace
# identifiers with a keyed token such that re-identification needs the
# key, while JOINS still work). The privacy family's TRANSFORM member
# — k-anonymity/l-diversity/t-closeness suppress, the DP release adds
# noise, the RTBF delete removes; pseudonymization keeps every row and
# every relationship. The audit proves referential integrity survived:
# the customer-orders join cardinality is IDENTICAL under pseudonyms.
_PSEUDO_SECRET = "ppspark-release-2026"  # stand-in release key (a literal, not a secret)


def _pseudonym(key) -> F.Column:
    return F.substring(
        F.md5(F.concat(F.lit(_PSEUDO_SECRET + ":"), key.cast("string"))), 1, 16
    )


@query(
    "anonymize_pseudonymize",
    oracle=f"""
    with c as (
      select substr(md5('{_PSEUDO_SECRET}:' || cast(c_custkey as varchar)), 1, 16)
               as pseudo_id,
             c_custkey
      from customer
    ),
    o as (
      select substr(md5('{_PSEUDO_SECRET}:' || cast(o_custkey as varchar)), 1, 16)
               as pseudo_id,
             o_custkey, o_totalprice
      from orders
    )
    select c.pseudo_id,
           cast(count(o.o_custkey) as bigint) as n_orders,
           cast(coalesce(sum(floor(o.o_totalprice * 100 + 0.5)), 0) as bigint)
             as total_cents,
           (count(o.o_custkey) =
            (select count(*) from orders oo where oo.o_custkey = c.c_custkey))
             as integrity_ok
    from c left join o on o.pseudo_id = c.pseudo_id
    group by c.pseudo_id, c.c_custkey
    """,
    tags=("curation", "privacy", "pseudonymize", "bench_extended"),
)
def anonymize_pseudonymize(spark: SparkSession, sf: str) -> DataFrame:
    """Keyed pseudonym join: one row per pseudonymized customer with
    order count + exact-cents revenue, and a per-row integrity flag
    proving the pseudonym join matches the raw-key join.

    100 TB shape: the pseudonym is a map-side keyed hash (no lookup
    table to build, store, or leak — the classic tokenization-service
    failure mode); both tables transform in their own scans and the
    join shuffles on the 16-char token exactly as it would on the raw
    key. The integrity flag is computed from the SAME aggregate plus
    a broadcast raw-key count — at scale you sample it; here every
    row carries it. Determinism: md5 literal both engines; cents via
    floor(x*100+0.5) (the numeric.py rounding rule).
    """
    c = t(spark, sf, "customer").select(
        _pseudonym(F.col("c_custkey")).alias("pseudo_id"), "c_custkey"
    )
    o = t(spark, sf, "orders").select(
        _pseudonym(F.col("o_custkey")).alias("pseudo_id_o"),
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    raw_counts = (
        t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
    )
    agg = (
        c.join(o, F.col("pseudo_id") == F.col("pseudo_id_o"), "left")
        .groupBy("pseudo_id", "c_custkey")
        .agg(
            F.sum(F.when(F.col("o_custkey").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orders"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("long").alias("total_cents"),
        )
    )
    return (
        agg.join(
            F.broadcast(raw_counts), agg["c_custkey"] == raw_counts["o_custkey"], "left"
        )
        .select(
            "pseudo_id",
            "n_orders",
            "total_cents",
            (F.col("n_orders") == F.coalesce(F.col("n_raw"), F.lit(0))).alias(
                "integrity_ok"
            ),
        )
    )


# Curation-funnel yield report: the observability artifact every
# corpus-prep run publishes next to its output — how many documents
# survived each gate, in gate order, with cumulative retention. The
# gates here are the pipeline's own cheap screens (target-language,
# Gopher length band, lexical-diversity floor, exact-dup canonical),
# applied CUMULATIVELY so each row answers "of what reached this
# stage, what left it" — the number a pipeline owner actually tunes
# against (a gate that drops 60% of what reaches it is either wrong
# or doing all the work).
_FUNNEL_LANGS = ("en", "de", "fr", "es")
_FUNNEL_MIN_CHARS = 100
_FUNNEL_MAX_CHARS = 500
_FUNNEL_MIN_DISTINCT_RATIO = 0.5


@query(
    "report_curation_funnel",
    oracle=rf"""
    with flags as (
      select doc_id,
             lang in {tuple(_FUNNEL_LANGS)} as f_lang,
             n_chars between {_FUNNEL_MIN_CHARS} and {_FUNNEL_MAX_CHARS} as f_len,
             cast(len(list_distinct(regexp_split_to_array(text, '\s+'))) as double)
               / len(regexp_split_to_array(text, '\s+'))
               >= {_FUNNEL_MIN_DISTINCT_RATIO} as f_div,
             doc_id = min(doc_id) over (partition by md5(text)) as f_canon
      from documents
    ),
    c as (
      select cast(count(*) as bigint) as n0,
             cast(coalesce(sum(case when f_lang then 1 else 0 end), 0) as bigint) as n1,
             cast(coalesce(sum(case when f_lang and f_len then 1 else 0 end), 0) as bigint) as n2,
             cast(coalesce(sum(case when f_lang and f_len and f_div
                           then 1 else 0 end), 0) as bigint) as n3,
             cast(coalesce(sum(case when f_lang and f_len and f_div and f_canon
                           then 1 else 0 end), 0) as bigint) as n4
      from flags
    )
    select stage, stage_name, n_in, n_out,
           n_in - n_out as n_dropped,
           cast(n_out as double) / n0 as retained_frac
    from (
      select n0, 0 as stage, 'ingest' as stage_name, n0 as n_in, n0 as n_out from c
      union all
      select n0, 1, 'lang_filter', n0, n1 from c
      union all
      select n0, 2, 'length_gate', n1, n2 from c
      union all
      select n0, 3, 'diversity_gate', n2, n3 from c
      union all
      select n0, 4, 'exact_dedup', n3, n4 from c
    )
    order by stage
    """,
    tags=("curation", "report", "pipeline", "bench_extended"),
)
def report_curation_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Per-gate survivor counts for the standard curation screen
    chain: target-language keep-set → Gopher-style length band →
    lexical-diversity floor (distinct/total tokens, the repetition
    screen) → exact-dup canonical (corpus-wide keep-lowest-id).

    100 TB shape: ONE pass computes every gate flag per document —
    three are narrow codegen expressions beside the scan, and the
    dedup flag is a min-over-fingerprint window (the only shuffle,
    keyed on md5(text) like dedup_exact). The five cumulative counts
    collapse into a single map-side-combined aggregate row; the
    five-stage output is a driver-side unpivot of that one row (a
    constant-size array explode, no second pass). Retention fractions
    are IEEE divisions on the final row only.
    """
    words = F.split("text", r"\s+")
    flags = t(spark, sf, "documents").select(
        "doc_id",
        F.col("lang").isin(*_FUNNEL_LANGS).alias("f_lang"),
        F.col("n_chars").between(_FUNNEL_MIN_CHARS, _FUNNEL_MAX_CHARS).alias("f_len"),
        (
            F.size(F.array_distinct(words)).cast("double") / F.size(words)
            >= _FUNNEL_MIN_DISTINCT_RATIO
        ).alias("f_div"),
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        ).alias("f_canon"),
    )
    # coalesce: sum() over an EMPTY corpus is NULL; the stage counts
    # must read 0 (mirrored in the oracle)
    one = lambda c: F.coalesce(  # noqa: E731
        F.sum(F.when(c, 1).otherwise(0)), F.lit(0)
    ).cast("long")
    c = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        one(F.col("f_lang")).alias("n1"),
        one(F.col("f_lang") & F.col("f_len")).alias("n2"),
        one(F.col("f_lang") & F.col("f_len") & F.col("f_div")).alias("n3"),
        one(
            F.col("f_lang") & F.col("f_len") & F.col("f_div") & F.col("f_canon")
        ).alias("n4"),
    )
    names = ["ingest", "lang_filter", "length_gate", "diversity_gate", "exact_dedup"]
    stages = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage"),
                F.lit(names[i]).alias("stage_name"),
                F.col(f"n{max(i - 1, 0)}").alias("n_in"),
                F.col(f"n{i}").alias("n_out"),
            )
            for i in range(5)
        ]
    )
    return (
        c.select(F.col("n0").alias("total"), F.explode(stages).alias("s"))
        .select(
            F.col("s.stage").alias("stage"),
            F.col("s.stage_name").alias("stage_name"),
            F.col("s.n_in").alias("n_in"),
            F.col("s.n_out").alias("n_out"),
            (F.col("s.n_in") - F.col("s.n_out")).alias("n_dropped"),
            # try_divide: an empty corpus has total = 0 and must yield
            # NULL (DuckDB's x/0), not an ANSI divide error
            F.try_divide(F.col("s.n_out").cast("double"), F.col("total")).alias(
                "retained_frac"
            ),
        )
        .orderBy("stage")
    )


# Generalization-ladder k-anonymity (Samarati 2001, full-domain
# generalization; the OTHER half of the Sweeney mechanism
# anonymize_k_anonymity suppresses with): rather than nulling small QI
# groups, generalize the geography attribute — nation -> region -> '*'
# here, with the region level coming from the nation dimension (a
# genuine hierarchy table, not a hand map) — to the MINIMAL level at
# which EVERY group clears k. One level for the whole release
# (full-domain), which is what makes the property provable: per-row
# "minimal" generalization fragments the anonymity set (a row released
# at region level is NOT hidden among rows that released their exact
# nation), a classic broken-anonymizer bug this operator exists to
# avoid. The achieved level and group size are emitted per row so the
# release is auditable; the k property over the RELEASED values is
# asserted by the pytest suite, not just promised.
_KGEN = 10  # the release ladder climbs until EVERY group clears this
# (the fixture picks different levels at different SFs — the point)


@query(
    "anonymize_generalize",
    oracle=f"""
    with c as (
      select c_custkey, c_mktsegment, c_nationkey, n.n_regionkey
      from customer join nation n on c_nationkey = n.n_nationkey
    ),
    m as (
      select
        (select coalesce(min(n), 0) from (
           select count(*) as n from c group by c_mktsegment, c_nationkey)) as min0,
        (select coalesce(min(n), 0) from (
           select count(*) as n from c group by c_mktsegment, n_regionkey)) as min1,
        (select coalesce(min(n), 0) from (
           select count(*) as n from c group by c_mktsegment)) as min2
    ),
    lvl as (
      select case when min0 >= {_KGEN} then 0
                  when min1 >= {_KGEN} then 1
                  when min2 >= {_KGEN} then 2
                  else 3 end as gen_level
      from m
    ),
    rel as (
      select c.c_custkey, l.gen_level,
             case when l.gen_level <= 2 then c.c_mktsegment else '*' end
               as qi_segment,
             case l.gen_level
               when 0 then cast(c.c_nationkey as varchar)
               when 1 then 'region:' || cast(c.n_regionkey as varchar)
               else '*' end as qi_geo
      from c, lvl l
    )
    select c_custkey, gen_level, qi_segment, qi_geo,
           cast(count(*) over (partition by qi_segment, qi_geo) as bigint)
             as qi_group_n
    from rel
    """,
    tags=("curation", "governance", "privacy", "generalize", "bench_extended"),
)
def anonymize_generalize(spark: SparkSession, sf: str) -> DataFrame:
    """Release all customers at the minimal generalization level —
    nation, region, geography-suppressed, or (last rung) fully
    suppressed QI — at which EVERY released group reaches k=_KGEN.
    ``gen_level`` (same for all rows, full-domain) and each released
    group's size make the ladder auditable; the last rung collapses
    the release to ONE group, so the k property can only fail if the
    whole population is under k (in which case nothing is releasable
    and the audit column shows it).

    100 TB shape: the level decision is two map-side-combined count
    aggregates collapsed to a 1-row broadcast (min group size per
    level); the hierarchy join broadcasts the nation dimension; the
    released-group sizes are one window over the released QI key —
    the only fact-table shuffle, and it's the same exchange a
    release-audit count would pay anyway. Adding ladder rungs adds
    1-row broadcast minimums, never fact-table passes.
    """
    c = (
        t(spark, sf, "customer")
        .join(
            F.broadcast(
                t(spark, sf, "nation").select("n_nationkey", "n_regionkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_mktsegment", "c_nationkey", "n_regionkey")
    )
    min0 = (
        c.groupBy("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.coalesce(F.min("n"), F.lit(0)).alias("min0"))
    )
    min1 = (
        c.groupBy("c_mktsegment", "n_regionkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.coalesce(F.min("n"), F.lit(0)).alias("min1"))
    )
    min2 = (
        c.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.coalesce(F.min("n"), F.lit(0)).alias("min2"))
    )
    lvl = min0.crossJoin(min1).crossJoin(min2).select(
        F.when(F.col("min0") >= _KGEN, 0)
        .when(F.col("min1") >= _KGEN, 1)
        .when(F.col("min2") >= _KGEN, 2)
        .otherwise(3)
        .alias("gen_level")
    )
    rel = c.crossJoin(F.broadcast(lvl)).select(
        "c_custkey",
        "gen_level",
        F.when(F.col("gen_level") <= 2, F.col("c_mktsegment"))
        .otherwise(F.lit("*"))
        .alias("qi_segment"),
        F.when(F.col("gen_level") == 0, F.col("c_nationkey").cast("string"))
        .when(
            F.col("gen_level") == 1,
            F.concat(F.lit("region:"), F.col("n_regionkey").cast("string")),
        )
        .otherwise(F.lit("*"))
        .alias("qi_geo"),
    )
    w = Window.partitionBy("qi_segment", "qi_geo")
    return rel.select(
        "c_custkey",
        "gen_level",
        "qi_segment",
        "qi_geo",
        F.count(F.lit(1)).over(w).cast("long").alias("qi_group_n"),
    )


# N209: differentially-private MEAN release (the companion to
# anonymize_dp_counts): per market segment, order values clamp to
# [0, C] cents (the sensitivity bound every DP mean needs — an
# unbounded value has unbounded sensitivity), the clamped SUM gets
# C-scaled two-sided geometric noise and the COUNT gets unit noise
# (both md5-keyed, the dp_counts construction), and the released mean
# is one division of the two noisy integers. Epsilon bookkeeping
# follows dp_counts: one seed per release epoch, budget composes
# across re-releases.
_DP_MEAN_CLAMP = 50_000  # cents: values clamp to [0, $500]


def _dpm_sql(tag: str) -> str:
    h = (
        f"('0x' || substr(md5(seg || ':{tag}:{_DP_SEED}'), 1, 15))::bigint"
    )
    return f"(case when {h} = 0 then 60 else length(bin(({h}) & -({h}))) - 1 end)"


@query(
    "anonymize_dp_mean",
    oracle=f"""
    with v as (
      select o_orderpriority as seg,
             least(cast(floor(o_totalprice * 100 + 0.5) as bigint),
                   {_DP_MEAN_CLAMP}) as cents
      from orders
    ),
    g as (
      select seg, cast(count(*) as bigint) as n,
             cast(sum(cents) as bigint) as s
      from v group by seg
    )
    select seg,
           cast(greatest(n + {_dpm_sql('cnt1')} - {_dpm_sql('cnt2')}, 1) as bigint)
             as dp_n,
           cast(s + {_DP_MEAN_CLAMP} * ({_dpm_sql('sum1')} - {_dpm_sql('sum2')})
             as bigint) as dp_sum_cents,
           cast(s + {_DP_MEAN_CLAMP} * ({_dpm_sql('sum1')} - {_dpm_sql('sum2')})
                as double)
             / (100.0 * greatest(n + {_dpm_sql('cnt1')} - {_dpm_sql('cnt2')}, 1))
             as dp_mean
    from g
    """,
    tags=("curation", "governance", "privacy", "dp", "bench_extended"),
)
def anonymize_dp_mean(spark: SparkSession, sf: str) -> DataFrame:
    """DP mean order value per priority segment: clamped integer sums
    + keyed geometric noise on numerator (C-scaled) and denominator
    (unit-scaled), count floored at 1 so the release never divides by
    zero. Everything before the one final division is exact int64.

    100 TB shape: ONE map-side-combined aggregate over the clamped
    projection (clamping is codegen beside the scan); noise is
    per-GROUP arithmetic on the collapsed |segments| rows — the
    corpus never shuffles, the release table is segment-sized.
    """
    v = t(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("seg"),
        F.least(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"),
            F.lit(_DP_MEAN_CLAMP),
        ).alias("cents"),
    )
    g = v.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    parts = [F.col("seg")]
    cnt_noise = _dp_tz(_dp_hash60(parts, "cnt1")) - _dp_tz(_dp_hash60(parts, "cnt2"))
    sum_noise = _dp_tz(_dp_hash60(parts, "sum1")) - _dp_tz(_dp_hash60(parts, "sum2"))
    dp_n = F.greatest(F.col("n") + cnt_noise, F.lit(1)).cast("long")
    dp_sum = (F.col("s") + F.lit(_DP_MEAN_CLAMP) * sum_noise).cast("long")
    return g.select(
        "seg",
        dp_n.alias("dp_n"),
        dp_sum.alias("dp_sum_cents"),
        (dp_sum.cast("double") / (F.lit(100.0) * dp_n)).alias("dp_mean"),
    )


# N220: dataset datasheet (Gebru et al. 2021 "Datasheets for
# datasets" / the Dolma & FineWeb release-notes table): the one-pass
# summary a corpus release ships — volume, token/char mass, length
# distribution tails, exact-duplicate rate, and language composition
# — as a tall hash-checked metric table. The deeper artifacts
# (dedup_cluster_report, report_source_overlap,
# report_curation_funnel, the contamination trio) are the drill-downs
# this page links to; THIS is the page.
_DS_SHORT = 50  # docs under 50 ws-tokens count as "short"
_DS_LONG = 1000


@query(
    "report_dataset_datasheet",
    oracle=rf"""
    with d as (
      select doc_id, lang, n_chars,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
               as n_tok,
             md5(text) as fp
      from documents
    ),
    s as (
      select cast(count(*) as double) as n_docs,
             cast(sum(n_tok) as double) as n_tokens,
             cast(sum(n_chars) as double) as n_chars,
             cast(count(distinct fp) as double) as n_distinct,
             cast(count(case when n_tok < {_DS_SHORT} then 1 end) as double)
               as n_short,
             cast(count(case when n_tok > {_DS_LONG} then 1 end) as double)
               as n_long
      from d
    )
    select 'n_docs' as metric, n_docs as value from s
    union all select 'total_ws_tokens', n_tokens from s
    union all select 'total_chars', n_chars from s
    union all select 'mean_doc_tokens', n_tokens / nullif(n_docs, 0.0) from s
    union all select 'exact_dup_rate',
      (n_docs - n_distinct) / nullif(n_docs, 0.0) from s
    union all select 'share_short_docs', n_short / nullif(n_docs, 0.0) from s
    union all select 'share_long_docs', n_long / nullif(n_docs, 0.0) from s
    union all
    select 'lang_share:' || lang,
           cast(count(*) as double) / (select n_docs from s)
    from d group by lang
    """,
    tags=("curation", "report", "datasheet", "bench_extended"),
)
def report_dataset_datasheet(spark: SparkSession, sf: str) -> DataFrame:
    """Tall (metric, value) datasheet for the documents corpus:
    volume, whitespace-token and char mass, mean length, short/long
    tails, exact-duplicate rate (content md5), and per-language
    composition shares.

    100 TB shape: ONE corpus scan feeds everything — the scalar block
    is a single map-side-combined aggregate (the distinct-fingerprint
    term is the dedup_exact partial-distinct shape), the language
    block a |langs|-row rollup against the broadcast total; text
    never shuffles (md5 beside the scan). Every value is a double
    count or one guarded division, so the page hash-checks bitwise.
    """
    d = t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.expr(r"filter(split(text, '\\s+'), x -> x != '')")).alias("n_tok"),
        F.md5("text").alias("fp"),
    )
    s = d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("n_tok").cast("double").alias("n_tokens"),
        F.sum("n_chars").cast("double").alias("n_chars"),
        F.countDistinct("fp").cast("double").alias("n_distinct"),
        F.count(F.when(F.col("n_tok") < _DS_SHORT, 1)).cast("double").alias("n_short"),
        F.count(F.when(F.col("n_tok") > _DS_LONG, 1)).cast("double").alias("n_long"),
    )

    def m(name: str, expr: str) -> DataFrame:
        return s.select(F.lit(name).alias("metric"), F.expr(expr).alias("value"))

    scalars = (
        m("n_docs", "n_docs")
        .unionByName(m("total_ws_tokens", "n_tokens"))
        .unionByName(m("total_chars", "n_chars"))
        .unionByName(m("mean_doc_tokens", "n_tokens / nullif(n_docs, 0.0)"))
        .unionByName(m("exact_dup_rate", "(n_docs - n_distinct) / nullif(n_docs, 0.0)"))
        .unionByName(m("share_short_docs", "n_short / nullif(n_docs, 0.0)"))
        .unionByName(m("share_long_docs", "n_long / nullif(n_docs, 0.0)"))
    )
    langs = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("double").alias("n_l"))
        .crossJoin(F.broadcast(s.select("n_docs")))
        .select(
            F.concat(F.lit("lang_share:"), F.col("lang")).alias("metric"),
            (F.col("n_l") / F.col("n_docs")).alias("value"),
        )
    )
    return scalars.unionByName(langs)


# N250: deterministic per-user date shifting — the privacy kit's
# TEMPORAL member (HIPAA Safe Harbor's date handling): shift every
# one of a user's timestamps by the same keyed-hash offset in
# [-14, +14] days, so absolute dates are hidden while within-user
# intervals — session gaps, retention curves, funnel latencies —
# survive exactly. Like anonymize_pseudonymize there is no shift
# table to build, store, or leak: the offset is a map-side keyed
# hash of the user id.
_DSHIFT_SPAN = 29  # offsets take values in [-14, +14]


@query(
    "anonymize_date_shift",
    oracle=f"""
    with s as (
      select user_id, ts,
             cast(('0x' || substr(md5('{_PSEUDO_SECRET}|shift|'
                                      || cast(user_id as varchar)), 1, 8))::bigint
                  % {_DSHIFT_SPAN} - 14 as bigint) as shift_days
      from events where ts is not null
    )
    select user_id,
           cast(count(*) as bigint) as n_events,
           cast(min(shift_days) as bigint) as shift_days,
           cast(date_diff('second', min(ts), max(ts)) as bigint) as span_sec,
           cast(date_diff('second',
                          min(ts + interval 1 day * shift_days),
                          max(ts + interval 1 day * shift_days)) as bigint)
             as span_sec_shifted,
           (date_diff('second', min(ts), max(ts)) =
            date_diff('second',
                      min(ts + interval 1 day * shift_days),
                      max(ts + interval 1 day * shift_days))) as span_preserved,
           min(ts + interval 1 day * shift_days) as shifted_min_ts
    from s group by user_id
    """,
    tags=("curation", "privacy", "temporal", "bench_extended"),
)
def anonymize_date_shift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user audit of the keyed date shift: the constant offset,
    the before/after within-user span (provably equal — the property
    the shift exists to preserve), and the shifted anchor.

    100 TB shape: the offset is pure codegen beside the scan (md5 of
    the key, no join, no state); the audit is one map-side-combined
    per-user aggregate. Exporting the shifted corpus is a projection
    with zero shuffles. Determinism: same md5-literal discipline as
    anonymize_pseudonymize, so re-runs and late-arriving slices shift
    identically.
    """
    shift = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{_PSEUDO_SECRET}|shift|"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _DSHIFT_SPAN
        - 14
    ).cast("long")
    s = (
        t(spark, sf, "events")
        .where(F.col("ts").isNotNull())
        .select("user_id", "ts", shift.alias("shift_days"))
        .withColumn(
            "shifted_ts", F.expr("ts + make_interval(0, 0, 0, cast(shift_days as int))")
        )
    )
    span = F.max("ts").cast("long") - F.min("ts").cast("long")
    span_sh = F.max("shifted_ts").cast("long") - F.min("shifted_ts").cast("long")
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("shift_days").cast("long").alias("shift_days"),
        span.cast("long").alias("span_sec"),
        span_sh.cast("long").alias("span_sec_shifted"),
        (span == span_sh).alias("span_preserved"),
        F.min("shifted_ts").alias("shifted_min_ts"),
    )

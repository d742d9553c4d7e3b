"""Text analysis for training-data pipelines (SURVEY.md §2.13 N4).

language-ID, quality scoring, token counting, and document
fingerprinting over the ``documents`` table. Everything here is
JVM-side built-ins (regexp_count / split / md5) — no Python UDFs —
so the hot path stays inside whole-stage codegen and scales linearly
with no shuffle except the final aggregates.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_processor_spark.registry import query
from parquet_processor_spark.tables import t

# N4: per-language corpus stats.
@query(
    "text_stats",
    oracle="""
    select lang,
           count(*) as n_docs,
           cast(sum(n_chars) as double) / count(*) as avg_chars,
           cast(sum(len(regexp_split_to_array(text, '\\s+'))) as double)
                 / count(*) as avg_tokens,
           max(n_chars) as max_chars
    from documents
    group by lang
    """,
    tags=("text",),
)
def text_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents").withColumn("n_tokens", F.size(F.split("text", r"\s+")))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.max("n_chars").alias("max_chars"),
    )


# N4: per-document token counts — whitespace tokens, word tokens, and a
# BPE-ish sub-word proxy (word-or-punctuation runs).
@query(
    "token_count",
    oracle=r"""
    select doc_id,
           len(regexp_split_to_array(text, '\s+')) as n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z0-9]+')) as n_word_tokens,
           len(regexp_extract_all(text, '\w+|[^\w\s]+')) as n_bpe_tokens
    from documents
    """,
    tags=("text",),
)
def token_count(spark: SparkSession, sf: str) -> DataFrame:
    return t(spark, sf, "documents").select(
        "doc_id",
        F.size(F.split("text", r"\s+")).alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(r"[A-Za-z0-9]+")).alias("n_word_tokens"),
        F.regexp_count("text", F.lit(r"\w+|[^\w\s]+")).alias("n_bpe_tokens"),
    )


# N4: n-gram-heuristic language ID — stopword-marker scoring with a
# deterministic argmax tie-break. (The synthetic corpus is English word
# salad, so most docs classify 'en' — the operator is the point.)
_MARKERS = {
    "en": r"\b(the|and|of|to|a)\b",
    "de": r"\b(der|die|das|und|ist)\b",
    "es": r"\b(el|la|los|las|es)\b",
    "fr": r"\b(le|les|et|est|une)\b",
}


@query(
    "lang_id",
    oracle=f"""
    select doc_id, lang,
           case
             when len(regexp_extract_all(text, '{_MARKERS["en"]}'))
                  >= greatest(len(regexp_extract_all(text, '{_MARKERS["de"]}')),
                              len(regexp_extract_all(text, '{_MARKERS["es"]}')),
                              len(regexp_extract_all(text, '{_MARKERS["fr"]}'))) then 'en'
             when len(regexp_extract_all(text, '{_MARKERS["de"]}'))
                  >= greatest(len(regexp_extract_all(text, '{_MARKERS["es"]}')),
                              len(regexp_extract_all(text, '{_MARKERS["fr"]}'))) then 'de'
             when len(regexp_extract_all(text, '{_MARKERS["es"]}'))
                  >= len(regexp_extract_all(text, '{_MARKERS["fr"]}')) then 'es'
             else 'fr'
           end as predicted_lang
    from documents
    """,
    tags=("text",),
)
def lang_id(spark: SparkSession, sf: str) -> DataFrame:
    s = {k: F.regexp_count("text", F.lit(v)) for k, v in _MARKERS.items()}
    predicted = (
        F.when(s["en"] >= F.greatest(s["de"], s["es"], s["fr"]), "en")
        .when(s["de"] >= F.greatest(s["es"], s["fr"]), "de")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return t(spark, sf, "documents").select(
        "doc_id", "lang", predicted.alias("predicted_lang")
    )


# N4: quality scoring — length / punctuation / stopword-ratio heuristic
# (the filter a pretraining pipeline runs before tokenization).
@query(
    "quality_score",
    oracle=r"""
    select doc_id,
           length(text) as len_chars,
           len(regexp_extract_all(text, '[[:punct:]]')) as n_punct,
           least(length(text) / 500.0, 1.0) * 0.4
             + (1.0 - cast(len(regexp_extract_all(text, '[[:punct:]]')) as double)
                      / greatest(length(text), 1)) * 0.3
             + least(cast(len(regexp_extract_all(text, '\b(the|and|of|to|a)\b')) as double)
                     / greatest(len(regexp_split_to_array(text, '\s+')), 1) * 5.0, 1.0) * 0.3
             as quality
    from documents
    """,
    tags=("text",),
)
def quality_score(spark: SparkSession, sf: str) -> DataFrame:
    len_chars = F.length("text")
    n_punct = F.regexp_count("text", F.lit(r"\p{Punct}"))
    n_stop = F.regexp_count("text", F.lit(r"\b(the|and|of|to|a)\b"))
    n_ws = F.size(F.split("text", r"\s+"))
    quality = (
        F.least(len_chars / F.lit(500.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - n_punct.cast("double") / F.greatest(len_chars, F.lit(1))) * 0.3
        + F.least(n_stop.cast("double") / F.greatest(n_ws, F.lit(1)) * 5.0, F.lit(1.0)) * 0.3
    )
    return t(spark, sf, "documents").select(
        "doc_id",
        len_chars.alias("len_chars"),
        n_punct.alias("n_punct"),
        quality.alias("quality"),
    )


# N4: document fingerprinting — content hash for dedup/provenance.
# md5 is the cross-engine-checkable fingerprint; the engine also exposes
# xxhash64 (cheaper, used by dedup.py at scale) as fp64 in the lib path.
@query(
    "doc_fingerprint",
    oracle="""
    select doc_id, md5(text) as fp,
           substring(md5(text), 1, 8) as fp_short
    from documents
    """,
    tags=("text", "dedup"),
)
def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    return t(spark, sf, "documents").select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.substring(F.md5("text"), 1, 8).alias("fp_short"),
    )


# Edit distance — the character-level near-dup measure (complements the
# token-level Jaccard family): distance from each part name to a fixed
# probe plus a same-brand name-pair sample.
@query(
    "fn_edit_distance",
    oracle="""
    select p_partkey,
           levenshtein(p_name, 'part name probe') as dist_to_probe,
           levenshtein(p_brand, p_type) as brand_type_dist
    from part
    """,
    tags=("text", "scalar"),
)
def fn_edit_distance(spark: SparkSession, sf: str) -> DataFrame:
    return t(spark, sf, "part").select(
        "p_partkey",
        F.levenshtein("p_name", F.lit("part name probe")).alias("dist_to_probe"),
        F.levenshtein("p_brand", "p_type").alias("brand_type_dist"),
    )


# N4d: passage chunking — split every document into overlapping
# word-window chunks (the retrieval-corpus / context-packing prep step:
# fixed window W, stride S, last window clamped). Pure array arithmetic
# on both engines; the chunk count is exact integer math so the row set
# is deterministic.
_CHUNK_W = 32
_CHUNK_S = 16


@query(
    "doc_chunk_windows",
    oracle=rf"""
    with w as (
      select doc_id, regexp_split_to_array(text, '\s+') as words from documents
    )
    select doc_id,
           cast(k as bigint) as chunk_id,
           cast(len(words[k*{_CHUNK_S}+1 : k*{_CHUNK_S}+{_CHUNK_W}]) as bigint) as n_chunk_words,
           array_to_string(words[k*{_CHUNK_S}+1 : k*{_CHUNK_S}+{_CHUNK_W}], ' ') as chunk_text
    from w, unnest(generate_series(0,
         (greatest(len(words) - {_CHUNK_W}, 0) + {_CHUNK_S} - 1) // {_CHUNK_S})) as t(k)
    """,
    tags=("text", "curation"),
)
def doc_chunk_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping word-window chunks per document (window ``_CHUNK_W``
    words, stride ``_CHUNK_S``); the last chunk clamps at the doc end.

    100 TB shape: a narrow map-only explode — each row fans out to
    ceil(max(n-W,0)/S)+1 chunks with zero shuffle; chunk text is built
    by array slice inside codegen (the words array is bound to a
    column once, so the slice lambda reads an attribute, same pattern
    as word_shingles). Downstream embedding/packing stages key chunks
    by (doc_id, chunk_id) — a deterministic, rerunnable identity.
    """
    n_last = F.expr(
        f"(greatest(size(words) - {_CHUNK_W}, 0) + {_CHUNK_S} - 1) div {_CHUNK_S}"
    )
    chunk = F.slice(F.col("words"), F.col("chunk_id") * _CHUNK_S + 1, _CHUNK_W)
    return (
        t(spark, sf, "documents")
        .select("doc_id", F.split("text", r"\s+").alias("words"))
        # explode_outer: the sequence(0, n>=0) is never empty, and a
        # plain explode's inferred size>0 guard would re-run the size
        # arithmetic (and, pushed below the projection, the split)
        # per row — see dedup._explode_shingles.
        .select(
            "doc_id", "words", F.explode_outer(F.sequence(F.lit(0), n_last)).alias("chunk_id")
        )
        .where(F.col("chunk_id").isNotNull())
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_chunk_words"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
    )


# N4e: corpus-statistics quality scoring — every doc scored against a
# unigram term-frequency model built FROM the corpus itself in the
# same plan (the exact-arithmetic analog of a unigram log-prob /
# perplexity filter: rare-token docs score low avg_freq, boilerplate
# scores high; integer counts keep the result bitwise-deterministic
# where a sum of float log-probs would depend on partial-sum order).
@query(
    "quality_unigram_rarity",
    oracle=r"""
    with tok0 as (
      select doc_id, unnest(regexp_split_to_array(text, '\s+')) as tok
      from documents
    ),
    tok as (select * from tok0 where tok <> ''),
    vocab as (select tok, count(*) as n_tok from tok group by tok)
    select t.doc_id,
           count(*) as n_tokens,
           cast(sum(v.n_tok) as bigint) as sum_freq,
           min(v.n_tok) as min_freq,
           cast(sum(v.n_tok) as double) / count(*) as avg_freq
    from tok t join vocab v on t.tok = v.tok
    group by t.doc_id
    """,
    tags=("text", "curation"),
)
def quality_unigram_rarity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc unigram-frequency score against the corpus model.

    100 TB shape: the token explode never materializes to storage;
    the vocab aggregate is map-side combined and Zipf-small relative
    to the corpus (shuffle carries one row per distinct token per
    task); the score join shuffles corpus tokens once on the token
    key — or broadcasts the vocab when a frequency floor caps it.
    avg_freq is one bigint/bigint division per doc: a single IEEE
    rounding, identical across engines — never an order-dependent
    float accumulation.

    Determinism notes (round-5 fix): empty tokens (leading/trailing
    whitespace splits) are filtered on BOTH engines so tokenizer edge
    cases can never diverge, and the oracle casts sum(n_tok) to bigint
    — DuckDB's sum(bigint) is HUGEINT (arrow decimal128), which the
    driver's value hash sees as Decimal vs Spark's int64.
    """
    # explode_outer: plain explode infers a size>0 filter whose
    # pushdown re-runs the split per row (see dedup._explode_shingles);
    # the `tok != ''` guard above the Generate also drops the null row
    # outer explode emits for null text.
    tok = (
        t(spark, sf, "documents")
        .select("doc_id", F.explode_outer(F.split("text", r"\s+")).alias("tok"))
        .where(F.col("tok") != "")
    )
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    return (
        tok.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_tok").alias("sum_freq"),
            F.min("n_tok").alias("min_freq"),
            (F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias("avg_freq"),
        )
    )


def _corpus_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, tok) with empty tokens dropped — the shared tokenizer
    for the corpus-statistics scorers (same normalization as
    quality_unigram_rarity so the family can never diverge)."""
    return (
        t(spark, sf, "documents")
        .select("doc_id", F.explode_outer(F.split("text", r"\s+")).alias("tok"))
        .where(F.col("tok") != "")
    )


_TOK_CTE = r"""
    tok as (
      select doc_id, tok from (
        select doc_id, unnest(regexp_split_to_array(text, '\s+')) as tok
        from documents
      ) where tok <> ''
    )
"""


# N4f: per-document top TF-IDF term — the keyword-extraction /
# salience-scoring step of a curation pipeline. idf is the LINEAR
# ratio N/df (not log): tf * (N/df) is two IEEE operations in a fixed
# order, so the double matches the oracle bitwise, where a transcendental
# ln() could differ in the last ulp between libm builds.
@query(
    "quality_tfidf",
    oracle=rf"""
    with {_TOK_CTE},
    tf as (select doc_id, tok, count(*) as tf from tok group by doc_id, tok),
    dfreq as (select tok, count(*) as df from tf group by tok),
    n as (select count(*) as n_docs from documents),
    scored as (
      select t.doc_id, t.tok, t.tf,
             cast(t.tf as double) * (cast(n.n_docs as double) / cast(d.df as double))
               as score
      from tf t join dfreq d on t.tok = d.tok cross join n
    )
    select doc_id, tok as top_term, cast(tf as bigint) as top_tf, score as top_score
    from (
      select *, row_number() over (partition by doc_id order by score desc, tok) as rn
      from scored
    ) where rn = 1
    """,
    tags=("text", "curation"),
)
def quality_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc most-salient term by tf * (N/df).

    100 TB shape: tf is one map-side-combined aggregate on
    (doc_id, tok); df aggregates tf's output (already one row per
    doc-term, Zipf-small on the tok key); N is a 1-row broadcast —
    never a driver-side scalar; the final per-doc argmax is a
    window over the doc_id partitioning the tf shuffle already
    established. Deterministic tie-break: score desc, then token asc.
    """
    from pyspark.sql import Window

    tok = _corpus_tokens(spark, sf)
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = t(spark, sf, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            (
                F.col("tf").cast("double")
                * (F.col("n_docs").cast("double") / F.col("df").cast("double"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("tok").alias("top_term"),
            F.col("tf").alias("top_tf"),
            F.col("score").alias("top_score"),
        )
    )


# N4g: vocabulary coverage / OOV rate — build the top-K corpus
# vocabulary (the tokenizer-training step) and score every document by
# how much of it the vocab covers. Pretraining pipelines drop or route
# high-OOV documents; tokenizer training needs exactly this frequency
# cut.
_VOCAB_K = 500


@query(
    "vocab_coverage",
    oracle=rf"""
    with {_TOK_CTE},
    tc as (select tok, count(*) as n from tok group by tok),
    vocab as (select tok from tc order by n desc, tok limit {_VOCAB_K}),
    j as (
      select t.doc_id, case when v.tok is null then 1 else 0 end as oov
      from tok t left join vocab v on t.tok = v.tok
    )
    select doc_id,
           count(*) as n_tokens,
           cast(sum(oov) as bigint) as n_oov,
           cast(sum(oov) as double) / count(*) as oov_ratio
    from j group by doc_id
    """,
    tags=("text", "curation"),
)
def vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the corpus top-K vocab.

    100 TB shape: token counts are map-side combined; the global top-K
    is a TakeOrdered (per-partition top-K then a K-row merge — never a
    full sort); the K-row vocab broadcasts to the membership join, so
    the corpus token stream is scored map-side with zero extra
    shuffle beyond the per-doc aggregate. Vocab tie-break is
    deterministic: count desc, then token asc.
    """
    tok = _corpus_tokens(spark, sf)
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .select("doc_id", oov.alias("oov"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("oov").cast("long").alias("n_oov"),
            (F.sum("oov").cast("double") / F.count(F.lit(1))).alias("oov_ratio"),
        )
    )


# N4h: vocab-id encoding — apply the trained top-K vocabulary as a
# tokenizer: every document's token stream becomes an ordered id
# sequence (rank-by-frequency ids, OOV -> 0). The ids would feed
# sequence packing (pack_sequences) directly; the driver-checkable
# facts are the count, the OOV count, and an md5 over the
# comma-joined id sequence (exact order-sensitive fingerprint).
@query(
    "tokenize_to_ids",
    oracle=rf"""
    with w as (
      select doc_id, regexp_split_to_array(text, '\s+') as words from documents
    ),
    tok0 as (
      select doc_id, i as pos, words[i] as tok
      from w, unnest(generate_series(1, len(words))) as s(i)
    ),
    tok as (select * from tok0 where tok <> ''),
    vc as (select tok, count(*) as n from tok group by tok),
    vocab as (
      select tok, row_number() over (order by n desc, tok) as id
      from vc order by n desc, tok limit {_VOCAB_K}
    ),
    j as (
      select t.doc_id, t.pos, coalesce(v.id, 0) as id
      from tok t left join vocab v on t.tok = v.tok
    )
    select doc_id,
           count(*) as n_tokens,
           cast(sum(case when id = 0 then 1 else 0 end) as bigint) as n_oov,
           md5(string_agg(cast(id as varchar), ',' order by pos)) as ids_hash
    from j group by doc_id
    """,
    tags=("text", "curation", "tokenize"),
)
def tokenize_to_ids(spark: SparkSession, sf: str) -> DataFrame:
    """Encode each document as an ordered vocab-id sequence.

    100 TB shape: the vocab is a TakeOrdered top-K (per-partition
    top-K, K-row merge — vocab_coverage's plan) and broadcasts to
    the encode join, so encoding is map-side with zero shuffle
    beyond the per-doc re-pack; the re-pack groups on doc_id and
    restores order via array_sort over (pos, id) structs — a
    deterministic in-memory sort of one document's tokens, never a
    global sort. The id fingerprint is md5 over the ordered join —
    byte-stable across engines, partitionings, and retries.
    """
    from pyspark.sql import Window

    tok = (
        t(spark, sf, "documents")
        .select("doc_id", F.posexplode_outer(F.split("text", r"\s+")).alias("pos0", "tok"))
        .where(F.col("tok") != "")
        # DuckDB's generate_series subscripts are 1-based; match them
        # so `pos` means the same thing on both engines.
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    topk = counts.orderBy(F.col("n").desc(), "tok").limit(_VOCAB_K)
    # rank the K surviving rows (K-row window, single tiny partition
    # post-TakeOrdered — never a corpus-wide single-partition sort)
    vocab = topk.withColumn(
        "id", F.row_number().over(Window.orderBy(F.col("n").desc(), "tok"))
    ).select("tok", "id")
    j = (
        tok.join(F.broadcast(vocab), "tok", "left")
        .select("doc_id", "pos", F.coalesce("id", F.lit(0)).alias("id"))
    )
    ids_in_order = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "id"))), lambda x: x["id"]
    )
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("id") == 0, 1).otherwise(0)).cast("long").alias("n_oov"),
        F.md5(
            F.concat_ws(",", F.transform(ids_in_order, lambda x: x.cast("string")))
        ).alias("ids_hash"),
    )


# N4i: corpus heavy hitters — the exact top-K most frequent tokens
# with corpus share. The profiling step a data pipeline runs before
# choosing stop-word lists / vocab caps.
_HH_K = 20


@query(
    "agg_heavy_hitters",
    oracle=rf"""
    with {_TOK_CTE},
    tc as (select tok, count(*) as n from tok group by tok),
    total as (select count(*) as n_total from tok)
    select tok, n, cast(n as double) / n_total as share
    from tc cross join total
    order by n desc, tok limit {_HH_K}
    """,
    tags=("text", "agg", "topk"),
)
def agg_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Exact top-K tokens (K=_HH_K) by corpus frequency, with corpus share.

    100 TB shape: token counts are ONE map-side-combined aggregate
    (Zipf-small shuffle: one row per distinct token per task); the
    top-K is a TakeOrderedAndProject (per-partition heaps, K-row
    driver merge — never a global sort); the corpus total is a 1-row
    broadcast onto the K rows. For a streaming/bounded-memory variant
    the same query shape runs over Misra-Gries summaries per
    partition (merge = sum + truncate), trading exactness for O(K)
    state — unnecessary here because the exact aggregate already
    map-side-combines to vocabulary size, not corpus size.
    Deterministic tie-break: count desc, then token asc.
    """
    tok = _corpus_tokens(spark, sf)
    tc = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = tok.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        tc.orderBy(F.col("n").desc(), "tok")
        .limit(_HH_K)
        .crossJoin(F.broadcast(total))
        .select("tok", "n", (F.col("n").cast("double") / F.col("n_total")).alias("share"))
    )


# N4j: bigram language-model rarity — the 2-gram extension of
# quality_unigram_rarity: score each document by how common its
# ADJACENT TOKEN PAIRS are in the corpus. Low sum/avg frequency flags
# machine-garbled or highly atypical word order that unigram stats
# miss (each word common, the sequence never seen).
@query(
    "quality_bigram_lm",
    oracle=r"""
    with w as (
      select doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') as words
      from documents
    ),
    big as (
      select doc_id,
             ('0x' || substr(md5(words[i] || ' ' || words[i + 1]), 1, 15))::bigint as bk
      from w, unnest(generate_series(1, len(words) - 1)) as s(i)
    ),
    model as (select bk, count(*) as n_big from big group by bk)
    select b.doc_id,
           count(*) as n_bigrams,
           cast(sum(m.n_big) as bigint) as sum_freq,
           min(m.n_big) as min_freq,
           cast(sum(m.n_big) as double) / count(*) as avg_freq
    from big b join model m on b.bk = m.bk
    group by b.doc_id
    """,
    tags=("text", "curation", "ngram"),
)
def quality_bigram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc bigram-frequency score against the corpus bigram model.

    100 TB shape: same as the unigram scorer, one n-gram order up —
    bigram expansion is map-only array arithmetic over the tokenized
    row (never a positional self-join: (doc,pos)⋈(doc,pos+1) would
    shuffle the token stream twice to rebuild adjacency the array
    already has); pairs are md5-hashed to 60-bit longs BEFORE any
    shuffle (dedup-family policy: the model aggregate and score join
    move 8-byte keys, not string pairs — a hash collision merges two
    pair counts identically on both engines, so parity is unaffected).
    The model aggregate is map-side combined; the score join shuffles
    the bigram stream once. Bigram vocab grows faster than unigram (a
    frequency-floor broadcast cap applies at corpus scale), but the
    per-doc plan shape is unchanged. Docs with <2 tokens have no
    bigrams and are absent by definition (both engines: inner join
    over an empty expansion). explode_outer + null guard, not plain
    explode — see dedup._explode_shingles for the inferred-filter
    pushdown trap that re-runs the expansion per row (measured 30x
    on this query: 28.5 s -> under a second at sf0.1).
    """
    w = t(spark, sf, "documents").select(
        "doc_id",
        F.expr(r"filter(split(text, '\\s+'), x -> x != '')").alias("words"),
    )
    big = (
        w.select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    "case when size(words) >= 2 then "
                    "  transform(sequence(1, size(words) - 1), "
                    "            i -> concat(words[i - 1], ' ', words[i])) "
                    "else array() end"
                )
            ).alias("pair"),
        )
        .where(F.col("pair").isNotNull())
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("pair"), 1, 15), 16, 10).cast("bigint").alias("bk"),
        )
    )
    model = big.groupBy("bk").agg(F.count(F.lit(1)).alias("n_big"))
    return (
        big.join(model, "bk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("n_big").alias("sum_freq"),
            F.min("n_big").alias("min_freq"),
            (F.sum("n_big").cast("double") / F.count(F.lit(1))).alias("avg_freq"),
        )
    )


# N65: lexical diversity — the repetitiveness/diversity quality signal
# (the Gopher-rules family) WITHOUT transcendentals: Shannon entropy
# needs log2 (last-ulp divergence risk between libm builds — see the
# quality_tfidf linear-idf note), but the Simpson repeat probability
# Σc_i²/n² and the type-token ratio carry the same ranking signal with
# INTEGER sums and a single fixed-order IEEE division each, so the
# doubles match the oracle bitwise.
@query(
    "quality_diversity",
    oracle=rf"""
    with {_TOK_CTE},
    tf as (select doc_id, tok, count(*) as c from tok group by doc_id, tok)
    select doc_id,
           cast(sum(c) as bigint) as n_tokens,
           cast(count(*) as bigint) as n_distinct,
           cast(count(*) as double) / cast(sum(c) as double) as type_token_ratio,
           cast(sum(c * c) as bigint) as sum_sq,
           cast(sum(c * c) as double)
             / (cast(sum(c) as double) * cast(sum(c) as double)) as repeat_prob
    from tf group by doc_id
    """,
    tags=("text", "curation"),
)
def quality_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc lexical diversity: type-token ratio (distinct/total)
    and Simpson repeat probability (Σc² / n² — the chance two random
    token draws coincide; high = boilerplate/repetition, the signal a
    curation filter thresholds).

    100 TB shape: two nested map-side-combined aggregates over the
    token explode — (doc, tok) counts shuffle once on the doc+token
    key, then collapse per doc; no joins, no windows, nothing but
    integers through the shuffles. The divisions happen once per doc
    on the final aggregate row.
    """
    tf = _corpus_tokens(spark, sf).groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    n = F.sum("c")
    sq = F.sum(F.col("c") * F.col("c"))
    return tf.groupBy("doc_id").agg(
        n.alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.count(F.lit(1)).cast("double") / n.cast("double")).alias("type_token_ratio"),
        sq.alias("sum_sq"),
        (sq.cast("double") / (n.cast("double") * n.cast("double"))).alias("repeat_prob"),
    )


# N66: group-wise heavy hitters — the per-source top-terms table a
# corpus report shows beside the global top-k. The window ranks the
# COLLAPSED (source, token) aggregate, never the token stream, and
# Spark plans the rank<=k filter as WindowGroupLimit (per-partition
# top-k retained map-side before the window shuffle).
_HH_GROUP_K = 3


@query(
    "agg_heavy_hitters_grouped",
    oracle=rf"""
    with {_TOK_CTE},
    src as (select s.source, k.tok
            from tok k join documents s on k.doc_id = s.doc_id),
    tf as (select source, tok, count(*) as n from src group by source, tok)
    select source, tok, cast(n as bigint) as n, cast(rk as bigint) as rk from (
      select source, tok, n,
             row_number() over (partition by source order by n desc, tok) as rk
      from tf
    ) where rk <= {_HH_GROUP_K}
    """,
    tags=("text", "agg", "topk"),
)
def agg_heavy_hitters_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """Top-K tokens per source (deterministic tiebreak: count desc,
    token asc).

    100 TB shape: the token stream joins the doc→source map on
    doc_id (at corpus scale the doc table side is pre-bucketed or the
    explode carries source along — here a join keeps the shared
    tokenizer), collapses to (source, token) counts map-side, and
    only the collapsed Zipf-small table reaches the per-source
    window, which Spark executes as WindowGroupLimit — each task
    keeps K rows per source before the source-keyed exchange.
    """
    from pyspark.sql import Window

    src = _corpus_tokens(spark, sf).join(
        t(spark, sf, "documents").select("doc_id", "source"), "doc_id"
    )
    tf = src.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("tok"))
    return (
        tf.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _HH_GROUP_K)
        .select("source", "tok", "n", F.col("rk").cast("long").alias("rk"))
    )


# BPE merge training, Sennrich-style (Sennrich et al. 2016, the
# published subword-BPE algorithm): collapse the corpus to a
# (word, count) vocabulary ONCE, represent each distinct word as a
# space-separated character-symbol string, then run N rounds of "find
# the most frequent adjacent symbol pair (weighted by word count),
# fuse it everywhere". Per-round cost is VOCAB-mass, independent of
# corpus duplication — the round-6 verdict's fix for the one weak
# plan in the catalog (the old word-level variant re-scanned the full
# corpus text every round: O(corpus chars x rounds)). Output is the
# learned merge table (round, pair, n): tiny, exact, and the artifact
# downstream tokenization consumes (tokenizer_bpe_apply).
_BPE_ROUNDS = 6
_BPE_WORD_SEP = "|"  # word-boundary symbol for apply; fixture words are [A-Za-z0-9_-] so it cannot collide


def _bpe_pairs(syms: DataFrame, weight: str | None = None) -> DataFrame:
    """(pair, n) counts of adjacent symbol pairs over 'sym' rows,
    each row weighted by ``weight`` (1 if None).

    One-symbol rows contribute no pairs. The n>=2 guard matters:
    Spark's sequence(1, 0) is the DESCENDING [1, 0] — feeding the
    transform an index 0 (element_at error) and a phantom 1-symbol
    "pair" — while DuckDB's generate_series(1, 0) is empty; guarding
    to an empty array makes both engines agree (and explode_outer
    turns it into one null row the filter drops).
    """
    ws = F.split(F.col("sym"), " ")
    pair_arr = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws(" ", F.element_at(ws, i), F.element_at(ws, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    w = F.col(weight) if weight else F.lit(1).cast("long")
    return (
        syms.select(F.explode_outer(pair_arr).alias("pair"), w.alias("w"))
        .where(F.col("pair").isNotNull())
        .groupBy("pair")
        .agg(F.sum("w").alias("n"))
    )


def _bpe_top_pair(syms: DataFrame, weight: str | None = None) -> DataFrame:
    """The round winner: most frequent adjacent pair, (count desc,
    pair asc) tiebreak — one TakeOrdered over the pair aggregate."""
    return (
        _bpe_pairs(syms, weight)
        .orderBy(F.col("n").desc(), "pair")
        .limit(1)
        .select(
            F.split(F.col("pair"), " ").getItem(0).alias("pa"),
            F.split(F.col("pair"), " ").getItem(1).alias("pb"),
            "n",
        )
    )


def _bpe_apply(syms: DataFrame, top: DataFrame, keep: tuple[str, ...]) -> DataFrame:
    """``syms`` with ``top``'s pair fused everywhere in 'sym' (merged
    symbol = plain concatenation, as in published BPE); ``keep`` names
    the passenger columns to carry through.

    The merge is literal-string surgery, no regex: double every space
    so adjacent occurrences stop sharing a separator ('a b a b' must
    become 'ab ab', not 'ab a b'), replace ' a  b ' with ' ab ', then
    collapse and trim. replace() is left-to-right replace-all in both
    engines, so the rewritten symbols are identical.
    """
    doubled = F.concat(F.lit("  "), F.replace(F.col("sym"), F.lit(" "), F.lit("  ")), F.lit("  "))
    search = F.concat(F.lit(" "), F.col("pa"), F.lit("  "), F.col("pb"), F.lit(" "))
    repl = F.concat(F.lit(" "), F.col("pa"), F.col("pb"), F.lit(" "))
    return syms.crossJoin(F.broadcast(top)).select(
        *keep,
        F.trim(
            F.replace(F.replace(doubled, search, repl), F.lit("  "), F.lit(" "))
        ).alias("sym"),
    )


def _bpe_merge_round(syms: DataFrame, weight: str | None = None, keep: tuple[str, ...] = ()) -> tuple[DataFrame, DataFrame]:
    """One merge round: (top-pair row, vocab with that pair fused)."""
    top = _bpe_top_pair(syms, weight)
    return top, _bpe_apply(syms, top, keep + ((weight,) if weight else ()))


def _bpe_merges(spark: SparkSession, sf: str) -> list[DataFrame]:
    """The trained merges, one 1-row (pa, pb, n) winner per round in
    round order. The vocab is localCheckpointed once (the ONE corpus
    pass) and so is each winner, so no round replays the corpus
    collapse or an earlier round's aggregate."""
    vocab = _bpe_vocab(spark, sf).localCheckpoint()  # eager-by-design: the ONE corpus pass; rounds are vocab-mass
    tops = []
    for _ in range(_BPE_ROUNDS):
        tops.append(_bpe_top_pair(vocab, "cnt").localCheckpoint())  # eager-by-design: 1-row winner
        vocab = _bpe_apply(vocab, tops[-1], ("cnt",))
    return tops


def _bpe_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """The ONE corpus pass: collapse documents to the (sym, cnt)
    vocabulary — each distinct word char-spaced ('hello' ->
    'h e l l o'), weighted by its corpus frequency."""
    return (
        t(spark, sf, "documents")
        .select(F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.array_join(F.split(F.col("word"), ""), " ").alias("sym"), "cnt")
    )


_BPE_VOCAB_SQL = """
      select array_to_string(regexp_split_to_array(word, ''), ' ') as sym,
             cast(count(*) as bigint) as cnt
      from (
        select unnest(regexp_split_to_array(coalesce(text, ''), ' ')) as word
        from documents
      )
      where word <> ''
      group by 1
"""


def _bpe_round_ctes(prev: str) -> str:
    """DuckDB CTE bodies for one training round over vocab ``prev``:
    weighted pair counts -> top pair -> literal-surgery fuse."""
    return """
    p{k} as (
      select ws[i] || ' ' || ws[i+1] as pair, cnt
      from (select regexp_split_to_array(sym, ' ') as ws, cnt from PREV) w,
           unnest(generate_series(1, greatest(len(ws) - 1, 0))) as t(i)
    ),
    t{k} as (
      select split_part(pair, ' ', 1) as pa, split_part(pair, ' ', 2) as pb,
             cast(sum(cnt) as bigint) as n
      from p{k} group by pair
      order by n desc, pair limit 1
    ),
    v{k} as (
      select trim(replace(replace(
               '  ' || replace(sym, ' ', '  ') || '  ',
               ' ' || t.pa || '  ' || t.pb || ' ',
               ' ' || t.pa || t.pb || ' '), '  ', ' ')) as sym, cnt
      from PREV, t{k} t
    )""".replace("PREV", prev)


def _bpe_oracle() -> str:
    # Unrolled DuckDB mirror: the same (word, count) collapse, then
    # per round weighted pair counts -> top pair -> surgery fuse.
    rounds = []
    for k in range(1, _BPE_ROUNDS + 1):
        rounds.append(_bpe_round_ctes(f"v{k - 1}").format(k=k))
    selects = " union all ".join(
        f"select {k} as round, pa || ' ' || pb as pair, n from t{k}"
        for k in range(1, _BPE_ROUNDS + 1)
    )
    return f"""
    with v0 as ({_BPE_VOCAB_SQL}),
    {",".join(rounds)}
    select round, pair, n from ({selects}) order by round
    """


@query("tokenizer_bpe_train", oracle=_bpe_oracle(), tags=("text", "tokenizer", "iterative"))
def tokenizer_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """Learn the first _BPE_ROUNDS BPE merges Sennrich-style: collapse
    the corpus to a (word, count) vocabulary once, then per round ONE
    count-weighted pair aggregate over the distinct-word symbol
    strings picks the most frequent adjacent symbol pair ((count
    desc, pair asc) — fully deterministic) and the vocabulary is
    rewritten with that pair fused before the next round. Returns the
    merge table (round, pair, n) — the artifact a tokenizer ships.

    100 TB shape: the corpus is touched ONCE (the map-side-combined
    word count — the only corpus-mass job); every round after that
    runs over the collapsed vocabulary, whose size is Zipf-bounded
    and independent of corpus duplication. The vocab is
    localCheckpointed (vocab-sized, tiny) so rounds never replay the
    corpus collapse; each round's winner is localCheckpointed at 1
    ROW so earlier rounds' aggregates never replay either, and the
    fuse is a broadcast 1-row join applying a codegen string
    projection. The round-6 plan re-derived pair counts from the FULL
    raw text every round (O(corpus chars x rounds)); at 100 TB x real
    merge counts this collapse is the difference between hours and
    seconds per round — same merge-table semantics at character
    level, which is what published BPE actually trains on. (At
    thousands of real merges you would ALSO re-checkpoint the vocab
    every ~50 rounds to bound the replace-chain depth.)
    """
    merges = [
        top.select(F.lit(rnd).cast("int").alias("round"), F.concat_ws(" ", "pa", "pb").alias("pair"), "n")
        for rnd, top in enumerate(_bpe_merges(spark, sf), 1)
    ]
    return functools.reduce(DataFrame.unionByName, merges)


def _bpe_apply_oracle() -> str:
    # Train the merges (same unrolled CTEs), then fold each t{k}
    # surgery over the doc-level symbol strings in round order. The
    # word-boundary symbol '|' can never fuse: no merge pair contains
    # it (pairs come from within-word vocab symbols only).
    rounds = [_bpe_round_ctes(f"v{k - 1}").format(k=k) for k in range(1, _BPE_ROUNDS + 1)]
    doc_rounds = []
    for k in range(1, _BPE_ROUNDS + 1):
        doc_rounds.append(f"""
    d{k} as (
      select doc_id,
             trim(replace(replace(
               '  ' || replace(sym, ' ', '  ') || '  ',
               ' ' || t.pa || '  ' || t.pb || ' ',
               ' ' || t.pa || t.pb || ' '), '  ', ' ')) as sym
      from d{k - 1}, t{k} t
    )""")
    return f"""
    with v0 as ({_BPE_VOCAB_SQL}),
    {",".join(rounds)},
    d0 as (
      select doc_id,
             array_to_string(list_transform(
               regexp_split_to_array(coalesce(text, ''), ' '),
               w -> array_to_string(regexp_split_to_array(w, ''), ' ')
             ), ' {_BPE_WORD_SEP} ') as sym
      from documents
    ),
    {",".join(doc_rounds)}
    select doc_id,
           cast(len(list_filter(regexp_split_to_array(sym, ' '),
                s -> s <> '{_BPE_WORD_SEP}' and s <> '')) as bigint) as n_tokens,
           md5(sym) as fingerprint
    from d{_BPE_ROUNDS}
    order by doc_id
    """


@query("tokenizer_bpe_apply", oracle=_bpe_apply_oracle(), tags=("text", "tokenizer"))
def tokenizer_bpe_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Encode the corpus with the trained BPE merges: train the merge
    table (vocab-mass, see tokenizer_bpe_train), then replay each
    merge in round order over the documents' character-symbol
    streams ('h e l l o | w o r l d', '|' marking word boundaries so
    merges never fuse across words). Emits per-doc token count and a
    symbol-stream fingerprint — train -> apply, end to end.

    100 TB shape: training never re-touches the corpus (one collapse,
    then vocab-mass rounds); the encode itself is N chained broadcast
    1-row joins, each a codegen literal replace beside the ONE
    documents scan — no shuffle of the corpus at any point. A real
    tokenizer service would collect the <=N-row merge table into a
    single broadcast list; keeping each round's winner as its own
    broadcast join preserves the same plan shape without a driver
    collect. Word-interior surgery is safe across docs because the
    boundary symbol '|' appears in no merge pair.
    """
    tops = _bpe_merges(spark, sf)
    docs = t(spark, sf, "documents").select(
        "doc_id",
        F.array_join(
            F.transform(
                F.split(F.coalesce(F.col("text"), F.lit("")), " "),
                lambda w: F.array_join(F.split(w, ""), " "),
            ),
            f" {_BPE_WORD_SEP} ",
        ).alias("sym"),
    )
    for top in tops:
        docs = _bpe_apply(docs, top, ("doc_id",))
    toks = F.filter(
        F.split(F.col("sym"), " "),
        lambda s: (s != _BPE_WORD_SEP) & (s != ""),
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.md5(F.col("sym")).alias("fingerprint"),
    ).orderBy("doc_id")


# HTML strip + entity unescape — the FIRST transform every web-corpus
# pipeline runs (raw crawl HTML → clean text before quality scoring,
# dedup, or tokenization). The fixture corpus is plain text, so the
# operator INJECTS deterministic markup (the scan_csv_badrecords
# pattern: corruption derived from the data itself, so the oracle can
# replay it), then proves strip(inject(text)) is text-preserving and
# reports per-doc tag/entity counts.
@query(
    "text_html_strip",
    oracle=r"""
    with wrapped as (
      select doc_id,
             '<html><body><p id="' || doc_id || '">'
               || replace(coalesce(text, ''), ' ', ' &amp; ')
               || '</p></body></html>' as html,
             coalesce(text, '') as text
      from documents
    ),
    stripped as (
      select doc_id, text, html,
             replace(regexp_replace(html, '<[^>]*>', '', 'g'), ' &amp; ', ' ') as clean
      from wrapped
    )
    select doc_id,
           cast(len(html) - len(regexp_replace(html, '<[^>]*>', '', 'g'))
                as bigint) as markup_chars,
           (clean = text) as roundtrip_ok
    from stripped
    """,
    tags=("text", "curation", "robustness"),
)
def text_html_strip(spark: SparkSession, sf: str) -> DataFrame:
    """Strip tags and unescape entities from deterministically
    injected HTML, verifying the cleanup recovers the original text
    exactly (roundtrip_ok) and counting the markup overhead removed.

    100 TB shape: pure narrow projection — tag stripping is one
    codegen regexp_replace beside the scan, the entity pass a literal
    replace; no shuffle anywhere, scan parallelism preserved. On a
    real crawl the same two expressions run ahead of every other
    operator in this repo; the injection wrapper exists only so the
    oracle can verify text-preservation end-to-end. (DuckDB's
    regexp_replace needs the 'g' flag for replace-all; Spark's is
    global by default — the oracle spells both.)
    """
    texts = t(spark, sf, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    html = F.concat(
        F.lit('<html><body><p id="'),
        F.col("doc_id").cast("string"),
        F.lit('">'),
        F.replace(F.col("text"), F.lit(" "), F.lit(" &amp; ")),
        F.lit("</p></body></html>"),
    )
    w = texts.select("doc_id", "text", html.alias("html"))
    no_tags = F.regexp_replace(F.col("html"), "<[^>]*>", "")
    clean = F.replace(no_tags, F.lit(" &amp; "), F.lit(" "))
    return w.select(
        "doc_id",
        (F.length("html") - F.length(no_tags)).alias("markup_chars"),
        (clean == F.col("text")).alias("roundtrip_ok"),
    )


# Gopher-style quality rules (Rae et al. 2021, published filter set):
# the rule-based document filter pretraining pipelines run before any
# model-based scoring. Deterministic subset — word-count bounds, mean
# word length bounds, alphabetic-word fraction, stopword presence —
# each exposed as its own boolean so downstream can audit WHICH rule
# rejected a document (the published pipelines log exactly that).
_GOPHER_MIN_WORDS = 30
_GOPHER_MAX_WORDS = 100_000
_GOPHER_STOPS = "the|and|of|to|a"


@query(
    "quality_gopher_rules",
    oracle=rf"""
    with s as (
      select doc_id,
             len(regexp_split_to_array(text, '\s+')) as n_words,
             cast(length(replace(text, ' ', '')) as double)
               / len(regexp_split_to_array(text, '\s+')) as mean_word_len,
             cast(len(list_filter(regexp_split_to_array(text, '\s+'),
                                  w -> regexp_matches(w, '[A-Za-z]'))) as double)
               / len(regexp_split_to_array(text, '\s+')) as alpha_frac,
             cast(len(regexp_extract_all(text, '\b({_GOPHER_STOPS})\b')) as bigint) as n_stop
      from documents
    )
    select doc_id, n_words, mean_word_len, alpha_frac, n_stop,
           (n_words >= {_GOPHER_MIN_WORDS} and n_words <= {_GOPHER_MAX_WORDS}) as ok_word_count,
           (mean_word_len >= 3.0 and mean_word_len <= 10.0) as ok_word_len,
           (alpha_frac >= 0.8) as ok_alpha,
           (n_stop >= 2) as ok_stopwords,
           (n_words >= {_GOPHER_MIN_WORDS} and n_words <= {_GOPHER_MAX_WORDS}
            and mean_word_len >= 3.0 and mean_word_len <= 10.0
            and alpha_frac >= 0.8 and n_stop >= 2) as pass_gopher
    from s
    """,
    tags=("text", "quality", "curation"),
)
def quality_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document Gopher rule booleans + the combined gate.

    100 TB shape: a pure narrow projection — every rule is counting
    arithmetic over the words array computed ONCE per row beside the
    scan (CollapseProject keeps the split bound to a column), zero
    shuffles, codegen end to end. Divisions are single IEEE ops on
    integer-derived values, so the doubles hash-match the oracle.
    """
    ws = F.split(F.col("text"), r"\s+")
    d = t(spark, sf, "documents").select("doc_id", "text", ws.alias("ws"))
    n_words = F.size("ws")
    mean_wl = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double") / n_words
    )
    alpha_frac = (
        F.size(F.filter("ws", lambda w: w.rlike("[A-Za-z]"))).cast("double") / n_words
    )
    n_stop = F.regexp_count("text", F.lit(rf"\b({_GOPHER_STOPS})\b")).cast("long")
    ok_wc = (n_words >= _GOPHER_MIN_WORDS) & (n_words <= _GOPHER_MAX_WORDS)
    ok_wl = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    ok_alpha = alpha_frac >= 0.8
    ok_stop = n_stop >= 2
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        n_stop.alias("n_stop"),
        ok_wc.alias("ok_word_count"),
        ok_wl.alias("ok_word_len"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_wl & ok_alpha & ok_stop).alias("pass_gopher"),
    )


# CCNet quality buckets (Wenzek et al. 2020): split the corpus into
# head / middle / tail terciles by language-model score — the
# published pre-filter CommonCrawl pipelines apply before anything
# expensive touches the tail. Score here is the bigram-LM avg_freq of
# quality_bigram_lm (higher = more fluent under the corpus model, so
# head = top tercile), ties broken by doc_id; docs too short to have
# bigrams (<2 tokens) get the tail bucket by definition.
@query(
    "quality_ccnet_buckets",
    oracle=r"""
    with w as (
      select doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') as words
      from documents
    ),
    big as (
      select doc_id,
             ('0x' || substr(md5(words[i] || ' ' || words[i + 1]), 1, 15))::bigint as bk
      from w, unnest(generate_series(1, len(words) - 1)) as s(i)
    ),
    model as (select bk, count(*) as n_big from big group by bk),
    scored as (
      select b.doc_id, cast(sum(m.n_big) as double) / count(*) as avg_freq
      from big b join model m on b.bk = m.bk group by b.doc_id
    ),
    ranked as (
      select d.doc_id, s.avg_freq,
             ntile(3) over (order by s.avg_freq desc nulls last, d.doc_id) as tercile
      from documents d left join scored s on d.doc_id = s.doc_id
    )
    select doc_id, avg_freq, cast(tercile as int) as tercile,
           case tercile when 1 then 'head' when 2 then 'middle' else 'tail' end
             as bucket
    from ranked
    """,
    tags=("text", "curation", "quality"),
)
def quality_ccnet_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Head/middle/tail corpus terciles by bigram-LM score.

    100 TB shape: scoring is the quality_bigram_lm plan (map-only
    bigram expansion, map-side-combined model, one score join),
    localCheckpointed once as the (doc, score) spine; the two tercile
    boundaries come from EXACT multi-level rank selection over the
    DESC-NULLS-LAST score order (ops/ranked_bins.py — nf=1 encodes
    the null bigram-less docs sorting last, okey is the negated
    score), and assignment is a literal 2-cut comparison in codegen
    beside the spine scan. No window ever sees the doc spine — this
    replaces the r7-r10 single-task ntile sort over CORPUS-MASS rows,
    the worst of the empty-partition WindowExec class.
    """
    from parquet_processor_spark.ops.ranked_bins import exact_ntile_cuts, ntile_assign

    d = t(spark, sf, "documents").select("doc_id")
    scored = quality_bigram_lm(spark, sf).select("doc_id", "avg_freq")
    spine = (
        d.join(scored, "doc_id", "left")
        .select(
            F.when(F.col("avg_freq").isNull(), 1).otherwise(0).alias("nf"),
            F.coalesce(-F.col("avg_freq"), F.lit(0.0)).alias("okey"),
            F.col("doc_id").alias("oid"),
            "avg_freq",
        )
        .localCheckpoint()  # eager-by-design: O(docs) spine reused by 4-5 selection jobs
    )
    cuts = exact_ntile_cuts(spine, 3)
    tercile = ntile_assign(cuts, F.col("nf"), F.col("okey"), F.col("oid"))
    return spine.select(
        F.col("oid").alias("doc_id"),
        "avg_freq",
        tercile.cast("int").alias("tercile"),
        F.when(tercile == 1, "head")
        .when(tercile == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def _bpe_eval_oracle() -> str:
    from parquet_processor_spark.registry import _ORACLES

    return rf"""
    with enc as ( {_ORACLES['tokenizer_bpe_apply']} ),
    ws as (
      select doc_id,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
               as n_ws
      from documents
    )
    select d.lang,
           cast(count(*) as bigint) as n_docs,
           cast(sum(d.n_chars) as bigint) as total_chars,
           cast(sum(e.n_tokens) as bigint) as total_bpe_tokens,
           cast(sum(w.n_ws) as bigint) as total_ws_tokens,
           cast(sum(d.n_chars) as double) / sum(e.n_tokens) as chars_per_token,
           cast(sum(e.n_tokens) as double) / sum(w.n_ws) as bpe_per_ws
    from enc e
    join documents d on e.doc_id = d.doc_id
    join ws w on e.doc_id = w.doc_id
    group by d.lang
    """


@query("tokenizer_bpe_eval", oracle=_bpe_eval_oracle(), tags=("text", "tokenizer", "report"))
def tokenizer_bpe_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer quality report — per-language compression of the
    trained BPE encoding (chars/token, BPE-vs-whitespace fertility):
    the number a tokenizer team actually tracks when deciding whether
    the merge table is worth shipping. Completes the train -> apply ->
    EVALUATE story; all ratios are exact integer sums with one final
    IEEE division each.

    100 TB shape: rides the tokenizer_bpe_apply encode unchanged (the
    chained broadcast merges beside the one corpus scan); the eval is
    a language-count-sized map-side aggregate over (doc, counts) rows
    — nothing new is corpus-mass.
    """
    enc = tokenizer_bpe_apply(spark, sf).select("doc_id", "n_tokens")
    d = t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")).alias("n_ws"),
    )
    return (
        enc.join(d, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_tokens").cast("long").alias("total_bpe_tokens"),
            F.sum("n_ws").cast("long").alias("total_ws_tokens"),
            (F.sum("n_chars").cast("double") / F.sum("n_tokens")).alias("chars_per_token"),
            (F.sum("n_tokens").cast("double") / F.sum("n_ws")).alias("bpe_per_ws"),
        )
    )


# BM25 impact-ordered postings — the retrieval-index primitive: for
# each query term, the top-K documents by BM25 weight. This is
# term-at-a-time retrieval's unit of work (and what an impact-ordered
# index stores on disk for WAND/max-score pruning); full-query scores
# are sums of these per-term weights. The weight keeps BM25's exact
# k1=1.2, b=0.75 saturation algebra but multiplies the term fraction
# through by 10*T (T = total corpus tokens) so BOTH factors are a
# single division of exact integers — and the idf is the LINEAR odds
# (N - df + 0.5)/(df + 0.5), scaled by 2 to stay integer, not ln() of
# it (the quality_tfidf rule: one transcendental could differ in the
# last ulp across engines; monotone per term, so per-term ranking is
# the true BM25 ranking).
_BM25_TERMS = ("window", "join", "stream")
_BM25_K = 10

# The tf/dl/stats/dfreq/w CTE chain — ONE spelling shared by the
# per-term posting query and the hybrid-RRF fusion, so the weight
# algebra can never drift between them.
_BM25_W_CTES = rf"""{_TOK_CTE},
    tf as (select doc_id, tok, count(*) as tf from tok group by doc_id, tok),
    dl as (select doc_id, count(*) as dl from tok group by doc_id),
    stats as (select count(*) as n_docs,
                     cast(sum(dl) as bigint) as t_tokens
              from dl),
    dfreq as (
      select tok, count(*) as df from tf
      where tok in ({', '.join(map(repr, _BM25_TERMS))}) group by tok
    ),
    w as (
      select f.tok as term, f.doc_id, f.tf, d.dl,
             (cast(2 * (s.n_docs - q.df) + 1 as double) / cast(2 * q.df + 1 as double))
             * (cast(22 * s.t_tokens * f.tf as double)
                / cast(10 * s.t_tokens * f.tf + 3 * s.t_tokens + 9 * d.dl * s.n_docs as double))
               as weight
      from tf f
      join dfreq q on q.tok = f.tok
      join dl d on d.doc_id = f.doc_id
      cross join stats s
    )"""


def _bm25_weights(spark: SparkSession, sf: str) -> DataFrame:
    """(term, doc_id, tf, dl, weight) for the fixed query terms — the
    Spark twin of the ``w`` CTE in ``_BM25_W_CTES``."""
    tok = _corpus_tokens(spark, sf)
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("t_tokens"),
    )
    dfreq = (
        tf.where(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = (2 * (F.col("n_docs") - F.col("df")) + 1).cast("double") / (
        2 * F.col("df") + 1
    ).cast("double")
    sat = (22 * F.col("t_tokens") * F.col("tf")).cast("double") / (
        10 * F.col("t_tokens") * F.col("tf")
        + 3 * F.col("t_tokens")
        + 9 * F.col("dl") * F.col("n_docs")
    ).cast("double")
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("tok").alias("term"),
            "doc_id",
            "tf",
            "dl",
            (idf * sat).alias("weight"),
        )
    )


@query(
    "text_bm25_topk",
    oracle=rf"""
    with {_BM25_W_CTES}
    select term, doc_id, cast(tf as bigint) as tf, cast(dl as bigint) as dl, weight
    from (select *, row_number() over (partition by term order by weight desc, doc_id) as rn
          from w)
    where rn <= {_BM25_K}
    """,
    tags=("text", "retrieval", "bm25"),
)
def text_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-K impact-ordered BM25 postings per query term (K=_BM25_K).

    weight = idf * tf_saturation with k1 = 6/5, b = 3/4:
      idf  = (2*(N - df) + 1) / (2*df + 1)        [linear odds, x2-scaled]
      sat  = 22*T*tf / (10*T*tf + 3*T + 9*dl*N)   [k1/b cleared to ints by 10*T]
    Every operand is an exact 64-bit integer, so each factor is ONE
    correctly-rounded IEEE division and the product is bit-identical
    across engines — the oracle hashes the doubles verbatim.

    100 TB shape: tf/dl/df are map-side-combined aggregates over the
    token stream (the tf->dl join is doc-keyed on tf's existing
    shuffle); stats is a 1-row broadcast, dfreq an F-row broadcast (F =
    query terms). The per-term top-K window partitions by term — F
    partitions, so at scale the real index build runs the documented
    per-partition partial top-K (TakeOrdered per term) instead; K rows
    per term is what WAND reads. Integer products 22*T*tf stay inside
    int64 up to T*tf ~ 4e17; past that the scale path lifts the two
    factors to decimal(38) before the division (same rounding).
    Reference parity: the reference ranks pages by field-match counts
    (test_parquet_processor.py search flows); BM25 is the published
    generalization over the same posting shape.
    """
    from pyspark.sql import Window

    w = _bm25_weights(spark, sf)
    win = Window.partitionBy("term").orderBy(F.col("weight").desc(), "doc_id")
    return (
        w.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") <= _BM25_K)
        .drop("rn")
    )


# RAKE keyword extraction (Rose et al. 2010) — the phrase-level
# salience signal: split each document into candidate PHRASES at
# stopword boundaries, score words by degree/frequency within the
# document's phrases, score a phrase as the sum of its word scores,
# and emit each document's top phrase. TF-IDF (quality_tfidf) ranks
# single tokens; RAKE is the classical multi-word keyword extractor —
# the other half of the keyword story. The phrase-score sum folds the
# word scores IN PHRASE ORDER (list_reduce <-> F.aggregate, the
# vector-family discipline), so the doubles match bitwise.
_RAKE_STOP = ("the", "a", "is", "of", "and", "to", "in", "on", "for", "with")


@query(
    "text_rake_keywords",
    oracle=rf"""
    with tok as (
      select doc_id, pos, tok from (
        select doc_id,
               unnest(arr) as tok,
               unnest(range(1, len(arr) + 1)) as pos
        from (select doc_id, regexp_split_to_array(coalesce(text,''), '\s+') as arr
              from documents)
      ) where tok <> ''
    ),
    marked as (
      select doc_id, pos, tok,
             sum(case when tok in ({', '.join(map(repr, _RAKE_STOP))}) then 1 else 0 end)
               over (partition by doc_id order by pos rows unbounded preceding) as pid,
             tok in ({', '.join(map(repr, _RAKE_STOP))}) as is_stop
      from tok
    ),
    pw as (select doc_id, pid, pos, tok from marked where not is_stop),
    plen as (select doc_id, pid, count(*) as plen from pw group by 1, 2),
    wstat as (
      select p.doc_id, p.tok,
             cast(sum(l.plen) as double) / count(*) as s
      from pw p join plen l on l.doc_id = p.doc_id and l.pid = p.pid
      group by 1, 2
    ),
    scored as (
      select p.doc_id, p.pid, p.pos, p.tok, w.s
      from pw p join wstat w on w.doc_id = p.doc_id and w.tok = p.tok
    ),
    phr as (
      select doc_id, pid,
             string_agg(tok, ' ' order by pos) as phrase,
             cast(count(*) as bigint) as n_words,
             list_reduce(list_prepend(cast(0 as double), list(s order by pos)),
                         (acc, v) -> acc + v) as score
      from scored group by 1, 2
    )
    select doc_id, phrase, n_words, score
    from (select *, row_number() over (partition by doc_id
                                       order by score desc, phrase asc, pid asc) as rn
          from phr)
    where rn = 1
    """,
    tags=("text", "keywords", "rake"),
)
def text_rake_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """Top RAKE phrase per document: phrases are maximal stopword-free
    token runs; word score = degree/frequency over the document's
    phrase words (degree = summed length of containing phrases); the
    phrase score folds its word scores in position order.

    100 TB shape: everything is doc-keyed — the stopword-boundary
    window, the per-doc word stats, the phrase assembly, and the final
    top-1 all partition by doc_id, so ONE hash shuffle on doc_id
    serves every stage (plan-asserted single exchange family) and no
    corpus-global state exists at all. The per-doc windows sort tens
    of tokens; the stopword set is a literal IN-list evaluated beside
    the scan.
    """
    from pyspark.sql import Window

    tok = (
        t(spark, sf, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+")).alias(
                "pos", "tok"
            ),
        )
        .where(F.col("tok") != "")
    )
    is_stop = F.col("tok").isin(*_RAKE_STOP)
    wp = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    marked = tok.select(
        "doc_id",
        "pos",
        "tok",
        F.sum(F.when(is_stop, 1).otherwise(0)).over(wp).alias("pid"),
        is_stop.alias("is_stop"),
    )
    pw = marked.where(~F.col("is_stop")).select("doc_id", "pid", "pos", "tok")
    plen = pw.groupBy("doc_id", "pid").agg(F.count(F.lit(1)).alias("plen"))
    wstat = (
        pw.join(plen, ["doc_id", "pid"])
        .groupBy("doc_id", "tok")
        .agg((F.sum("plen").cast("double") / F.count(F.lit(1))).alias("s"))
    )
    scored = pw.join(wstat, ["doc_id", "tok"])
    words = F.sort_array(F.collect_list(F.struct("pos", "tok", "s")))
    phr = scored.groupBy("doc_id", "pid").agg(
        F.concat_ws(" ", F.transform(words, lambda x: x["tok"])).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(words, lambda x: x["s"]), F.lit(0.0), lambda acc, v: acc + v
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("phrase").asc(), F.col("pid").asc()
    )
    return (
        phr.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "phrase", "n_words", "score")
    )


# Readability scoring — the Flesch-Kincaid grade level over the same
# integer counts the quality family already extracts: words,
# sentences, and a vowel-run syllable heuristic (maximal [aeiouy]+
# groups — the classic dictionary-free approximation; runs cannot
# span whitespace, so the corpus-level regexp count IS the per-word
# sum). Training-data curation uses the grade as a complexity
# stratifier next to quality_score/gopher_rules: sample curricula by
# band, or drop the unreadable tail. All three counts are exact
# integers, so the grade is one fixed IEEE expression — hash-checked.
@query(
    "text_readability",
    oracle=r"""
    select doc_id,
           n_words,
           n_sentences,
           n_syllables,
           case when n_words > 0 then
             0.39 * (cast(n_words as double) / n_sentences)
             + 11.8 * (cast(n_syllables as double) / n_words)
             - 15.59
           end as fk_grade,
           case when n_words > 0 then
             cast(floor(0.39 * (cast(n_words as double) / n_sentences)
                        + 11.8 * (cast(n_syllables as double) / n_words)
                        - 15.59) as int)
           end as grade_band
    from (
      select doc_id,
             cast(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z]+')) as bigint)
               as n_words,
             cast(greatest(len(regexp_extract_all(coalesce(text, ''), '[.!?]+')), 1)
                  as bigint) as n_sentences,
             cast(len(regexp_extract_all(lower(coalesce(text, '')), '[aeiouy]+'))
                  as bigint) as n_syllables
      from documents
    )
    """,
    tags=("text", "quality"),
)
def text_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch-Kincaid grade per document: 0.39*(words/sentences) +
    11.8*(syllables/words) - 15.59, with syllables ~ vowel-group runs
    and sentences floored at 1 (the fixture corpus is unpunctuated
    word salad — the operator is the point). NULL grade for wordless
    docs; grade_band = floor(grade) is the curriculum-bucketing key.

    100 TB shape: three regexp counters per row beside the scan —
    pure map work, codegen-side, no shuffle at all; the double
    arithmetic happens on the three already-reduced integers. The
    stratified-sampling consumer (sample_stratified and friends)
    groups on grade_band, which is when the one shuffle happens.
    """
    txt = F.coalesce(F.col("text"), F.lit(""))
    d = t(spark, sf, "documents").select(
        "doc_id",
        F.regexp_count(txt, F.lit(r"[A-Za-z]+")).cast("long").alias("n_words"),
        F.greatest(F.regexp_count(txt, F.lit(r"[.!?]+")), F.lit(1))
        .cast("long")
        .alias("n_sentences"),
        F.regexp_count(F.lower(txt), F.lit(r"[aeiouy]+")).cast("long").alias("n_syllables"),
    )
    grade = (
        F.lit(0.39) * (F.col("n_words").cast("double") / F.col("n_sentences"))
        + F.lit(11.8) * (F.col("n_syllables").cast("double") / F.col("n_words"))
        - F.lit(15.59)
    )
    has_words = F.col("n_words") > 0
    return d.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(has_words, grade).alias("fk_grade"),
        F.when(has_words, F.floor(grade).cast("int")).alias("grade_band"),
    )


# Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009) —
# the canonical modern search shape: a lexical ranker (the BM25 family
# above) and a dense ranker (cosine over the embeddings table, query =
# vec 0) each nominate a top-_RRF_POOL pool, and every pooled doc
# scores sum(1/(60 + rank)) over the lists that retrieved it. RRF is
# the fusion production systems actually run (needs no score
# calibration between systems — only ranks). Determinism: each rank
# reciprocal is ONE IEEE division of exact ints, the per-doc sum adds
# the two terms in fixed (text, vector) order, and the 3-term text
# score folds in fixed alphabetical term order — bitwise cross-engine.
_RRF_K = 60
_RRF_POOL = 50
_RRF_TOPK = 10


def _rrf_oracle() -> str:
    from parquet_processor_spark.ops.vector import _cos_sql

    tsum = " + ".join(
        f"coalesce(max(case when term = '{t}' then weight end), cast(0 as double))"
        for t in sorted(_BM25_TERMS)
    )
    return f"""
    with {_BM25_W_CTES},
    tscore as (
      select doc_id, {tsum} as t_score
      from w where doc_id <> 0 group by doc_id
    ),
    tpool as (
      select doc_id,
             cast(row_number() over (order by t_score desc, doc_id) as int)
               as text_rank
      from tscore qualify text_rank <= {_RRF_POOL}
    ),
    vscore as (
      select b.vec_id as doc_id, {_cos_sql('b', 'q')} as cos_sim
      from embeddings b
      cross join (select embedding from embeddings where vec_id = 0) q
      where b.vec_id <> 0
    ),
    vpool as (
      select doc_id,
             cast(row_number() over (order by cos_sim desc, doc_id) as int)
               as vec_rank
      from vscore qualify vec_rank <= {_RRF_POOL}
    )
    select coalesce(t.doc_id, v.doc_id) as doc_id, t.text_rank, v.vec_rank,
           coalesce(cast(1 as double) / ({_RRF_K} + t.text_rank), cast(0 as double))
           + coalesce(cast(1 as double) / ({_RRF_K} + v.vec_rank), cast(0 as double))
             as rrf_score
    from tpool t full outer join vpool v on t.doc_id = v.doc_id
    order by rrf_score desc, doc_id
    limit {_RRF_TOPK}
    """


@query("search_hybrid_rrf", oracle=_rrf_oracle(), tags=("text", "vector", "retrieval", "rrf"))
def search_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Top-N hybrid search results (N=_RRF_TOPK): BM25 (fixed query terms)
    and dense cosine (query = vec 0) pools of P=_RRF_POOL fused by
    reciprocal-rank fusion, score = sum 1/(_RRF_K + rank).

    100 TB shape: each system ranks only its own COLLAPSED score spine
    (per-doc aggregates — the agg_auc precedent; production serves the
    pools from the BM25 impact index and the IVF-PQ index, both built
    here, so the global sorts become index reads); the fusion joins
    two P-row pools — broadcast-sized by construction —
    and the output is N rows.
    """
    from pyspark.sql import Window

    from parquet_processor_spark.ops.vector import norm, pair_cos_arrow

    w = _bm25_weights(spark, sf).where(F.col("doc_id") != 0)
    tsum = None
    for term in sorted(_BM25_TERMS):
        piece = F.coalesce(
            F.max(F.when(F.col("term") == term, F.col("weight"))), F.lit(0.0)
        )
        tsum = piece if tsum is None else tsum + piece
    tscore = w.groupBy("doc_id").agg(tsum.alias("t_score"))
    tw = Window.orderBy(F.col("t_score").desc(), "doc_id")
    tpool = (
        tscore.withColumn("text_rank", F.row_number().over(tw).cast("int"))
        .where(F.col("text_rank") <= _RRF_POOL)
        .select("doc_id", "text_rank")
    )
    e = t(spark, sf, "embeddings")
    # r14: norms once per side + Arrow pair scoring (guide §4.2; the
    # previous shape re-evaluated three interpreted folds per row —
    # norm(q_emb) included — for every corpus vector). Bit-exact by
    # the pair_cos_arrow contract.
    q_emb = (
        e.where(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("q_emb"), norm(F.col("embedding")).alias("nq"))
        .limit(1)
    )
    cos = pair_cos_arrow()(F.col("embedding"), F.col("q_emb"), F.col("ne"), F.col("nq"))
    vscore = (
        e.where(F.col("vec_id") != 0)
        .select("vec_id", "embedding", norm(F.col("embedding")).alias("ne"))
        .crossJoin(F.broadcast(q_emb))
        .select(F.col("vec_id").alias("v_doc"), cos.alias("cos_sim"))
    )
    vw = Window.orderBy(F.col("cos_sim").desc(), "v_doc")
    vpool = (
        vscore.withColumn("vec_rank", F.row_number().over(vw).cast("int"))
        .where(F.col("vec_rank") <= _RRF_POOL)
        .select("v_doc", "vec_rank")
    )
    fused = tpool.join(vpool, tpool["doc_id"] == vpool["v_doc"], "full_outer").select(
        F.coalesce(F.col("doc_id"), F.col("v_doc")).alias("doc_id"),
        "text_rank",
        "vec_rank",
        (
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("text_rank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(_RRF_TOPK)


# N186: feature hashing (the "hashing trick" — sklearn
# HashingVectorizer / VW feature hashing): tokens map to a fixed
# D-bucket space by hash, so the featurizer needs NO vocabulary pass,
# no fit state, and new tokens never resize anything — the property
# that makes it the default text featurizer for streaming/huge
# corpora. Emitted flat as (doc_id, bucket, cnt) rows (the engine's
# no-complex-output contract); a trainer pivots per doc downstream.
_FH_BUCKETS = 64


@query(
    "feature_hashing_trick",
    oracle=f"""
    with tok as (
      select doc_id, unnest(regexp_split_to_array(text, '\\s+')) as tok
      from documents
    )
    select doc_id,
           ('0x' || substr(md5(tok), 1, 15))::bigint % {_FH_BUCKETS} as bucket,
           cast(count(*) as bigint) as cnt
    from tok group by doc_id, bucket
    """,
    tags=("text", "ml", "encode"),
)
def feature_hashing_trick(spark: SparkSession, sf: str) -> DataFrame:
    """Hash token counts into a fixed D-bucket feature space (D=_FH_BUCKETS).

    HASH-CHECKED: the bucket is the shared md5-60bit primitive mod D
    (engine-neutral), the counts exact. 100 TB shape: one narrow
    (doc_id, bucket) aggregate, map-side combined — the shuffle
    carries at most D rows per doc; no vocabulary table exists at
    all (the hashing trick's whole point at corpus scale — compare
    tokenize_to_ids, which ships a vocab).
    """
    # explode_outer: split() never returns an empty array, and plain
    # explode would infer a size>0 guard that re-evaluates the split
    # (the _explode_shingles discipline)
    tok = t(spark, sf, "documents").select(
        "doc_id", F.explode_outer(F.split("text", r"\s+")).alias("tok")
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long") % _FH_BUCKETS
    )
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


# Per-class classification report (precision / recall / F1 + support)
# — the standard eval artifact for ANY labeler in the pipeline,
# computed here over the lang_id heuristic against gold labels. The
# ratio formulas are ONE shared text parsed by both engines (the
# agg_regression_multi recipe), with try-division semantics: a class
# never predicted has NULL precision, a class absent from gold has
# NULL recall, F1 NULL when either is (sklearn emits 0 there; NULL is
# the honest value and survives the hash check).
_CR_PREC = "(cast(tp as double) / nullif(tp + fp, 0))"
_CR_REC = "(cast(tp as double) / nullif(tp + fn, 0))"
_CR_F1 = (
    f"(2 * {_CR_PREC} * {_CR_REC} / nullif({_CR_PREC} + {_CR_REC}, 0.0))"
)


def _classification_report_oracle() -> str:
    from parquet_processor_spark.registry import _ORACLES

    return f"""
    with pred as ( {_ORACLES['lang_id']} ),
    a as (
      select lang as cls, cast(count(*) as bigint) as n_actual,
             cast(sum(case when predicted_lang = lang then 1 else 0 end)
                  as bigint) as tp
      from pred group by lang
    ),
    p as (
      select predicted_lang as cls, cast(count(*) as bigint) as n_pred
      from pred group by predicted_lang
    ),
    m as (
      select coalesce(a.cls, p.cls) as cls,
             coalesce(a.tp, 0) as tp,
             coalesce(p.n_pred, 0) - coalesce(a.tp, 0) as fp,
             coalesce(a.n_actual, 0) - coalesce(a.tp, 0) as fn,
             coalesce(a.n_actual, 0) as support
      from a full outer join p on a.cls = p.cls
    )
    select cls, tp, fp, fn, support,
           {_CR_PREC} as precision_c,
           {_CR_REC} as recall_c,
           {_CR_F1} as f1_c
    from m
    """


@query(
    "agg_classification_report",
    oracle=_classification_report_oracle(),
    tags=("agg", "eval", "text", "ml"),
)
def agg_classification_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-class TP/FP/FN, support, precision, recall, F1 for the
    lang_id labeler against gold ``lang`` — one row per class seen in
    gold OR predictions (a never-predicted class like the corpus's
    'zh' shows support with NULL precision; a hallucinated class
    would show predictions with NULL recall).

    100 TB shape: the prediction is map-side codegen beside the scan;
    the report is two map-side-combined class-keyed counts (gold side
    carries TP in the same pass) full-outer-joined on the tiny class
    domain — the fact table is scanned once and never shuffled beyond
    |classes| count rows. Ratios are IEEE divisions on the per-class
    result rows from one shared formula text, so the report
    hash-checks bitwise.
    """
    pred = lang_id(spark, sf)
    a = pred.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("n_actual"),
        F.sum(F.when(F.col("predicted_lang") == F.col("lang"), 1).otherwise(0))
        .cast("long")
        .alias("tp_a"),
    )
    p = pred.groupBy(F.col("predicted_lang").alias("cls_p")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pred")
    )
    m = (
        a.join(p, a["cls"] == p["cls_p"], "full_outer")
        .select(
            F.coalesce(F.col("cls"), F.col("cls_p")).alias("cls"),
            F.coalesce(F.col("tp_a"), F.lit(0)).alias("tp"),
            (F.coalesce(F.col("n_pred"), F.lit(0)) - F.coalesce(F.col("tp_a"), F.lit(0))).alias("fp"),
            (F.coalesce(F.col("n_actual"), F.lit(0)) - F.coalesce(F.col("tp_a"), F.lit(0))).alias("fn"),
            F.coalesce(F.col("n_actual"), F.lit(0)).alias("support"),
        )
    )
    return m.select(
        "cls",
        "tp",
        "fp",
        "fn",
        "support",
        F.expr(_CR_PREC).alias("precision_c"),
        F.expr(_CR_REC).alias("recall_c"),
        F.expr(_CR_F1).alias("f1_c"),
    )


# N211: PMI collocation mining (Church & Hanks 1990): bigrams whose
# observed frequency most exceeds the independence expectation —
# the phrase-detection pass tokenizer/embedding pipelines run to
# promote "new york"-style units. PMI = log(P(ab)/(P(a)P(b))) is
# MONOTONE in the odds ratio n_ab*T/(n_a*n_b), so the ranking (and
# the reported score) needs no logarithm — the repo's
# no-transcendentals discipline holds and the ratio is one double
# division of exact counts.
_COLL_MIN_SUPPORT = 5
_COLL_TOPK = 50


@query(
    "text_collocations",
    oracle=rf"""
    with w as (
      select doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') as words
      from documents
    ),
    uni as (
      select unnest(words) as tok from w
    ),
    un as (select tok, cast(count(*) as bigint) as n_tok from uni group by tok),
    big as (
      select words[i] as wa, words[i + 1] as wb
      from w, unnest(generate_series(1, len(words) - 1)) as s(i)
    ),
    bn as (
      select wa, wb, cast(count(*) as bigint) as n_ab
      from big group by wa, wb
    ),
    tot as (select cast(count(*) as bigint) as t from big)
    select wa, wb, n_ab, a.n_tok as n_a, b.n_tok as n_b,
           (cast(n_ab as double) * cast(t as double))
             / (cast(a.n_tok as double) * cast(b.n_tok as double)) as pmi_ratio
    from bn join un a on bn.wa = a.tok join un b on bn.wb = b.tok, tot
    where n_ab >= {_COLL_MIN_SUPPORT}
    order by pmi_ratio desc, wa, wb
    limit {_COLL_TOPK}
    """,
    tags=("text", "collocation", "pmi"),
)
def text_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k (k=_COLL_TOPK) collocations by PMI odds ratio (support >=
    s, s=_COLL_MIN_SUPPORT): (wa, wb, counts, pmi_ratio) with ratio =
    n_ab*T/(n_a*n_b) — the exact monotone image of PMI, computed as one
    division of double- cast exact counts (the operand tree is spelled
    identically in both engines, so the ranking and the score
    hash-check).

    100 TB shape: bigram expansion is map-only array arithmetic over
    the tokenized row (the quality_bigram_lm rule — never a
    positional self-join); both count aggregates are map-side
    combined; the unigram join keys on the vocabulary (broadcast
    below the vocab cap); T is a 1-row broadcast; and the final
    ranking compiles to TakeOrderedAndProject — per-task top-k,
    never a global sort.
    """
    w = t(spark, sf, "documents").select(
        "doc_id",
        F.expr(r"filter(split(text, '\\s+'), x -> x != '')").alias("words"),
    )
    uni = w.select(F.explode_outer("words").alias("tok")).where(F.col("tok").isNotNull())
    un = uni.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    pairs = F.expr(
        "transform(sequence(1, greatest(size(words) - 1, 0)),"
        " i -> struct(words[i - 1] as wa, words[i] as wb))"
    )
    big = (
        w.select(F.explode_outer(pairs).alias("p"))
        .where(F.col("p").isNotNull())
        .select("p.wa", "p.wb")
    )
    bn = big.groupBy("wa", "wb").agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    tot = big.agg(F.count(F.lit(1)).cast("long").alias("t"))
    ratio = (F.col("n_ab").cast("double") * F.col("t").cast("double")) / (
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    return (
        bn.where(F.col("n_ab") >= _COLL_MIN_SUPPORT)
        .join(un.select(F.col("tok").alias("wa"), F.col("n_tok").alias("n_a")), "wa")
        .join(un.select(F.col("tok").alias("wb"), F.col("n_tok").alias("n_b")), "wb")
        .crossJoin(F.broadcast(tot))
        .select("wa", "wb", "n_ab", "n_a", "n_b", ratio.alias("pmi_ratio"))
        .orderBy(F.desc("pmi_ratio"), "wa", "wb")
        .limit(_COLL_TOPK)
    )


# N217: TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
# over the word co-occurrence graph, top-k words by rank — the
# graph-based complement to RAKE's phrase statistics (N141). The
# original keyword variant runs UNWEIGHTED PageRank over adjacency
# co-occurrence, which maps exactly onto the engine's integer-mass
# recursion (graph_pagerank's _mass_step: share = mass div deg,
# remainder home, 85% damping, bigint throughout — bitwise
# cross-engine with zero transcendentals).
_TR_TOPK = 20


def _textrank_oracle() -> str:
    from parquet_processor_spark.ops.graph import _B, _TELEPORT

    step = (
        "select m.node, m.deg,"
        f" cast({_TELEPORT} + (85 * (f.inflow + m.mass % m.deg)) // 100 as bigint)"
        " as mass"
        " from {prev} m join ("
        "  select e.dst as node, cast(sum(s.mass // s.deg) as bigint) as inflow"
        "  from edges e join {prev} s on e.src = s.node group by e.dst"
        " ) f on m.node = f.node"
    )
    return rf"""
    with w as (
      select list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') as words
      from documents
    ),
    pairs as (
      select distinct words[i] as a, words[i + 1] as b
      from w, unnest(generate_series(1, len(words) - 1)) as s(i)
      where words[i] <> words[i + 1]
    ),
    edges as (
      select a as src, b as dst from pairs
      union
      select b as src, a as dst from pairs
    ),
    m0 as (
      select src as node, cast(count(*) as bigint) as deg,
             cast({_B} as bigint) as mass
      from edges group by src
    ),
    m1 as ( {step.format(prev='m0')} ),
    m2 as ( {step.format(prev='m1')} ),
    m3 as ( {step.format(prev='m2')} )
    select node as word, deg, mass from m3
    order by mass desc, word limit {_TR_TOPK}
    """


@query("text_textrank_keywords", oracle=_textrank_oracle(), tags=("text", "keywords", "graph"))
def text_textrank_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k (k=_TR_TOPK) corpus keywords by 3-round integer PageRank
    over the distinct word-adjacency graph (undirected, both directions
    materialized; self-loops dropped) — (word, deg, mass) ranked
    mass-desc with a word tie-break.

    100 TB shape: the co-occurrence edge list collapses to DISTINCT
    vocabulary pairs before any iteration (corpus mass never enters
    the loop — the graph is vocab x avg-degree sized); each round is
    graph_pagerank's one-shuffle inflow aggregate over the
    checkpointed edge list; the final ranking compiles to
    TakeOrderedAndProject. Nodes are words (value domain), so the
    shuffle keys are short strings bounded by vocabulary, not corpus.
    """
    from parquet_processor_spark.ops.graph import _B, _ROUNDS, _mass_step

    w = t(spark, sf, "documents").select(
        F.expr(r"filter(split(text, '\\s+'), x -> x != '')").alias("words")
    )
    pair = F.expr(
        "transform(sequence(1, greatest(size(words) - 1, 0)),"
        " i -> struct(words[i - 1] as a, words[i] as b))"
    )
    pairs = (
        w.select(F.explode_outer(pair).alias("p"))
        .where(F.col("p").isNotNull() & (F.col("p.a") != F.col("p.b")))
        .select("p.a", "p.b")
        .distinct()
    )
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .repartition(t(spark, sf, "documents").sparkSession.sparkContext.defaultParallelism, "src")
        .localCheckpoint(eager=True)  # eager-by-design: reused by every round (pagerank pattern)
    )
    masses = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg"), F.lit(_B).cast("long").alias("mass")
    )
    for _ in range(_ROUNDS):
        masses = _mass_step(masses, edges)
    return (
        masses.select(F.col("node").alias("word"), "deg", "mass")
        .orderBy(F.desc("mass"), "word")
        .limit(_TR_TOPK)
    )

"""Multimodal columns (SURVEY.md §2.13): opaque binary payloads with
typed metadata, processed by Arrow-batched pandas stages.

The reference's media handling is per-page DOM scraping of typed media
records (media_type dispatch, test_parquet_processor.py:103-128,203-204).
The engine generalizes that: image/audio/video are `binary` columns
plus a metadata struct; decode/resize/frame-sample run as `mapInPandas`
stages so bytes never round-trip through Python row-by-row — Arrow
moves whole batches.

The actual codec step is STUBBED (no PIL/ffmpeg in this environment):
``decode_image`` raises NotImplementedError unless a deterministic fake
decoder is injected — the Spark-side plumbing (schema, batch shape,
partitioning) is real and tested.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_processor_spark.registry import query
from parquet_processor_spark.tables import t

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


def decode_image(content: bytes) -> dict[str, Any]:
    """Real image decode — requires an imaging library not present here.

    Inject ``fake_decoder`` (or your own) into ``extract_features``
    instead; this stub marks the seam.
    """
    raise NotImplementedError("image codec not available in this environment")


def fake_decoder(content: bytes) -> dict[str, Any]:
    """Deterministic stand-in decoder: derives dims/features from bytes."""
    n = len(content)
    return {
        "width": (n % 640) + 1,
        "height": (n % 480) + 1,
        "feature": [float(b) / 255.0 for b in content[:8]],
    }


def extract_features(
    media: DataFrame, decoder: Callable[[bytes], dict[str, Any]] = decode_image
) -> DataFrame:
    """mapInPandas feature extraction over binary media batches."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                content = bytes(row.content) if row.content is not None else b""
                try:
                    d = decoder(content)
                    out.append(
                        {
                            "media_id": row.media_id,
                            "media_type": row.media_type,
                            "n_bytes": len(content),
                            "width": d.get("width"),
                            "height": d.get("height"),
                            "feature": d.get("feature"),
                        }
                    )
                except NotImplementedError:
                    out.append(
                        {
                            "media_id": row.media_id,
                            "media_type": row.media_type,
                            "n_bytes": len(content),
                            "width": None,
                            "height": None,
                            "feature": None,
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return media.mapInPandas(run, FEATURE_SCHEMA)


def documents_as_media(spark: SparkSession, sf: str) -> DataFrame:
    """Synthesize a media table from documents (no binary testdata table):
    text bytes play the payload role; plumbing is identical."""
    return t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias("media_type"),
        F.col("text").cast("binary").alias("content"),
        F.create_map(F.lit("source"), F.col("source")).alias("meta"),
    )


# Oracle-checkable slice of the multimodal path: binary length + magic
# bytes, all JVM-side.
@query(
    "multimodal_bytes",
    oracle="""
    select doc_id,
           octet_length(encode(text)) as n_bytes,
           hex(encode(substring(text, 1, 4))) as magic
    from documents
    """,
    tags=("multimodal",),
)
def multimodal_bytes(spark: SparkSession, sf: str) -> DataFrame:
    return t(spark, sf, "documents").select(
        "doc_id",
        F.octet_length(F.col("text").cast("binary")).alias("n_bytes"),
        F.hex(F.substring("text", 1, 4).cast("binary")).alias("magic"),
    )


# Full pandas-stage plumbing with the deterministic fake decoder. The
# fake derives every output from the payload bytes, so the oracle can
# replay it in SQL (documents are ASCII: code_point == byte value).
# The feature vector is emitted EXPLODED to scalar (idx, val) rows:
# harnesses canonicalize result frames with pandas sorts, and a raw
# array<double> cell is unhashable/unsortable there.
@query(
    "multimodal_features",
    oracle="""
    select doc_id as media_id,
           case when doc_id % 2 = 0 then 'image' else 'audio' end as media_type,
           cast(octet_length(encode(text)) as bigint) as n_bytes,
           cast((octet_length(encode(text)) % 640) + 1 as int) as width,
           cast((octet_length(encode(text)) % 480) + 1 as int) as height,
           unnest([{'feature_idx': cast(i - 1 as int),
                    'feature_val': ord(substring(text, cast(i as int), 1)) / 255.0}
                   for i in generate_series(1, least(8, octet_length(encode(text))))],
                  recursive := true)
    from documents
    """,
    tags=("multimodal",),
)
def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    media = documents_as_media(spark, sf)
    feats = extract_features(media, decoder=fake_decoder)
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        "width",
        "height",
        F.posexplode("feature").alias("feature_idx", "feature_val"),
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)


def fake_resizer(content: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for a real resampler: produces exactly
    width*height//64 bytes by cycling the payload."""
    target = max(width * height // 64, 1)
    if not content:
        return b"\x00" * target
    reps = target // len(content) + 1
    return (content * reps)[:target]


def resize_media(
    media: DataFrame,
    width: int = 64,
    height: int = 64,
    resizer: Callable[[bytes, int, int], bytes] = fake_resizer,
) -> DataFrame:
    """mapInPandas resize stage: batch in, batch out, 1:1 rows. A real
    deployment injects a PIL/libvips resizer; the Arrow plumbing,
    schema, and partitioning are identical."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                content = bytes(row.content) if row.content is not None else b""
                out.append(
                    {
                        "media_id": row.media_id,
                        "media_type": row.media_type,
                        "content": resizer(content, width, height),
                        "width": width,
                        "height": height,
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in RESIZED_SCHEMA.fields])

    return media.mapInPandas(run, RESIZED_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """mapInPandas frame sampler: each payload row fans out to
    ``n_frames`` evenly spaced chunk rows (1:N — the video→frames
    explode). A real deployment decodes keyframes with ffmpeg; the
    deterministic fake slices the byte stream into equal windows."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                content = bytes(row.content) if row.content is not None else b""
                step = max(len(content) // n_frames, 1)
                for i in range(n_frames):
                    frame = content[i * step : (i + 1) * step]
                    out.append(
                        {
                            "media_id": row.media_id,
                            "frame_idx": i,
                            "frame": frame,
                            "n_bytes": len(frame),
                        }
                    )
            yield pd.DataFrame(out, columns=[f.name for f in FRAME_SCHEMA.fields])

    return media.mapInPandas(run, FRAME_SCHEMA)


# Resize plumbing as a driver query: output sizes are deterministic, so
# the oracle recomputes the fake resizer's length/content contract in SQL.
@query(
    "multimodal_resize",
    oracle="""
    select doc_id as media_id,
           64 as width, 64 as height,
           cast(64 * 64 // 64 as bigint) as n_bytes
    from documents
    """,
    tags=("multimodal",),
)
def multimodal_resize(spark: SparkSession, sf: str) -> DataFrame:
    media = documents_as_media(spark, sf)
    resized = resize_media(media, 64, 64)
    return resized.select(
        "media_id",
        "width",
        "height",
        F.octet_length("content").cast("long").alias("n_bytes"),
    )


# Frame-sampling plumbing as a driver query. The binary frames
# themselves are unhashable for the harness, so the query projects the
# deterministic facts of the fake sampler's contract — per-frame byte
# count and head bytes — which the oracle replays in SQL (ASCII
# payloads: byte == code point, step = max(len//4, 1)).
@query(
    "multimodal_frames",
    oracle="""
    with m as (
      select doc_id, text,
             greatest(octet_length(encode(text)) // 4, 1) as step,
             octet_length(encode(text)) as total
      from documents where doc_id % 2 = 1
    )
    select doc_id as media_id,
           cast(i as int) as frame_idx,
           cast(least(greatest(total - i * step, 0), step) as bigint) as n_bytes,
           hex(encode(substring(text, cast(i * step + 1 as int),
                       cast(least(4, least(greatest(total - i * step, 0), step)) as int)))) as head
    from m, generate_series(0, 3) t(i)
    """,
    tags=("multimodal",),
)
def multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    media = documents_as_media(spark, sf).where(F.col("media_type") == "audio")
    frames = sample_frames(media, n_frames=4)
    return frames.select(
        "media_id",
        "frame_idx",
        "n_bytes",
        F.hex(F.substring("frame", 1, 4)).alias("head"),
    )


# Exact media dedup by content hash — the FIRST dedup pass an image/
# audio corpus runs (byte-identical payloads under different ids:
# re-crawls, mirrors, re-uploads). The fixture has no duplicate
# payloads, so the operator INJECTS them deterministically (every
# 10th payload re-keyed +1e9 — the scan_csv_badrecords pattern) and
# the oracle replays the injection; the dedup logic itself is the
# production md5-of-bytes groupBy.
@query(
    "multimodal_dedup_bytes",
    oracle="""
    with media as (
      select doc_id as media_id, text as content from documents
      union all
      select doc_id + 1000000000 as media_id, text as content
      from documents where doc_id % 10 = 0
    )
    -- DuckDB md5 is VARCHAR-only; the payload bytes ARE the utf8 text
    -- bytes, so md5(text) equals Spark's md5 over the binary column.
    select md5(content) as fp,
           min(media_id) as keep_id,
           cast(count(*) as bigint) as n_copies
    from media group by 1
    """,
    tags=("multimodal", "dedup"),
)
def multimodal_dedup_bytes(spark: SparkSession, sf: str) -> DataFrame:
    """Group binary payloads by md5(bytes), keep the lowest media_id.

    100 TB shape: identical to dedup_exact but over the binary column
    — ONE map-side-combined groupBy on a 128-bit key; payload bytes
    never shuffle (the hash is computed beside the scan and only
    (fp, id) pairs cross the wire). For petabyte media at rest you'd
    hash at INGEST and store fp as a column; this operator is then a
    pure metadata aggregate.
    """
    base = documents_as_media(spark, sf.rstrip("/")).select("media_id", "content")
    dup = base.where(F.col("media_id") % 10 == 0).select(
        (F.col("media_id") + 1_000_000_000).alias("media_id"), "content"
    )
    media = base.unionByName(dup)
    return media.groupBy(F.md5("content").alias("fp")).agg(
        F.min("media_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# Perceptual near-dup for media — the dedup pass that catches what
# md5-of-bytes (multimodal_dedup_bytes) cannot: RE-ENCODED duplicates
# whose payload bytes differ but whose decoded content is nearly
# identical (the reference's media pages, test_parquet_processor.py:
# 218-266, are exactly where re-encodes defeat exact hashing). The
# fixture has no re-encodes, so the operator INJECTS them
# deterministically (every 10th payload re-keyed +1e9 with an
# in-place byte substitution — a lossy re-encode changes sample
# values WITHOUT moving them, like JPEG quality loss) and the oracle
# replays the injection; the detection logic is the production
# dHash + Hamming multi-index.
_PHASH_PIX = 65       # 64 gradient bits from 65 "resized" samples
_PHASH_BANDS = 8      # 8 bands x 8 bits
_PHASH_MAX_HAM = 6    # <=6 flips -> >=2 clean bands -> shared pair-key (pigeonhole)
# Hot-bucket document-frequency cap for the band-pair posting lists —
# the _MH_BUCKET_CAP / _EMB_BUCKET_CAP discipline applied to the
# perceptual family (r10: the uncapped ×100 replication soak went
# quadratic in one bucket and OOM-killed the JVM). Mirrored in the
# oracle's qualify filter; at the test SFs the largest bucket is far
# below the cap, so it provably changes nothing locally.
_PHASH_BUCKET_CAP = 1000
_PHASH_COMBOS = [(0, 1), (0, 2), (0, 3), (0, 4), (0, 5), (0, 6), (0, 7), (1, 2), (1, 3), (1, 4), (1, 5), (1, 6), (1, 7), (2, 3), (2, 4), (2, 5), (2, 6), (2, 7), (3, 4), (3, 5), (3, 6), (3, 7), (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7)]

# The injected re-encode recipe, defined ONCE (r13 advice): every
# _PHASH_INJECT_MOD-th payload re-keyed +_PHASH_INJECT_OFFSET with an
# in-place byte substitution. The Spark detector, the recall gate's
# radius audit, and the DuckDB oracle CTE all derive from these four
# constants — a recipe change in one place changes all three, so the
# gate can never silently audit a different corpus than the detector
# flagged.
_PHASH_INJECT_MOD = 10
_PHASH_INJECT_OFFSET = 1_000_000_000
_PHASH_INJECT_FROM = " the "
_PHASH_INJECT_TO = " THE "

_PHASH_MEDIA_CTE = f"""
      select doc_id as media_id, coalesce(text, '') as content from documents
      union all
      select doc_id + {_PHASH_INJECT_OFFSET} as media_id,
             replace(coalesce(text, ''), '{_PHASH_INJECT_FROM}', '{_PHASH_INJECT_TO}') as content
      from documents where doc_id % {_PHASH_INJECT_MOD} = 0
"""


def _injected_media(spark: SparkSession, sf: str) -> DataFrame:
    """(media_id, content): the documents corpus plus its injected
    re-encodes — the Spark twin of _PHASH_MEDIA_CTE, built from the
    same _PHASH_INJECT_* constants. Shared by the perceptual detector
    (multimodal_dedup_perceptual) and its recall gate
    (recall_dedup_perceptual) so both always see the same corpus."""
    docs = t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.coalesce(F.col("text"), F.lit("")).alias("content"),
    )
    reenc = docs.where(F.col("media_id") % _PHASH_INJECT_MOD == 0).select(
        (F.col("media_id") + _PHASH_INJECT_OFFSET).alias("media_id"),
        F.replace(
            F.col("content"), F.lit(_PHASH_INJECT_FROM), F.lit(_PHASH_INJECT_TO)
        ).alias("content"),
    )
    return docs.unionByName(reenc)


def _phash_sig_ctes(media_cte: str = _PHASH_MEDIA_CTE) -> str:
    """The media/px/h CTE chain producing each payload's 8 dHash band
    chunks — shared by the dedup oracle and the recall gate's
    radius-audit oracle."""
    return f"""media as ({media_cte}),
    px as (
      select media_id,
        list_transform(range(0, {_PHASH_PIX}), i ->
          case when len(content) = 0 then 0
            else cast(floor(
              list_aggregate(list_transform(
                regexp_split_to_array(substr(content,
                  cast(floor(i * len(content) / {_PHASH_PIX}) as int) + 1,
                  cast(floor((i + 1) * len(content) / {_PHASH_PIX})
                       - floor(i * len(content) / {_PHASH_PIX}) as int)), ''),
                c -> ascii(c)), 'sum')
              / greatest(floor((i + 1) * len(content) / {_PHASH_PIX})
                         - floor(i * len(content) / {_PHASH_PIX}), 1)) as int) end
        ) as pix
      from media
    ),
    h as (
      select media_id,
        list_transform(range(0, {_PHASH_BANDS}), c ->
          list_aggregate(list_transform(range(0, 8), j ->
            case when pix[c * 8 + j + 1] > pix[c * 8 + j + 2]
                 then cast(pow(2, j) as bigint) else 0 end), 'sum')
        ) as chunks
      from px
    )"""


def _phash_ham_sql() -> str:
    """The full-Hamming SQL between two `h`-CTE rows aliased a/b —
    shared by the dedup oracle's verify filter and the recall gate's
    radius audit."""
    return " + ".join(
        f"bit_count(cast(xor(a.chunks[{c + 1}], b.chunks[{c + 1}]) as bigint))"
        for c in range(_PHASH_BANDS)
    )


def _phash_oracle(media_cte: str = _PHASH_MEDIA_CTE) -> str:
    duck_structs = ",\n        ".join(
        f"{{'band': {k}, 'bval': chunks[{i + 1}] * 256 + chunks[{j + 1}]}}"
        for k, (i, j) in enumerate(_PHASH_COMBOS)
    )
    ham = _phash_ham_sql()
    return f"""
    with {_phash_sig_ctes(media_cte)},
    keysr as (
      select media_id, chunks, unnest([
        {duck_structs}
      ], recursive := true)
      from h
    ),
    keys as (
      -- the _PHASH_BUCKET_CAP hot-bucket filter, mirrored (r10)
      select * from keysr
      qualify count(*) over (partition by band, bval) <= {_PHASH_BUCKET_CAP}
    ),
    cand as (
      select distinct a.media_id as ida, b.media_id as idb
      from keys a join keys b
        on a.band = b.band and a.bval = b.bval and a.media_id < b.media_id
    ),
    pairs as (
      select ida, idb
      from cand
      join h a on a.media_id = cand.ida
      join h b on b.media_id = cand.idb
      where {ham} <= {_PHASH_MAX_HAM}
    )
    select m.media_id,
           min(p.ida) as dup_of,
           (min(p.ida) is not null) as is_dup
    from media m left join pairs p on p.idb = m.media_id
    group by m.media_id
    """


def _phash_bands(media: DataFrame) -> DataFrame:
    """(media_id, b0..b7): the 64-bit dHash of each payload as 8
    band values — 'resize' the byte stream to {_PHASH_PIX} block-mean
    samples (block averaging IS the resize: robust to small in-place
    value changes), then one gradient bit per adjacent sample pair."""
    n = F.length("content")
    npx = F.lit(_PHASH_PIX)

    def block_mean(i):
        start = (F.floor(i * n / npx) + 1).cast("int")
        ln = (F.floor((i + 1) * n / npx) - F.floor(i * n / npx)).cast("int")
        ssum = F.aggregate(
            F.split(F.col("content").substr(start, ln), ""),
            F.lit(0),
            lambda acc, c: acc + F.ascii(c),
        )
        return F.when(n == 0, F.lit(0)).otherwise(
            F.floor(ssum / F.greatest(ln.cast("long"), F.lit(1))).cast("int")
        )

    pix = F.transform(F.sequence(F.lit(0), F.lit(_PHASH_PIX - 1)), block_mean)
    px = media.select("media_id", pix.alias("pix"))
    bands = [
        sum(
            (
                F.when(
                    F.element_at("pix", c * 8 + j + 1) > F.element_at("pix", c * 8 + j + 2),
                    F.lit(1 << j).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
                for j in range(8)
            ),
            start=F.lit(0).cast("long"),
        ).alias(f"b{c}")
        for c in range(_PHASH_BANDS)
    ]
    return px.select("media_id", *bands)


@query(
    "multimodal_dedup_perceptual",
    oracle=_phash_oracle(),
    tags=("multimodal", "dedup", "perceptual"),
)
def multimodal_dedup_perceptual(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual (dHash) near-dup detection over media payloads:
    resize each payload to _PHASH_PIX block-mean samples, take the
    64 adjacent-sample gradient bits, block on BAND-PAIR keys, verify
    full Hamming <= _PHASH_MAX_HAM within blocks, and label each
    media row with its lowest-id near-duplicate.

    Guaranteed recall, not probabilistic: with 8 bands of 8 bits, any
    pair within Hamming _PHASH_MAX_HAM has >= 2 clean bands
    (pigeonhole), so at least one of the C(8,2)=28 concatenated
    band-pair keys collides — the classic multi-index Hamming search.
    Injected re-encodes measure <= 5 flips; unrelated fixture pairs
    sit at median 32 (min 12 at sf0.01), so the verify filter
    separates cleanly.

    100 TB shape: the mirror of dedup_simhash's banding, tuned for
    Hamming radius — single 8-bit bands guarantee radius 7 but have
    256-value buckets (bucket size N/256: quadratic blow-up at 1e9
    media); 16-bit PAIR keys keep the radius-6 guarantee with 65536x
    better selectivity. Only (media_id, band, 16-bit key) longs
    shuffle — payload bytes never leave the scan stage, and the
    dHash itself is codegen arithmetic beside the scan (the decode
    seam for real images is extract_features' mapInPandas; the fake
    decode here is the same block-mean resize a real pipeline runs
    after the codec). Candidates dedupe before the verify join, and
    the verify moves 8 longs per side.
    """
    # NO repartition here: the payload-never-shuffles invariant
    # (plan-asserted) outranks local-mode fingerprint parallelism for
    # the payload-level pass — at scale the scan supplies the tasks,
    # and the ~2 s single-row-group penalty at check SF is accepted
    # (the 4x-larger frame-level pass makes the opposite call, with a
    # conditional rebalance that is a no-op on a real multi-file scan)
    return _phash_dedup(_injected_media(spark, sf))


def _phash_dedup(media: DataFrame) -> DataFrame:
    """(media_id, dup_of, is_dup) by dHash + multi-index Hamming over
    any (media_id, content) relation — shared by the payload-level and
    frame-level perceptual dedups (identical keys, verify, survivor
    rule)."""
    sig = _phash_bands_arrow(media)  # bit-exact Arrow twin of _phash_bands (asserted in tests)
    key_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                (F.col(f"b{i}") * 256 + F.col(f"b{j}")).alias("bval"),
            )
            for k, (i, j) in enumerate(_PHASH_COMBOS)
        ]
    )
    keys = sig.select("media_id", F.explode(key_structs).alias("kb")).select(
        "media_id", F.col("kb.band").alias("band"), F.col("kb.bval").alias("bval")
    )
    # Hot-bucket cap + posting-list pair expansion (the r10 shape every
    # posting family uses — window qualify, ONE exchange, collect_list
    # reusing the window's partitioning). The earlier band-key
    # self-join had no cap: on a max-correlation corpus (the ×100
    # replication soak — every payload duplicated 100-way, identical
    # dHashes) one 16-bit bucket holds the whole corpus and the pair
    # join goes quadratic; at ×100 it OOM-killed the JVM. The cap
    # bounds every bucket's pair mass at cap²/2 and is mirrored in the
    # oracle's qualify filter; report_lsh_bucket_pressure is the
    # standing tripwire pattern for when a real corpus approaches it.
    from pyspark.sql import Window

    wb = Window.partitionBy("band", "bval")
    blocks = (
        keys.withColumn("df", F.count(F.lit(1)).over(wb))
        .where(F.col("df") <= _PHASH_BUCKET_CAP)
        .groupBy("band", "bval")
        .agg(F.sort_array(F.collect_list("media_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    cand = (
        blocks.select("ids", F.posexplode("ids").alias("i", "ida"))
        .select(
            "ida",
            F.explode_outer(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("idb"),
        )
        .where(F.col("idb").isNotNull())
        .distinct()
    )
    sa = sig.select(F.col("media_id").alias("ida"), *[F.col(f"b{c}").alias(f"ab{c}") for c in range(_PHASH_BANDS)])
    sb = sig.select(F.col("media_id").alias("idb"), *[F.col(f"b{c}").alias(f"bb{c}") for c in range(_PHASH_BANDS)])
    ham = sum(
        (F.bit_count(F.col(f"ab{c}").bitwiseXOR(F.col(f"bb{c}"))) for c in range(_PHASH_BANDS)),
        start=F.lit(0),
    )
    pairs = (
        cand.join(sa, "ida").join(sb, "idb").where(ham <= _PHASH_MAX_HAM).select("ida", "idb")
    )
    return (
        media.select("media_id")
        .join(pairs, media["media_id"] == pairs["idb"], "left")
        .groupBy("media_id")
        .agg(F.min("ida").alias("dup_of"))
        .withColumn("is_dup", F.col("dup_of").isNotNull())
    )


# Image-caption pair assembly — the contrastive-training last mile
# (CLIP/ALIGN data prep): pick a quality-gated caption for every media
# payload and emit the (payload, caption) manifest the trainer reads.
# Caption gate mirrors published alt-text filters (language + token
# bounds); pairing key is the page/source the media came from, ties
# broken to the lowest caption id so the manifest is deterministic.
_CLIP_CAP_MIN_TOK = 8
_CLIP_CAP_MAX_TOK = 64


@query(
    "multimodal_clip_pairs",
    oracle=rf"""
    with caps as (
      select doc_id, source,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
               as n_tok
      from documents
      where lang = 'en'
        and len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
              between {_CLIP_CAP_MIN_TOK} and {_CLIP_CAP_MAX_TOK}
    ),
    best as (
      select source,
             min(doc_id) as caption_doc,
             cast(min_by(n_tok, doc_id) as bigint) as caption_n_tokens
      from caps group by source
    )
    select m.doc_id as media_id,
           case when m.doc_id % 2 = 0 then 'image' else 'audio' end as media_type,
           cast(octet_length(encode(m.text)) as bigint) as n_bytes,
           m.source,
           b.caption_doc,
           b.caption_n_tokens,
           coalesce(b.caption_doc = m.doc_id, false) as is_self
    from documents m
    left join best b on m.source = b.source
    """,
    tags=("multimodal", "curation"),
)
def multimodal_clip_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Pair every media payload with its source's best gated caption.

    100 TB shape: the caption side collapses to ONE row per source
    (map-side-combined struct-min aggregate) before the join, so the
    pairing is a broadcast hash join against a source-count-sized dim
    — the media payloads never shuffle, and the caption quality gate
    (token bounds + language) runs beside the caption scan. A
    same-page URL key swaps in for `source` unchanged at web scale.
    """
    d = t(spark, sf, "documents")
    media = documents_as_media(spark, sf).select(
        F.col("media_id"),
        F.col("media_type"),
        F.octet_length("content").cast("long").alias("n_bytes"),
        F.element_at(F.col("meta"), "source").alias("source"),
    )
    n_tok = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != ""))
    caps = (
        d.where(F.col("lang") == "en")
        .select("doc_id", "source", n_tok.alias("n_tok"))
        .where(F.col("n_tok").between(_CLIP_CAP_MIN_TOK, _CLIP_CAP_MAX_TOK))
    )
    best = caps.groupBy("source").agg(
        F.min(F.struct("doc_id", "n_tok")).alias("_b")
    ).select(
        "source",
        F.col("_b.doc_id").alias("caption_doc"),
        F.col("_b.n_tok").cast("long").alias("caption_n_tokens"),
    )
    return media.join(F.broadcast(best), "source", "left").select(
        "media_id",
        "media_type",
        "n_bytes",
        "source",
        "caption_doc",
        "caption_n_tokens",
        F.coalesce(F.col("caption_doc") == F.col("media_id"), F.lit(False)).alias("is_self"),
    )


# Frame-level perceptual dedup — the video-pipeline granularity the
# payload-level pass (multimodal_dedup_perceptual) cannot see: WHICH
# segment of a near-duplicate stream actually matches (shared intros/
# outros/logos across otherwise-different media, re-encoded segments
# inside a stream). Frames come from the 1:4 deterministic sampler
# (sample_frames); each frame gets its own dHash and enters the same
# multi-index Hamming blocking keyed by a composite frame id
# fid = media_id*4 + frame_idx (injective: frame_idx < 4).
_FRAME_CTE = f"""
      select m.media_id * 4 + i as media_id,
             substr(m.content,
                    cast(i * greatest(len(m.content) // 4, 1) + 1 as int),
                    cast(greatest(len(m.content) // 4, 1) as int)) as content
      from ({_PHASH_MEDIA_CTE}) m, generate_series(0, 3) t(i)
"""


@query(
    "multimodal_frame_dedup",
    oracle=f"""
    select fid,
           fid // 4 as media_id,
           cast(fid % 4 as int) as frame_idx,
           dup_of, is_dup
    from (
      select media_id as fid, dup_of, is_dup
      from ( {{inner}} ) r
    )
    """.format(inner=_phash_oracle(_FRAME_CTE)),
    tags=("multimodal", "dedup", "perceptual", "frames"),
)
def multimodal_frame_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup FRAMES across the media corpus (dHash + Hamming).

    The injected re-encodes substitute bytes IN PLACE, so each altered
    stream's frames stay aligned with the original's — the frame-level
    pass localizes the match per segment (clean frames pair exactly,
    altered frames pair within the Hamming budget).

    100 TB shape: identical to the payload-level pass per frame — the
    sampler is the one mapInPandas 1:4 explode (frames ride the same
    batch as their payload, no shuffle), the dHash is arithmetic
    beside it, and only (fid, band, 16-bit key) longs shuffle. Frame
    count multiplies rows x4 but DIVIDES per-item bytes by 4: total
    blocking work is unchanged, which is why frame granularity is
    affordable at scale.
    """
    docs = t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.coalesce(F.col("text"), F.lit("")).alias("content"),
    )
    reenc = docs.where(F.col("media_id") % 10 == 0).select(
        (F.col("media_id") + 1_000_000_000).alias("media_id"),
        F.replace(F.col("content"), F.lit(" the "), F.lit(" THE ")).alias("content"),
    )
    media = docs.unionByName(reenc).select(
        "media_id", F.col("content").cast("binary").alias("content")
    )
    # CONDITIONAL rebalance before the per-frame Arrow dHash: the check
    # fixture's parquet is 1-2 row groups, which confines ~20 s of
    # fingerprint CPU to two cores (the report_lsh_tuning
    # single-row-group hazard; measured 6.0 -> 3.8 s warm at sf0.1).
    # The condition makes the payload shuffle a LOCAL-ARTIFACT-ONLY
    # cost: a real multi-file corpus already scans with >= parallelism
    # tasks, so the branch never fires and payload bytes stay in the
    # scan stage (the perceptual-dedup invariant).
    par = spark.sparkContext.defaultParallelism
    if media.rdd.getNumPartitions() < par:
        media = media.repartition(par)
    frames = sample_frames(media, n_frames=4).select(
        (F.col("media_id") * 4 + F.col("frame_idx")).alias("media_id"),
        F.col("frame").cast("string").alias("content"),
    )
    out = _phash_dedup(frames)
    return out.select(
        F.col("media_id").alias("fid"),
        (F.col("media_id") / 4).cast("long").alias("media_id"),
        (F.col("media_id") % 4).cast("int").alias("frame_idx"),
        "dup_of",
        "is_dup",
    )


def _code_point_sums(s: str | bytes | None) -> np.ndarray:
    """int64 prefix sums, from 0 (length n + 1), of a payload's n
    CHARACTER code points: None reads as "", bytes decode as UTF-8 with
    replacement, and characters are utf-32 code points, matching the
    JVM's substr/ascii semantics and the oracle's (a bytes decode would
    diverge on any multibyte character)."""
    if s is None:
        s = ""
    if not isinstance(s, str):
        s = bytes(s).decode("utf-8", errors="replace")
    b = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    return np.concatenate(([0], np.cumsum(b, dtype=np.int64)))


def _phash_bands_arrow(media: DataFrame) -> DataFrame:
    """Arrow-vectorized twin of :func:`_phash_bands` — same (media_id,
    b0..b7) output, bit-exact by construction: every quantity is
    INTEGER (byte sums via cumsum differences, floor-divided block
    means, exact comparisons for the gradient bits), so there is no
    float rounding to match — only arithmetic to replicate.

    Why: the JVM spelling evaluates 65 interpreted substr/split/ascii
    folds per item (~2.3 ms/item measured at sf0.1 — 20 s over 8800
    frames), exactly the interpreted-HOF hot spot the engine's UDF
    policy reserves Arrow kernels for (lsh_band_keys_arrow precedent).
    Equality with the JVM fold is asserted item-for-item in
    tests/test_multimodal.py.
    """

    @F.pandas_udf("array<bigint>")
    def bands(content: pd.Series) -> pd.Series:
        out = []
        for s in content:
            cs = _code_point_sums(s)
            idx = (np.arange(_PHASH_PIX + 1, dtype=np.int64) * (len(cs) - 1)) // _PHASH_PIX
            starts, ends = idx[:-1], idx[1:]
            pix = (cs[ends] - cs[starts]) // np.maximum(ends - starts, 1)  # all 0 when empty
            bits = (pix[:-1] > pix[1:]).astype(np.int64)
            chunk = bits.reshape(_PHASH_BANDS, 8)
            vals = (chunk * (1 << np.arange(8, dtype=np.int64))).sum(axis=1)
            out.append(vals)
        return pd.Series(out)

    return media.select(
        "media_id", bands(F.col("content").cast("string")).alias("_b")
    ).select(
        "media_id", *[F.element_at("_b", c + 1).alias(f"b{c}") for c in range(_PHASH_BANDS)]
    )


# End-to-end media curation composite — the multimodal twin of
# pipeline_curate_corpus: one auditable pass from raw payloads to a
# training-ready manifest, composing the family's stages in their
# production order with a per-item disposition (the "why was this
# dropped" column reviewers actually ask for):
#   ingest (+ injected re-encodes) -> exact byte dedup -> perceptual
#   near-dup -> caption gating -> shard assignment.
_MEDIA_SHARDS = 8


def _survivors_sql() -> str:
    return f"""
      select m.media_id, m.content
      from ({_PHASH_MEDIA_CTE}) m
      join (
        select md5(content) as fp, min(media_id) as keep_id
        from ({_PHASH_MEDIA_CTE}) group by 1
      ) k on md5(m.content) = k.fp and m.media_id = k.keep_id
    """


@query(
    "pipeline_curate_media",
    oracle=f"""
    with media as ({_PHASH_MEDIA_CTE}),
    exact_keep as (
      select md5(content) as fp, min(media_id) as keep_id
      from media group by 1
    ),
    exact as (
      select m.media_id,
             k.keep_id,
             m.media_id <> k.keep_id as exact_dup
      from media m join exact_keep k on md5(m.content) = k.fp
    ),
    perc as (
      select media_id, dup_of, is_dup
      from ( {_phash_oracle(_survivors_sql())} )
    ),
    caps as (
      select doc_id, source,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
               as n_tok
      from documents
      where lang = 'en'
        and len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
              between {_CLIP_CAP_MIN_TOK} and {_CLIP_CAP_MAX_TOK}
    ),
    best as (
      select source, min(doc_id) as caption_doc from caps group by source
    ),
    disp as (
      select e.media_id,
             case
               when e.exact_dup then 'drop_exact_dup'
               when p.is_dup then 'drop_near_dup'
               when b.caption_doc is null then 'drop_no_caption'
               when b.caption_doc = e.media_id then 'drop_self_caption'
               else 'kept'
             end as status,
             case when not e.exact_dup and not coalesce(p.is_dup, false)
                   and b.caption_doc is not null and b.caption_doc <> e.media_id
                  then b.caption_doc end as caption_doc
      from exact e
      left join perc p on e.media_id = p.media_id
      left join documents d on d.doc_id = e.media_id % 1000000000
      left join best b on b.source = d.source
    )
    select media_id, status, caption_doc,
           case when status = 'kept'
                then ('0x' || substr(md5(cast(media_id as varchar)), 1, 8))::bigint
                     % {_MEDIA_SHARDS} end as shard
    from disp
    """,
    tags=("multimodal", "pipeline", "curation"),
)
def pipeline_curate_media(spark: SparkSession, sf: str) -> DataFrame:
    """Raw media payloads -> training manifest, with per-item audit.

    100 TB shape: each stage keeps its own operator's plan — the exact
    dedup is one md5 groupBy where payload bytes never shuffle, the
    perceptual pass runs on byte-dedup SURVIVORS only (the production
    ordering: cheap exact collapse first shrinks the expensive
    near-dup input), captions collapse to one broadcast row per
    source, and shard assignment is a codegen hash beside the final
    projection. The composite adds no new shuffle class — it is the
    family's stages in sequence with dispositions preserved.
    """
    docs = t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.coalesce(F.col("text"), F.lit("")).alias("content"),
    )
    reenc = docs.where(F.col("media_id") % 10 == 0).select(
        (F.col("media_id") + 1_000_000_000).alias("media_id"),
        F.replace(F.col("content"), F.lit(" the "), F.lit(" THE ")).alias("content"),
    )
    media = docs.unionByName(reenc)
    keep = media.groupBy(F.md5("content").alias("fp")).agg(
        F.min("media_id").alias("keep_id")
    )
    exact = media.join(keep, F.md5(media["content"]) == keep["fp"]).select(
        "media_id",
        "content",
        (F.col("media_id") != F.col("keep_id")).alias("exact_dup"),
    )
    survivors = exact.where(~F.col("exact_dup")).select("media_id", "content")
    perc = _phash_dedup(survivors).select(
        F.col("media_id").alias("p_id"), "is_dup"
    )
    d = t(spark, sf, "documents")
    n_tok = F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != ""))
    caps = (
        d.where(F.col("lang") == "en")
        .select("doc_id", "source", n_tok.alias("n_tok"))
        .where(F.col("n_tok").between(_CLIP_CAP_MIN_TOK, _CLIP_CAP_MAX_TOK))
    )
    best = caps.groupBy("source").agg(F.min("doc_id").alias("caption_doc"))
    src = d.select(F.col("doc_id").alias("src_doc"), "source")
    disp = (
        exact.select("media_id", "exact_dup")
        .join(perc, F.col("media_id") == F.col("p_id"), "left")
        .join(src, F.col("media_id") % 1_000_000_000 == F.col("src_doc"), "left")
        .join(F.broadcast(best), "source", "left")
    )
    clean = ~F.col("exact_dup") & ~F.coalesce(F.col("is_dup"), F.lit(False))
    has_cap = F.col("caption_doc").isNotNull()
    not_self = F.col("caption_doc") != F.col("media_id")
    status = (
        F.when(F.col("exact_dup"), "drop_exact_dup")
        .when(F.coalesce(F.col("is_dup"), F.lit(False)), "drop_near_dup")
        .when(~has_cap, "drop_no_caption")
        .when(~not_self, "drop_self_caption")
        .otherwise("kept")
    )
    kept_cap = F.when(clean & has_cap & not_self, F.col("caption_doc"))
    shard = F.when(
        status == "kept",
        F.conv(F.substring(F.md5(F.col("media_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % _MEDIA_SHARDS,
    )
    return disp.select(
        "media_id",
        status.alias("status"),
        kept_cap.alias("caption_doc"),
        shard.alias("shard"),
    )


# Audio fingerprint near-dup — the SHIFT-TOLERANT sibling of
# multimodal_dedup_perceptual. The dHash pass resamples the whole
# payload to a fixed pixel count, so a time-shifted re-record (the
# same audio with a leading gap: re-uploads with silence padding,
# re-broadcasts joined late) moves EVERY block boundary and flips the
# whole signature. The classical fix is landmark fingerprinting
# (Shazam / Chromaprint): fixed-size frames, energy peaks as anchor
# points, and hashes over PAIRS of nearby peaks — a constant shift
# moves all peaks together, so the (energy, energy, gap) triples are
# unchanged. The fixture has no shifted re-records, so the operator
# INJECTS them deterministically (every 10th payload of >= 150 bytes
# re-keyed +1e9 with a 2-frame constant prefix — "silence" padding)
# and the oracle replays the injection; the detection logic is the
# production inverted-index match.
_AUDIO_FR = 16         # frame size in samples (bytes)
_AUDIO_FANOUT = 3      # each peak pairs with its next 3 peaks
_AUDIO_DF_CAP = 1000   # posting-list cap: drop degenerate hot hashes
_AUDIO_MIN_SHARED = 2  # absolute floor on shared landmarks
_AUDIO_PREFIX = "#" * (2 * _AUDIO_FR)  # injected "silence": 2 whole frames

_AUDIO_MEDIA_CTE = f"""
      select doc_id as track_id, coalesce(text, '') as content from documents
      union all
      select doc_id + 1000000000 as track_id,
             repeat('#', {2 * _AUDIO_FR}) || coalesce(text, '') as content
      from documents
      where doc_id % 10 = 0 and len(coalesce(text, '')) >= 150
"""

# Frame-energy SQL expression over a `content` column — the ONE
# spelling every audio oracle (landmarks, trim) derives its frames
# from, so the normalizer and the matcher can never frame differently.
_AUDIO_ENERGY_SQL = f"""list_transform(range(0, greatest(cast(ceil(len(content) / {_AUDIO_FR}.0) as int), 1)), i ->
          list_aggregate(list_transform(regexp_split_to_array(
            substr(content, i * {_AUDIO_FR} + 1, {_AUDIO_FR}), ''), c -> ascii(c)), 'sum'))"""

# Landmark extraction as a DuckDB CTE chain (appended after a `media`
# CTE): frame energies -> strict interior peaks -> fan-out pair hashes.
_AUDIO_LANDMARK_CTES = f"""
    fr as (
      select track_id, {_AUDIO_ENERGY_SQL} as e
      from media
    ),
    pk as (
      select track_id,
        list_filter(range(1, len(e) - 1),
                    i -> e[i + 1] > e[i] and e[i + 1] > e[i + 2]) as peaks,
        e
      from fr
    ),
    lm as (
      select track_id,
        list_distinct(flatten(list_transform(range(0, len(peaks)), i ->
          list_transform(range(i + 1, least(i + 1 + {_AUDIO_FANOUT}, len(peaks))), j ->
            ((e[peaks[i + 1] + 1] // 16) * 128 + (e[peaks[j + 1] + 1] // 16)) * 1000
            + least(peaks[j + 1] - peaks[i + 1], 999))))) as hashes
      from pk
    ),
    nl as (select track_id, cast(len(hashes) as int) as n_landmarks from lm),
    post as (
      select track_id, h from (
        select track_id, unnest(hashes) as h from lm
      ) qualify count(*) over (partition by h) <= {_AUDIO_DF_CAP}
    )
"""


def _audio_oracle() -> str:
    return f"""
    with media as ({_AUDIO_MEDIA_CTE}),
    {_AUDIO_LANDMARK_CTES},
    shared as (
      select a.track_id as ida, b.track_id as idb, count(*) as n_shared
      from post a join post b on a.h = b.h and a.track_id < b.track_id
      group by 1, 2
    ),
    pairs as (
      select ida, idb
      from shared
      join nl na on na.track_id = shared.ida
      join nl nb on nb.track_id = shared.idb
      where n_shared >= greatest({_AUDIO_MIN_SHARED},
                                 (least(na.n_landmarks, nb.n_landmarks) + 1) // 2)
    )
    select nl.track_id,
           nl.n_landmarks,
           min(p.ida) as dup_of,
           (min(p.ida) is not null) as is_dup
    from nl left join pairs p on p.idb = nl.track_id
    group by nl.track_id, nl.n_landmarks
    """


def _audio_frame_energies() -> "F.Column":
    """Frame-energy expression over the `content` column — the ONE
    Spark spelling both the landmark extractor and the silence trim
    frame with (twin of _AUDIO_ENERGY_SQL)."""
    n = F.length("content")
    nfr = F.greatest(F.ceil(n / _AUDIO_FR).cast("int"), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), nfr - 1),
        lambda i: F.aggregate(
            F.split(F.col("content").substr(i * _AUDIO_FR + 1, F.lit(_AUDIO_FR)), ""),
            F.lit(0),
            lambda acc, c: acc + F.ascii(c),
        ),
    )


def _audio_landmarks(media: DataFrame) -> DataFrame:
    """(track_id, n_landmarks, hashes): distinct landmark hashes per
    track. Frames of {_AUDIO_FR} samples -> frame energy (byte sum) ->
    strict interior energy peaks -> one hash per (peak, one-of-next-3
    peaks) pair: (energy1//16, energy2//16, frame gap) packed into a
    long. Pure codegen arithmetic beside the scan — no Python in the
    loop, payload bytes never shuffle (only the hash longs do)."""
    fr = media.select("track_id", _audio_frame_energies().alias("e"))
    interior = F.when(
        F.size("e") >= 3, F.sequence(F.lit(1), F.size("e") - 2)
    ).otherwise(F.array().cast("array<int>"))
    peaks = F.filter(
        interior,
        lambda i: (F.element_at("e", i + 1) > F.element_at("e", i))
        & (F.element_at("e", i + 1) > F.element_at("e", i + 2)),
    )
    pk = fr.select("track_id", "e", peaks.alias("peaks"))

    def q(p):  # quantized energy of the frame at 0-based index p
        return F.floor(F.element_at("e", p + 1) / 16).cast("long")

    hashes = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("peaks"),
                lambda p, i: F.transform(
                    F.slice(F.col("peaks"), i + 2, _AUDIO_FANOUT),
                    lambda p2: (q(p) * 128 + q(p2)) * 1000
                    + F.least(p2 - p, F.lit(999)).cast("long"),
                ),
            )
        )
    )
    return pk.select(
        "track_id",
        F.size(hashes).alias("n_landmarks"),
        hashes.alias("hashes"),
    )



def _audio_corpus_delta(spark: SparkSession, sf: str):
    """(corpus, delta): every original track, plus the injected
    shifted re-records (every 10th payload >= 150 chars, 2-frame
    "silence" prefix, re-keyed +1e9) — the ONE definition both the
    full and the incremental operators (and, via _AUDIO_MEDIA_CTE,
    both oracles) derive from."""
    docs = t(spark, sf, "documents").select(
        F.col("doc_id").alias("track_id"),
        F.coalesce(F.col("text"), F.lit("")).alias("content"),
    )
    delta = docs.where(
        (F.col("track_id") % 10 == 0) & (F.length("content") >= 150)
    ).select(
        (F.col("track_id") + 1_000_000_000).alias("track_id"),
        F.concat(F.lit(_AUDIO_PREFIX), F.col("content")).alias("content"),
    )
    return docs, delta


def _audio_capped_postings(lm: DataFrame):
    """(nl, post): per-track landmark counts and the df-capped
    (track_id, hash) posting relation — the inverted index both
    matchers probe."""
    nl = lm.select("track_id", "n_landmarks")
    post = lm.select("track_id", F.explode("hashes").alias("h"))
    hot = (
        post.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > _AUDIO_DF_CAP)
        .select("h")
    )
    return nl, post.join(F.broadcast(hot), "h", "left_anti")


def _audio_match_pairs(hits: DataFrame, nl: DataFrame) -> DataFrame:
    """Apply the shared-landmark threshold to (ida, idb, n_shared)
    candidate hits: >= max(_AUDIO_MIN_SHARED, half the smaller track's
    landmark count)."""
    na = nl.select(F.col("track_id").alias("ida"), F.col("n_landmarks").alias("na"))
    nb = nl.select(F.col("track_id").alias("idb"), F.col("n_landmarks").alias("nb"))
    thresh = F.greatest(
        F.lit(_AUDIO_MIN_SHARED),
        ((F.least("na", "nb") + 1) / 2).cast("int"),
    )
    return (
        hits.join(na, "ida").join(nb, "idb")
        .where(F.col("n_shared") >= thresh)
        .select("ida", "idb")
    )


@query(
    "multimodal_dedup_audio",
    oracle=_audio_oracle(),
    tags=("multimodal", "dedup", "audio"),
)
def multimodal_dedup_audio(spark: SparkSession, sf: str) -> DataFrame:
    """Shift-tolerant audio near-dup via landmark fingerprints: frame
    the byte stream, take strict energy peaks as anchors, hash each
    (peak, one of the next F=_AUDIO_FANOUT peaks) pair as (quantized
    energy, quantized energy, frame gap), and match tracks through an
    inverted index on the hash — duplicates iff they share >=
    max(_AUDIO_MIN_SHARED, half the smaller track's landmark count)
    hashes. A constant-offset shift (the injected 2-frame "silence"
    prefix) translates all peaks together, so every source landmark
    survives verbatim in the shifted copy — recall over fingerprintable
    sources (>= 2 landmarks) is exactly 1.0, measured by
    recall_dedup_audio. Tracks with < 2 landmarks (monotone "silence")
    are honestly unfingerprintable, the audio analog of a blank image.

    100 TB shape: the inverted-index join moves only (track_id, hash)
    longs — payloads never leave the scan stage, and the fingerprint is
    whole-stage-codegen arithmetic (no Python, no UDF). Posting lists
    are df-capped at _AUDIO_DF_CAP (mirrored in the oracle) so a
    degenerate hash cannot go quadratic — the dedup_ngram_jaccard
    discipline. The pair aggregate is one shuffle on (ida, idb); the
    threshold join broadcasts nothing corpus-sized (n_landmarks rides
    along as a column). Real audio swaps the byte-sum energy for a
    codec-decoded spectral band energy inside extract_features'
    mapInPandas seam; the landmark algebra downstream is unchanged.
    """
    docs, shifted = _audio_corpus_delta(spark, sf)
    media = docs.unionByName(shifted)
    # bit-exact Arrow twin of _audio_landmarks (asserted in tests);
    # localCheckpoint: nl, both posting sides, and the df-cap all read
    # this ~3-column table — pay the fingerprint once
    lm = _audio_landmarks_arrow(media).localCheckpoint(eager=True)
    nl, post = _audio_capped_postings(lm)
    shared = (
        post.alias("a")
        .join(
            post.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.track_id") < F.col("b.track_id")),
        )
        .groupBy(
            F.col("a.track_id").alias("ida"), F.col("b.track_id").alias("idb")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    pairs = _audio_match_pairs(shared, nl)
    return (
        nl.join(pairs, nl["track_id"] == pairs["idb"], "left")
        .groupBy("track_id", "n_landmarks")
        .agg(F.min("ida").alias("dup_of"))
        .withColumn("is_dup", F.col("dup_of").isNotNull())
    )


def _audio_landmarks_arrow(media: DataFrame) -> DataFrame:
    """Arrow-vectorized twin of :func:`_audio_landmarks` — same
    (track_id, n_landmarks, hashes) output, bit-exact by construction:
    every quantity is INTEGER (frame sums via cumsum differences,
    floor-divided quantization, exact peak comparisons), so there is
    no float rounding to match — only arithmetic to replicate. Frames
    and energies are computed over CHARACTER CODE POINTS (utf-32
    decode), matching the JVM's substr/ascii character semantics and
    the oracle's — a bytes-based decode would diverge on any
    multibyte character even though the all-ASCII fixture hides it.

    Why: the JVM spelling nests aggregate-inside-transform twice, and
    every downstream reference re-inlines the whole energy fold
    (measured ~28 ms/item through the full dedup plan at sf0.001 —
    the interpreted-HOF blowup _phash_bands_arrow documents). Set
    equality with the JVM fold is asserted item-for-item in
    tests/test_multimodal.py, including non-ASCII rows.
    """

    @F.pandas_udf("array<bigint>")
    def hashes(content: pd.Series) -> pd.Series:
        out = []
        for s in content:
            cs = _code_point_sums(s)
            n = len(cs) - 1
            starts = np.arange(0, n, _AUDIO_FR, dtype=np.int64)
            e = cs[np.minimum(starts + _AUDIO_FR, n)] - cs[starts]
            if len(e) < 3:
                out.append(np.empty(0, dtype=np.int64))
                continue
            inner = e[1:-1]
            p = np.where((inner > e[:-2]) & (inner > e[2:]))[0] + 1
            hs = []
            q = e[p] // 16
            for d in range(1, _AUDIO_FANOUT + 1):
                if len(p) <= d:
                    break
                dt = np.minimum(p[d:] - p[:-d], 999)
                hs.append((q[:-d] * 128 + q[d:]) * 1000 + dt)
            out.append(
                np.unique(np.concatenate(hs)) if hs else np.empty(0, dtype=np.int64)
            )
        return pd.Series(out)

    return media.select(
        "track_id", hashes(F.col("content").cast("string")).alias("hashes")
    ).select("track_id", F.size("hashes").alias("n_landmarks"), "hashes")


# Incremental audio near-dup — the INGESTION shape (the text family's
# dedup_incremental_minhash, for media): the corpus sits at rest as
# landmark POSTING LISTS; a new-arrivals delta is fingerprinted and
# probed against those lists (plus within-delta), so per-batch cost is
# O(delta), never a corpus re-pairing. Delta = the injected shifted
# re-records; corpus = every original track.
@query(
    "multimodal_dedup_audio_incr",
    oracle=f"""
    with media as ({_AUDIO_MEDIA_CTE}),
    {_AUDIO_LANDMARK_CTES},
    dpost as (select * from post where track_id >= 1000000000),
    rest as (select * from post where track_id < 1000000000),
    hits as (
      select r.track_id as ida, d.track_id as idb, count(*) as n_shared
      from dpost d join rest r on r.h = d.h
      group by 1, 2
      union all
      select a.track_id as ida, b.track_id as idb, count(*) as n_shared
      from dpost a join dpost b on a.h = b.h and a.track_id < b.track_id
      group by 1, 2
    ),
    pairs as (
      select ida, idb
      from hits
      join nl na on na.track_id = hits.ida
      join nl nb on nb.track_id = hits.idb
      where n_shared >= greatest({_AUDIO_MIN_SHARED},
                                 (least(na.n_landmarks, nb.n_landmarks) + 1) // 2)
    )
    select d.track_id,
           d.n_landmarks,
           min(p.ida) as dup_of,
           (min(p.ida) is not null) as is_dup
    from (select * from nl where track_id >= 1000000000) d
    left join pairs p on p.idb = d.track_id
    group by d.track_id, d.n_landmarks
    """,
    tags=("multimodal", "dedup", "audio", "incremental"),
)
def multimodal_dedup_audio_incr(spark: SparkSession, sf: str) -> DataFrame:
    """Label ONLY the delta tracks (the shifted re-records) against
    the at-rest corpus posting lists plus earlier delta arrivals —
    identical match rule to multimodal_dedup_audio, O(delta) probe
    cost.

    100 TB shape: the corpus posting list (track_id, hash) is the
    INDEX AT REST — maintained incrementally at ingest (append the new
    batch's postings), bucketed by hash so the delta probe is a
    co-located join; nothing corpus-sized is re-fingerprinted or
    re-paired per batch. The within-delta self-join is delta-sized.
    Same df cap, same threshold algebra, same honest
    n_landmarks-below-2 behavior as the full operator.
    """
    docs, delta = _audio_corpus_delta(spark, sf)
    media = docs.unionByName(delta)
    lm = _audio_landmarks_arrow(media).localCheckpoint(eager=True)
    nl, post = _audio_capped_postings(lm)
    is_delta = F.col("track_id") >= 1_000_000_000
    dpost = post.where(is_delta)
    rest = post.where(~is_delta)
    corpus_hits = (
        rest.alias("r")
        .join(dpost.alias("d"), F.col("r.h") == F.col("d.h"))
        .groupBy(F.col("r.track_id").alias("ida"), F.col("d.track_id").alias("idb"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    delta_hits = (
        dpost.alias("a")
        .join(
            dpost.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.track_id") < F.col("b.track_id")),
        )
        .groupBy(F.col("a.track_id").alias("ida"), F.col("b.track_id").alias("idb"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    pairs = _audio_match_pairs(corpus_hits.unionByName(delta_hits), nl)
    dnl = nl.where(F.col("track_id") >= 1_000_000_000)
    return (
        dnl.join(pairs, dnl["track_id"] == pairs["idb"], "left")
        .groupBy("track_id", "n_landmarks")
        .agg(F.min("ida").alias("dup_of"))
        .withColumn("is_dup", F.col("dup_of").isNotNull())
    )


# Leading/trailing silence trim — the NORMALIZATION pass that runs
# before exact hashing: the injected re-records differ from their
# sources only by a silence prefix, so frame-level trimming turns the
# NEAR-dup (landmark territory) back into an EXACT dup
# (md5 territory) — the cheap path a real audio pipeline tries first.
# Silence = frame MEAN energy <= _AUDIO_SILENCE_PER_CHAR per char
# (integer cross-multiplied, no division): the '#' padding averages 35
# per char, real content averages ~90+; a per-char bound classifies
# short PARTIAL tail frames correctly where a raw-sum bound calls any
# few-char frame "silent".
_AUDIO_SILENCE_PER_CHAR = 40


@query(
    "multimodal_audio_trim",
    oracle=f"""
    with media as ({_AUDIO_MEDIA_CTE}),
    fr as (
      select track_id, content, {_AUDIO_ENERGY_SQL} as e
      from media
    ),
    loud as (
      select track_id, content, len(e) as n_frames,
             list_filter(range(0, len(e)), i ->
               e[i + 1] > {_AUDIO_SILENCE_PER_CHAR}
                          * least({_AUDIO_FR}, len(content) - i * {_AUDIO_FR})) as li
      from fr
    ),
    tr as (
      select track_id, n_frames,
             cast(len(li) as int) as n_loud,
             cast(coalesce(li[1], 0) as int) as first_loud,
             case when len(li) = 0 then ''
                  else substr(content, li[1] * {_AUDIO_FR} + 1,
                              (li[-1] - li[1] + 1) * {_AUDIO_FR}) end as trimmed
      from loud
    )
    select tr.track_id,
           cast(tr.n_frames as int) as n_frames,
           tr.n_loud, tr.first_loud,
           cast(len(tr.trimmed) as bigint) as trimmed_chars,
           md5(tr.trimmed) as trimmed_md5,
           case when tr.track_id >= 1000000000
                then md5(tr.trimmed) = md5(src.trimmed) end as exact_after_trim
    from tr
    left join tr src on src.track_id = tr.track_id - 1000000000
    """,
    tags=("multimodal", "audio", "normalize"),
)
def multimodal_audio_trim(spark: SparkSession, sf: str) -> DataFrame:
    """Trim whole silence frames from both ends of every track and
    fingerprint the remainder; for the injected re-records, compare
    the trimmed payload to the SOURCE'S TRIMMED payload (normalize
    BOTH sides — the production contract, robust to sources carrying
    their own edge silence). The prefix padding is whole frames, so
    trim(re-record) == trim(source) and exact_after_trim is true for
    every injected track (asserted in tests). Normalize-then-md5 is the cheap dedup path;
    the landmark matcher remains for shifts that are NOT clean silence
    (mid-stream gaps, partial-frame offsets).

    100 TB shape: one narrow map — the frame energies, the loud-index
    scan, and the trim substring are all codegen beside the scan; the
    only join is the delta->source md5 comparison, keyed on track_id.
    Payload bytes never shuffle (only the md5 and the integers leave
    the scan stage).
    """
    docs, delta = _audio_corpus_delta(spark, sf)
    media = docs.unionByName(delta)
    fr = media.select("track_id", "content", _audio_frame_energies().alias("e"))
    li = F.filter(
        F.sequence(F.lit(0), F.size("e") - 1),
        lambda i: F.element_at("e", i + 1)
        > _AUDIO_SILENCE_PER_CHAR
        * F.least(F.lit(_AUDIO_FR), F.length("content") - i * _AUDIO_FR),
    )
    loud = fr.select("track_id", "content", F.size("e").alias("n_frames"), li.alias("li"))
    first = F.element_at("li", 1)
    last = F.element_at("li", -1)
    trimmed = F.when(F.size("li") == 0, F.lit("")).otherwise(
        F.col("content").substr(
            first * _AUDIO_FR + 1, (last - first + 1) * F.lit(_AUDIO_FR)
        )
    )
    tr = loud.select(
        "track_id",
        F.col("n_frames").cast("int").alias("n_frames"),
        F.size("li").cast("int").alias("n_loud"),
        F.coalesce(first, F.lit(0)).cast("int").alias("first_loud"),
        F.length(trimmed).cast("long").alias("trimmed_chars"),
        F.md5(trimmed).alias("trimmed_md5"),
    ).localCheckpoint(eager=True)  # feeds the output AND the src side of the join
    # trimmed-to-trimmed: a real pipeline normalizes BOTH sides, so a
    # source with its own edge-silence frame still matches its re-record
    src = tr.select(
        (F.col("track_id") + 1_000_000_000).alias("track_id"),
        F.col("trimmed_md5").alias("src_md5"),
    )
    return tr.join(src, "track_id", "left").select(
        "track_id",
        "n_frames",
        "n_loud",
        "first_loud",
        "trimmed_chars",
        "trimmed_md5",
        F.when(
            F.col("track_id") >= 1_000_000_000,
            F.col("trimmed_md5") == F.col("src_md5"),
        ).alias("exact_after_trim"),
    )


# Scene-cut detection — the video SEGMENTATION primitive the frame
# family implies (frame_dedup finds cross-media matches; this finds
# WITHIN-media discontinuities): dHash each sampled frame, Hamming-
# compare consecutive frames, and open a new scene when the distance
# jumps past the cut threshold. Scene boundaries drive keyframe
# selection, per-scene captioning, and clip-level dedup in a real
# video pipeline. The fixture's 4-frame fakes are genuinely bimodal
# (repetitive texts yield consecutive Hamming <= 10, heterogeneous
# ones > 20 — measured at both check SFs), so the threshold separates
# real modes rather than labeling everything a cut.
_SCENE_CUT_HAM = 16


def _scene_frames_cte() -> str:
    return """
      select m.media_id * 4 + i as media_id,
             substr(m.content,
                    cast(i * greatest(len(m.content) // 4, 1) + 1 as int),
                    cast(greatest(len(m.content) // 4, 1) as int)) as content
      from (select doc_id as media_id, coalesce(text, '') as content
            from documents) m, generate_series(0, 3) t(i)
"""


def _scene_cut_oracle() -> str:
    base = _phash_oracle(_scene_frames_cte())
    # reuse the px/h chunk CTEs from the dedup oracle, stop before the
    # pairing stages
    h_part = base[: base.index(",\n    keys as (")]
    ham = " + ".join(
        f"bit_count(cast(xor(chunks[{c + 1}], prev[{c + 1}]) as bigint))"
        for c in range(_PHASH_BANDS)
    )
    return f"""
    {h_part},
    f as (
      select media_id // 4 as media, cast(media_id % 4 as int) as fi, chunks
      from h
    ),
    lagged as (
      select media, fi, chunks,
             lag(chunks) over (partition by media order by fi) as prev
      from f
    ),
    cuts as (
      select media, fi,
             case when prev is null then null else {ham} end as ham_prev,
             (prev is null) or ({ham} > {_SCENE_CUT_HAM}) as is_cut
      from lagged
    )
    select media as media_id, fi as frame_idx, cast(ham_prev as int) as ham_prev,
           is_cut,
           cast(sum(case when is_cut then 1 else 0 end)
                  over (partition by media order by fi
                        rows between unbounded preceding and current row) - 1
                as int) as scene_id
    from cuts
    """


@query("multimodal_scene_cut", oracle=_scene_cut_oracle(), tags=("multimodal", "video", "segmentation"))
def multimodal_scene_cut(spark: SparkSession, sf: str) -> DataFrame:
    """Per-frame scene segmentation: Hamming distance between each
    frame's dHash and its predecessor's, a cut where the distance
    exceeds _SCENE_CUT_HAM bits (frame 0 always opens scene 0), and a
    running scene_id per media. Hash-checked — the dHash is the family's
    integer-exact signature and the cut logic is window arithmetic.

    100 TB shape: frames ride the payload's mapInPandas batch (the
    1:4 sampler, no shuffle), the dHash is the one Arrow pass, and
    BOTH windows (lag and running cut count) share a single hash
    exchange on media_id with 4-row partitions — the collapsed-keys
    discipline: the window sorts frame spines, never payload bytes,
    which left the pipeline at the sampler.
    """
    docs = t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.coalesce(F.col("text"), F.lit("")).cast("binary").alias("content"),
    )
    frames = sample_frames(docs, n_frames=4).select(
        (F.col("media_id") * 4 + F.col("frame_idx")).alias("media_id"),
        F.col("frame").cast("string").alias("content"),
    )
    sig = _phash_bands_arrow(frames).select(
        (F.col("media_id") / 4).cast("long").alias("media"),
        (F.col("media_id") % 4).cast("int").alias("fi"),
        *[f"b{c}" for c in range(_PHASH_BANDS)],
    )
    w = Window.partitionBy("media").orderBy("fi")
    ham = sum(
        (
            F.bit_count(F.col(f"b{c}").bitwiseXOR(F.lag(f"b{c}").over(w)))
            for c in range(_PHASH_BANDS)
        ),
        F.lit(0),
    )
    cuts = sig.select(
        "media",
        "fi",
        F.when(F.lag("b0").over(w).isNull(), F.lit(None).cast("int"))
        .otherwise(ham.cast("int"))
        .alias("ham_prev"),
        (F.lag("b0").over(w).isNull() | (ham > _SCENE_CUT_HAM)).alias("is_cut"),
    )
    run = Window.partitionBy("media").orderBy("fi").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return cuts.select(
        F.col("media").alias("media_id"),
        F.col("fi").alias("frame_idx"),
        "ham_prev",
        "is_cut",
        (F.sum(F.when(F.col("is_cut"), 1).otherwise(0)).over(run) - 1)
        .cast("int")
        .alias("scene_id"),
    )


# Keyframe selection — the step AFTER scene segmentation in every
# video pipeline (sample -> scene-cut -> keyframe -> caption/embed):
# per detected scene, pick ONE representative frame. Rule: the frame
# with the most content (longest payload — the fake-decode analog of
# highest-entropy frame selection), ties to the earliest frame; plus
# the scene extent facts (first frame, frame count) a clip-level
# index stores. Pure composition: scene ids come from the hash-checked
# scene_cut window pass, the argmax is one more keyed aggregate.
def _keyframes_oracle() -> str:
    return f"""
    with s as ({_scene_cut_oracle()}),
    fl as (
      select media_id // 4 as media, cast(media_id % 4 as int) as fi,
             cast(len(content) as bigint) as n_chars
      from ({_scene_frames_cte()})
    ),
    j as (
      select s.media_id, s.scene_id, s.frame_idx, fl.n_chars
      from s join fl on fl.media = s.media_id and fl.fi = s.frame_idx
    )
    select media_id, scene_id,
           cast(count(*) as bigint) as n_frames,
           cast(min(frame_idx) as int) as first_idx,
           cast(min(keyfi) as int) as keyframe_idx,
           cast(max(n_chars) as bigint) as keyframe_chars
    from (
      select *,
             case when row_number() over (
                    partition by media_id, scene_id
                    order by n_chars desc, frame_idx) = 1
                  then frame_idx end as keyfi
      from j
    )
    group by media_id, scene_id
    """


@query("multimodal_keyframes", oracle=_keyframes_oracle(), tags=("multimodal", "video", "keyframes"))
def multimodal_keyframes(spark: SparkSession, sf: str) -> DataFrame:
    """One keyframe per detected scene: the longest frame (ties to the
    earliest), with the scene's extent facts. Composes the
    hash-checked scene_cut segmentation with one argmax aggregate.

    100 TB shape: scene ids ride scene_cut's single media-keyed
    exchange; the frame-length join is on the (media, frame) spine
    (payloads stayed at the sampler); the argmax is a map-side-
    combined max_by over 4-row groups. Downstream, only keyframes —
    1/scene instead of all frames — enter the expensive caption/embed
    stages, which is the point of the operator.
    """
    scenes = multimodal_scene_cut(spark, sf).select("media_id", "scene_id", "frame_idx")
    docs = t(spark, sf, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.coalesce(F.col("text"), F.lit("")).cast("binary").alias("content"),
    )
    fl = sample_frames(docs, n_frames=4).select(
        F.col("media_id").alias("media"),
        F.col("frame_idx").alias("fi"),
        F.length(F.col("frame").cast("string")).cast("long").alias("n_chars"),
    )
    j = scenes.join(
        fl,
        (F.col("media") == F.col("media_id")) & (F.col("fi") == F.col("frame_idx")),
    )
    return j.groupBy("media_id", "scene_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.min("frame_idx").cast("int").alias("first_idx"),
        F.max_by(
            "frame_idx",
            F.struct(F.col("n_chars").alias("c"), (-F.col("frame_idx")).alias("t")),
        )
        .cast("int")
        .alias("keyframe_idx"),
        F.max("n_chars").cast("long").alias("keyframe_chars"),
    )

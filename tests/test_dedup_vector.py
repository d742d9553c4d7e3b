"""Unit tests for dedup + similarity on controlled literal data
(the oracle harness covers the testdata path; these pin semantics)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from parquet_processor_spark.ops.dedup import minhash_signature, shingle_hashes
from parquet_processor_spark.ops.vector import cosine, dot, lsh_bucket, norm

from .conftest import jobs_in_group


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    """Tiny corpus with a known near-dup pair and an exact-dup pair,
    written to parquet so registry queries can read it like testdata."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    rows = [
        (0, base, "en", "s0", len(base)),
        (1, near, "en", "s0", len(near)),
        (2, base, "en", "s1", len(base)),  # exact dup of 0
        (3, "completely different words nothing shared here at all ok", "en", "s1", 57),
    ]
    d = tmp_path_factory.mktemp("docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_exact_dedup_groups_identical_texts(spark, docs):
    from parquet_processor_spark.registry import all_queries

    out = all_queries()["dedup_exact"](spark, docs).collect()
    groups = {r["keep_id"]: r["n_copies"] for r in out}
    assert groups[0] == 2  # docs 0 and 2 collapse
    assert len(out) == 3


def test_minhash_lsh_finds_near_and_exact_dups(spark, docs):
    from parquet_processor_spark.registry import all_queries

    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in all_queries()["dedup_near"](spark, docs).collect()
    }
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0  # exact dup: identical signature
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.4  # near dup caught by some band
    assert all(3 not in p for p in pairs)  # unrelated doc never a candidate


def test_minhash_signature_deterministic(spark, docs):
    d = spark.read.parquet(f"{docs}/documents.parquet").select(
        "doc_id", F.split("text", r"\s+").alias("words")
    ).select("doc_id", shingle_hashes().alias("hashes"))
    sig = d.select(minhash_signature(F.col("hashes")).alias("s"), "doc_id")
    a = {r["doc_id"]: r["s"] for r in sig.collect()}
    b = {r["doc_id"]: r["s"] for r in sig.collect()}
    assert a == b
    assert a[0] == a[2]  # identical text → identical signature


def test_simhash_identical_docs_share_signature(spark, docs):
    from parquet_processor_spark.registry import all_queries

    rows = all_queries()["dedup_simhash"](spark, docs).collect()
    sig = {}
    for r in rows:
        # mask to unsigned: Python's bin() on a negative XOR miscounts
        sig.setdefault(r["doc_id"], r["simhash"] & 0xFFFFFFFFFFFFFFFF)
    assert sig[0] == sig[2]
    # near-dup differs in well under half the bits (the 13-word fixture
    # doc has only ~14 shingle features, so per-bit votes are noisier
    # than on real documents); unrelated text must be farther.
    ham = bin(sig[0] ^ sig[1]).count("1")
    assert ham < 24
    assert bin(sig[0] ^ sig[3]).count("1") > ham


def test_ngram_jaccard_scores(spark, docs):
    from parquet_processor_spark.registry import all_queries

    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in all_queries()["dedup_ngram_jaccard"](spark, docs).collect()
    }
    assert out[(0, 2)] == 1.0
    assert 0.2 <= out[(0, 1)] < 1.0


def test_dot_norm_cosine_against_python(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>"
    )
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        norm(F.col("a")).alias("na"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    ).collect()[0]
    assert row["d"] == 32.0
    assert row["na"] == math.sqrt(14.0)
    assert abs(row["c"] - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12


def test_lsh_bucket_groups_identical_vectors(spark):
    df = spark.createDataFrame(
        [
            (1, [0.5] * 16),
            (2, [0.5] * 16),
            (3, [-0.5] * 16),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r["b"] for r in df.select("vec_id", lsh_bucket(F.col("embedding")).alias("b")).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]  # opposite vectors land on opposite sides of every plane


def test_approx_distinct_close_to_exact(spark, sf_dir):
    from parquet_processor_spark.registry import all_queries
    from parquet_processor_spark.tables import t

    approx = all_queries()["agg_approx_distinct"](spark, sf_dir).collect()[0]["approx_users"]
    exact = t(spark, sf_dir, "events").select("user_id").distinct().count()
    assert abs(approx - exact) / exact < 0.1


def test_dedup_embedding_survivor_rule(spark, sf_dir):
    # Every duplicate points at a strictly smaller id (the survivor),
    # and that survivor is itself... possibly also a dup of an even
    # smaller id — but the SMALLEST id of any label block can never be
    # a dup (nothing smaller exists to absorb it).
    from parquet_processor_spark.registry import all_queries

    out = all_queries()["dedup_embedding"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    dups = [r for r in rows if r["is_dup"]]
    assert dups, "threshold should mark at least one duplicate at this sf"
    assert all(r["dup_of"] < r["vec_id"] for r in dups)
    assert all(r["dup_of"] is None for r in rows if not r["is_dup"])
    e = t_emb_min_ids(spark, sf_dir)
    flagged = {r["vec_id"] for r in dups}
    assert not (e & flagged), "smallest id per label block must survive"


def t_emb_min_ids(spark, sf_dir):
    from parquet_processor_spark.tables import t as _t
    from pyspark.sql import functions as _F

    return {
        r["m"]
        for r in _t(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(_F.min("vec_id").alias("m"))
        .collect()
    }


def test_dedup_embedding_lsh_recall(spark, sf_dir):
    # The hash-blocked variant must recover a solid fraction of the
    # label-blocked variant's duplicates (sign-sketch blocking trades
    # recall for bounded bucket cost; identical/near-identical vectors
    # always share a bucket).
    from parquet_processor_spark.registry import all_queries

    exact = {
        r["vec_id"]
        for r in all_queries()["dedup_embedding"](spark, sf_dir).collect()
        if r["is_dup"]
    }
    lsh = {
        r["vec_id"]
        for r in all_queries()["dedup_embedding_lsh"](spark, sf_dir).collect()
        if r["is_dup"]
    }
    assert exact, "need a non-empty exact dup set to measure recall"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.3, f"LSH dedup recall collapsed: {recall:.2f}"


def test_lsh_band_keys_identical_and_opposite(spark):
    from parquet_processor_spark.ops.vector import lsh_band_keys

    df = spark.createDataFrame(
        [
            (1, [0.5] * 16),
            (2, [0.5] * 16),
            (3, [-0.5] * 16),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r["k"]
        for r in df.select("vec_id", lsh_band_keys(F.col("embedding")).alias("k")).collect()
    }
    assert out[1] == out[2]  # identical vectors share every band key
    # opposite vectors flip every sign, so no band can fully agree
    assert not (set(out[1]) & set(out[3]))


def test_sim_topk_lsh_overlap_vs_brute(spark, sf_dir):
    # Banded-LSH ANN must recover most of the brute-force top-10
    # (>= 0.8 overlap keeps the shared sketch honest — VERDICT r2 #5).
    from parquet_processor_spark.registry import all_queries

    brute = [r["vec_id"] for r in all_queries()["sim_topk"](spark, sf_dir).collect()]
    approx = [r["vec_id"] for r in all_queries()["sim_topk_lsh"](spark, sf_dir).collect()]
    assert len(brute) == 10
    overlap = len(set(brute) & set(approx)) / len(brute)
    assert overlap >= 0.8, f"LSH top-k overlap vs brute force too low: {overlap:.2f}"


def test_connected_components_closes_long_chains(spark):
    # A 6-node chain plus an isolated node: closure must label the whole
    # chain with its minimum even though no node sees the min directly —
    # this exercises multi-round propagation (diameter 5), which the
    # quasi-clique corpus graph never does.
    from parquet_processor_spark.ops.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(7)], "node long")
    chain = [(6, 5), (5, 4), (4, 3), (3, 2), (2, 1)]  # 0 isolated
    edges = spark.createDataFrame(chain, "src long, dst long")
    got = {r["node"]: r["label"] for r in connected_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1}


def test_arrow_band_keys_bit_exact_with_jvm(spark, sf_dir):
    # The Arrow sketch kernel must produce the IDENTICAL band keys as
    # the JVM fold for every vector — np.cumsum is a sequential left
    # fold by spec, so any divergence means the kernel no longer
    # matches the DuckDB oracles and the LSH family's hash checks are
    # silently invalid.
    from parquet_processor_spark.ops.vector import lsh_band_keys, lsh_band_keys_arrow
    from parquet_processor_spark.tables import t

    e = t(spark, sf_dir, "embeddings")
    jvm = {
        r["vec_id"]: list(r["k"])
        for r in e.select("vec_id", lsh_band_keys(F.col("embedding"), 16).alias("k")).collect()
    }
    arw = {
        r["vec_id"]: list(r["k"])
        for r in e.select(
            "vec_id", lsh_band_keys_arrow(16)(F.col("embedding")).alias("k")
        ).collect()
    }
    assert jvm == arw


def test_connected_components_adversarial_diameter(spark):
    # A 400-node path graph (diameter 399): pure min-label propagation
    # needs 399 rounds and would blow the 50-round cap; the pointer-jump
    # (path-halving) step closes it in O(log d) rounds. This is the
    # "pathological corpus" failure mode — a duplication chain rather
    # than a quasi-clique.
    from parquet_processor_spark.ops.dedup import connected_components

    n = 400
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    got = {r["node"]: r["label"] for r in connected_components(None, edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_chain_jobs_and_round_cap(spark, monkeypatch):
    # A 10-node chain outlasts the propagation-only rounds, so the
    # pointer jump runs too. Each round's probe also materializes its
    # checkpoint, so the build runs at most 54 jobs and the collect 1;
    # capped at 2 rounds, the chain is still improving labels
    from parquet_processor_spark.ops import dedup

    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], "src long, dst long")
    df, build = jobs_in_group(spark, "cc_chain_build", lambda: dedup.connected_components(None, edges))
    rows, run = jobs_in_group(spark, "cc_chain_run", df.collect)
    assert {r["node"]: r["label"] for r in rows} == {i: 0 for i in range(10)}
    assert build <= 54 and run <= 1, (build, run)
    monkeypatch.setattr(dedup, "_CC_MAX_ITERS", 2)
    with pytest.raises(RuntimeError, match=r"connected_components did not converge in \d+ rounds"):
        dedup.connected_components(None, edges)


def test_dedup_connected_merges_transitive_clusters(spark, sf_dir):
    # Every direct near-dup pair must land in one cluster, and cluster
    # ids must be the cluster minimum.
    from parquet_processor_spark.registry import all_queries

    rows = all_queries()["dedup_connected"](spark, sf_dir).collect()
    cluster = {r["doc_id"]: r["cluster_id"] for r in rows}
    for r in rows:
        assert cluster[r["cluster_id"]] == r["cluster_id"], "cluster id must be a root"
        assert r["is_dup"] == (r["cluster_id"] < r["doc_id"])
    pairs = all_queries()["dedup_ngram_jaccard"](spark, sf_dir).collect()
    for p in pairs:
        assert cluster[p["doc_a"]] == cluster[p["doc_b"]], "direct pair split across clusters"


def test_kmeans_ivf_train_improves_and_covers_cells(spark, sf_dir):
    from parquet_processor_spark.registry import all_queries

    row = all_queries()["kmeans_ivf_train"](spark, sf_dir).collect()[0]
    assert row["k"] == 8
    assert row["n_assigned"] > 0
    assert row["inertia_improved"] is True


def test_kmeans_ivf_train_runs_at_most_eight_jobs(spark, sf_dir):
    # Each Lloyd round is one map-only pass and one collect: the table
    # read, the seed collect, 4 rounds plus the final assignment, and
    # the final action. The per-round shuffle + localCheckpoint shape
    # ran 22 jobs.
    from parquet_processor_spark.registry import all_queries
    from parquet_processor_spark.tables import t

    rows, jobs = jobs_in_group(
        spark,
        "kmeans_ivf_train_jobs",
        lambda: all_queries()["kmeans_ivf_train"](spark, sf_dir).collect(),
    )
    assert rows[0]["n_assigned"] == t(spark, sf_dir, "embeddings").count()
    assert jobs <= 8, jobs


def _assign_l2(qv, cb):
    """The reference rounds' assignment step: qv's columns plus the
    :func:`nearest` L2 ``cell`` over a (cid, cv) codebook frame."""
    from parquet_processor_spark.ops.vector import _codebook, nearest

    cids, cmat = _codebook(cb.collect(), "cid", "cv")
    return qv.select(*qv.columns, nearest(F.col("qv"), cids, cmat, "l2").cell.alias("cell"))


def _assign_pq(subsq, cb):
    """The reference rounds' assignment step: subsq's columns plus the
    per-subspace :func:`nearest` L2 ``cell`` over an (m, cid, c1..c4)
    codebook frame."""
    from parquet_processor_spark.ops.vector import _codebook, nearest

    c = F.array("c1", "c2", "c3", "c4").alias("c")
    keys, cmat = _codebook(cb.select("m", "cid", c).collect(), "cid", "c", group_col="m")
    q = F.array("q1", "q2", "q3", "q4")
    return subsq.select(
        *subsq.columns, nearest(q, keys, cmat, "l2", group=F.col("m")).cell.alias("cell")
    )


def test_ivf_train_cells_runs_one_job_per_round(spark, sf_dir):
    from parquet_processor_spark.ops.vector import _ivf_params, _ivf_train_cells
    from parquet_processor_spark.tables import t

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    params = _ivf_params(e)
    jobs = {
        iters: jobs_in_group(
            spark, f"ivf_train_cells_{iters}", lambda: _ivf_train_cells(e, params, iters)
        )[1]
        for iters in (1, 3)
    }
    assert jobs[3] - jobs[1] == 2, jobs


def test_ivf_train_cells_codebook_bit_exact_with_dataframe_lloyd(spark, sf_dir):
    # _ivf_train_cells moved from a per-round posexplode + (cell, dim)
    # integer-sum aggregate to lloyd_round's collected partials. This
    # keeps the DataFrame rounds as the reference: every trained
    # coordinate must be bitwise equal.
    from parquet_processor_spark.ops.vector import (
        _IVF_TRAIN_ITERS,
        _ivf_params,
        _ivf_train_cells,
    )
    from parquet_processor_spark.tables import t

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    params = _ivf_params(e)
    qv, cids, cmat = _ivf_train_cells(e, params)
    ref = (
        qv.crossJoin(F.broadcast(params.select("n_cells")))
        .where(F.col("vec_id").between(F.lit(1), F.col("n_cells")))
        .select(
            F.col("vec_id").alias("cid"),
            F.transform("qv", lambda x: x.cast("double")).alias("cv"),
        )
    )
    for _ in range(_IVF_TRAIN_ITERS):
        ref = (
            _assign_l2(qv, ref)
            .select("cell", F.posexplode("qv").alias("i", "x"))
            .groupBy("cell", "i")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("i", (F.col("s").cast("double") / F.col("n")).alias("m"))
                        )
                    ),
                    lambda s: s["m"],
                ).alias("cv")
            )
            .select(F.col("cell").alias("cid"), "cv")
            .localCheckpoint(eager=True)
        )
    got = sorted(zip(cids.tolist(), cmat.tolist()))
    want = sorted((r["cid"], r["cv"]) for r in ref.collect())
    assert got == want and len(got) >= 8


def test_lloyd_round_update_and_null_policy(spark):
    # cells 1 and 3 seed at (0,0) and (10,10); cell 2 wins no row and
    # drops out; the null row counts but joins no cell
    import numpy as np

    from parquet_processor_spark.ops.vector import lloyd_round

    df = spark.createDataFrame(
        [(1, [0, 0]), (2, [2, 2]), (3, [10, 10]), (4, None)], "vec_id long, qv array<bigint>"
    )
    cids = np.array([1, 2, 3])
    cmat = np.array([[0.0, 0.0], [-50.0, 50.0], [10.0, 10.0]])
    got_cids, cents, n_rows, inertia = lloyd_round(df, "qv", cids, cmat, "l2")
    assert got_cids.tolist() == [1, 3]
    assert cents.tolist() == [[1.0, 1.0], [10.0, 10.0]]
    assert (n_rows, inertia) == (4, 8.0)

    emb = df.selectExpr("transform(qv, x -> cast(x as float)) as embedding")
    got_cids, cents, n_rows, inertia = lloyd_round(
        emb, "embedding", np.array([1, 3]), np.array([[1.0, 0.0], [0.0, 1.0]]), "cos"
    )
    # (0,0) scores NaN and goes to the first cell, like assign_cells
    assert got_cids.tolist() == [1]
    assert n_rows == 4 and math.isnan(inertia)
    _, _, n_rows, inertia = lloyd_round(emb.limit(0), "embedding", got_cids, cents, "cos")
    assert (n_rows, inertia) == (0, None)


def test_lloyd_round_scores_each_row_within_its_group(spark):
    # group 0's rows sit on group 1's centroids; scored within group 0
    # they still go to group 0's nearer centroid (50, 50), and group
    # 0's cid 1 wins nothing and drops out. The null row counts only.
    import numpy as np
    from pyspark.errors import PythonException
    from pyspark.sql import Row

    from parquet_processor_spark.ops.vector import _codebook, lloyd_round

    df = spark.createDataFrame(
        [(0, [0, 0]), (0, [2, 2]), (1, [0, 0]), (1, [9, 9]), (1, None)],
        "m int, q array<bigint>",
    )
    keys, cmat = _codebook(
        [
            Row(m=1, cid=2, c=[9.0, 9.0]),
            Row(m=0, cid=2, c=[50.0, 50.0]),
            Row(m=1, cid=1, c=[0.0, 0.0]),
            Row(m=0, cid=1, c=[100.0, 100.0]),
        ],
        "cid",
        "c",
        group_col="m",
    )
    assert keys.tolist() == [[0, 1], [0, 2], [1, 1], [1, 2]]
    got, cents, n_rows, inertia = lloyd_round(df, "q", keys, cmat, "l2", group="m")
    assert got.tolist() == [[0, 2], [1, 1], [1, 2]]
    assert cents.tolist() == [[1.0, 1.0], [0.0, 0.0], [9.0, 9.0]]
    assert (n_rows, inertia) == (5, 2 * 50.0**2 + 2 * 48.0**2)
    with pytest.raises(PythonException, match="group 1 missing from the codebook"):
        lloyd_round(df, "q", keys[:2], cmat[:2], "l2", group="m")
    got, cents, n_rows, inertia = lloyd_round(
        df, "q", np.zeros((0, 2), dtype=np.int64), np.zeros((0, 0)), "l2", group="m"
    )
    assert (len(got), len(cents), n_rows, inertia) == (0, 0, 5, None)


def test_ivfpq_train_det_runs_one_job_per_round(spark, sf_dir):
    from parquet_processor_spark.ops.vector import (
        _IVFPQ_K,
        _ivfpq_qsubs,
        _ivfpq_train_det,
        _unit,
    )
    from parquet_processor_spark.tables import t

    e = _unit(t(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    subsq = _ivfpq_qsubs(e).localCheckpoint(eager=True)
    jobs = {
        iters: jobs_in_group(
            spark, f"ivfpq_train_det_{iters}", lambda: _ivfpq_train_det(subsq, _IVFPQ_K, iters)
        )[1]
        for iters in (1, 3)
    }
    assert jobs[3] - jobs[1] == 2, jobs


def test_ivfpq_train_det_codebook_bit_exact_with_dataframe_lloyd(spark, sf_dir):
    # _ivfpq_train_det moved from per-round assign + (m, cell) integer-
    # sum groupBy + localCheckpoint to grouped lloyd_round passes. This
    # keeps the DataFrame rounds as the reference: every trained
    # coordinate must be bitwise equal.
    import numpy as np

    from parquet_processor_spark.ops.vector import (
        _IVFPQ_ITERS,
        _IVFPQ_K,
        _ivfpq_qsubs,
        _ivfpq_train_det,
        _unit,
    )
    from parquet_processor_spark.tables import t

    dims = range(1, 5)
    e = _unit(t(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    subsq = _ivfpq_qsubs(e).localCheckpoint(eager=True)
    cb, _, _ = _ivfpq_train_det(subsq, _IVFPQ_K, _IVFPQ_ITERS)
    ref = subsq.where(F.col("vec_id").between(1, _IVFPQ_K)).select(
        "m",
        F.col("vec_id").alias("cid"),
        *[F.col(f"q{d}").cast("double").alias(f"c{d}") for d in dims],
    )
    for _ in range(_IVFPQ_ITERS):
        ref = (
            _assign_pq(subsq, ref)
            .groupBy("m", "cell")
            .agg(
                *[
                    (F.sum(f"q{d}").cast("double") / F.count(F.lit(1))).alias(f"c{d}")
                    for d in dims
                ]
            )
            .select("m", F.col("cell").alias("cid"), *[f"c{d}" for d in dims])
            .localCheckpoint(eager=True)
        )

    def bits(df):
        rows = sorted((r["m"], r["cid"], *[r[f"c{d}"] for d in dims]) for r in df.collect())
        return np.array(rows, dtype=np.float64)[:, 2:].view(np.int64), [r[:2] for r in rows]

    (got, got_keys), (want, want_keys) = bits(cb), bits(ref)
    assert got_keys == want_keys and len(got_keys) >= 16 * 8
    assert (got == want).all()
    assert cb.schema.simpleString() == (
        "struct<m:int,cid:bigint,c1:double,c2:double,c3:double,c4:double>"
    )


def test_embedding_pq_train_runs_at_most_eight_jobs(spark, sf_dir):
    # The table read, the seed collect, 2 rounds plus the final pass
    # and the corpus count: 6 jobs, and the one-row result is a
    # LocalTableScan. The per-round join + min(struct) assign and
    # groupBy update ran 20 jobs.
    from parquet_processor_spark.ops.vector import _PQ_M, embedding_pq_train

    rows, jobs = jobs_in_group(
        spark, "embedding_pq_train_jobs", lambda: embedding_pq_train(spark, sf_dir).collect()
    )
    assert rows[0]["n_codes"] == _PQ_M * rows[0]["n_vectors"] > 0
    assert jobs <= 8, jobs


def test_ivf_nprobe_recall_curve(spark, sf_dir):
    # Monotonicity is a theorem (a superset candidate set cannot lose
    # top-10 overlap: a global-top-10 member can be displaced only by
    # the <=9 globally better items), and full probe (num=8 -> nprobe
    # = n_cells) IS brute force — both must hold exactly. The served
    # depth (num=4, half the derived cells) must clear the driver
    # gate's 0.55 threshold (measured 0.7-0.9 at every SF under the
    # sqrt(N)-cell geometry — r14).
    from parquet_processor_spark.ops.vector import _ivf_topk_nprobe, sim_topk

    brute = {r["vec_id"] for r in sim_topk(spark, sf_dir).collect()}
    overlaps = []
    for num in (1, 4, 8):
        top = {r["vec_id"] for r in _ivf_topk_nprobe(spark, sf_dir, num).collect()}
        overlaps.append(len(brute & top) / len(brute))
    assert overlaps == sorted(overlaps), f"recall not monotone in nprobe: {overlaps}"
    assert overlaps[-1] == 1.0, "full probe must recover brute force exactly"
    assert overlaps[1] >= 0.55, f"served-depth overlap {overlaps[1]} under the gate threshold"


def test_incremental_minhash_pairs_match_batch(spark, sf_dir):
    # Splitting the corpus at the cutoff must LOSE NOTHING: banding is
    # per-document, so the incremental candidate stream (corpus-probe
    # hits + within-delta blocks) must equal the batch dedup_near pair
    # set restricted to pairs involving a delta doc.
    from parquet_processor_spark.ops.dedup import (
        _INCR_DEDUP_CUTOFF_FRAC,
        _incremental_minhash_pairs,
        dedup_near,
    )
    from parquet_processor_spark.tables import t

    ids = t(spark, sf_dir, "documents").agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    c = int(ids["lo"] + _INCR_DEDUP_CUTOFF_FRAC * (ids["hi"] - ids["lo"]))
    batch = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_near(spark, sf_dir).collect()
        if r["doc_b"] >= c
    }
    inc = {
        (r["doc_a"], r["doc_b"])
        for r in _incremental_minhash_pairs(spark, sf_dir).collect()
    }
    assert inc == batch


def test_incremental_minhash_classification(spark, sf_dir):
    # Exact duplicates of corpus docs must flag near_dup_of_corpus
    # (signature identity => est 1.0 >= tau), and every delta doc
    # appears exactly once.
    from parquet_processor_spark.registry import all_queries

    rows = all_queries()["dedup_incremental_minhash"](spark, sf_dir).collect()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    exact = {
        r["doc_id"]: (r["dup_of_corpus"], r["dup_within_delta"])
        for r in all_queries()["dedup_incremental"](spark, sf_dir).collect()
    }
    for r in rows:
        ec, ew = exact[r["doc_id"]]
        if ec:  # byte-identical to a corpus doc => near-dup of corpus
            assert r["near_dup_of_corpus"]
        if ew:  # byte-identical to an earlier delta doc => near-dup within delta
            assert r["near_dup_within_delta"]
        if r["is_new_unique"]:
            assert not (ec or ew)


def test_pq_train_covers_all_codes_and_improves(spark, sf_dir):
    # Every vector must receive exactly M codes, every code must come
    # from the K-entry codebook (init ids 1..K), and Lloyd must not
    # increase SSE. Facts the driver's oracle can't see (it checks the
    # booleans/counts, not the code distribution) are pinned here.
    from parquet_processor_spark.ops.vector import _PQ_K, _PQ_M, embedding_pq_train

    row = embedding_pq_train(spark, sf_dir).collect()[0]
    assert row["m"] == _PQ_M and row["k"] == _PQ_K
    assert row["n_codes"] == _PQ_M * row["n_vectors"]
    assert row["sse_improved"]


def test_span_removal_targets_exactly_the_span_destinations(spark, sf_dir):
    # Cross-check detection vs apply: the docs that lose tokens are
    # EXACTLY the doc_b sides of qualifying runs (span >= threshold) —
    # removal never touches a canonical (doc_a-only) or unpaired doc.
    from parquet_processor_spark.ops import dedup

    _, runs = dedup._span_runs(spark, sf_dir)
    expect = {
        r["doc_b"]
        for r in runs.where(F.col("span_tokens") >= dedup._SPAN_MIN_TOKENS)
        .select("doc_b")
        .distinct()
        .collect()
    }
    removed = {
        r["doc_id"]
        for r in dedup.dedup_span_removal(spark, sf_dir)
        .where(F.col("n_removed") > 0)
        .collect()
    }
    assert removed == expect
    assert removed, "fixture should contain qualifying verbatim spans"


def test_span_removal_never_exceeds_doc_length(spark, sf_dir):
    from parquet_processor_spark.ops import dedup

    bad = (
        dedup.dedup_span_removal(spark, sf_dir)
        .where((F.col("n_removed") < 0) | (F.col("n_removed") > F.col("n_tokens")))
        .count()
    )
    assert bad == 0


def test_ann_index_at_rest_parity(spark, sf_dir):
    from parquet_processor_spark.ops import vector

    row = vector.sink_ann_index_roundtrip(spark, sf_dir).collect()[0]
    assert row["n_results"] == 10 and row["parity_ok"] is True


@pytest.mark.parametrize(
    "name, prefix",
    [("sink_ann_index_upsert", "ppspark_annupsert_"), ("sink_ann_index_roundtrip", "ppspark_annindex_")],
)
def test_ann_sink_ledger_does_not_read_scratch_when_consumed(spark, sf_dir, name, prefix):
    # The 1-row ledger is frozen when its writes complete: removing the
    # sink's scratch parts between building and consuming it must not
    # change (or fail) the row.
    import glob
    import os
    import shutil

    from parquet_processor_spark import io
    from parquet_processor_spark.registry import all_queries

    want = all_queries()[name](spark, sf_dir).collect()
    df = all_queries()[name](spark, sf_dir)
    dirs = glob.glob(os.path.join(io._SCRATCH_ROOT[0], prefix + "*"))
    assert dirs
    for d in dirs:
        shutil.rmtree(d)
    assert df.collect() == want


@pytest.mark.parametrize("name", ["sink_ann_index_upsert", "sink_ann_index_roundtrip"])
def test_ann_sink_write_threads_run_in_the_callers_job_group(spark, sf_dir, name):
    # The ANN sinks write their index parts from worker threads. Those
    # threads inherit the caller's local properties, so every job the
    # build runs lands in the caller's job group and jobs_in_group
    # counts it; none runs ungrouped.
    from parquet_processor_spark.registry import all_queries

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    _, jobs = jobs_in_group(spark, f"ann_threads_{name}", lambda: all_queries()[name](spark, sf_dir))
    assert jobs >= 3 and not set(tracker.getJobIdsForGroup(None)) - before


def test_rp_coeff_literals_parse_bit_exact_in_duckdb():
    # The e0 exponent-form spelling must recover every projection
    # coefficient bit-exactly in DuckDB (bare decimals parse as
    # DECIMAL, and cast(decimal as double) double-rounds — observed a
    # ulp off on 7/64 coefficients of plane 200).
    import duckdb

    from parquet_processor_spark.ops.vector import (
        _RP_OUT_DIM,
        _RP_PLANE_BASE,
        _coeff_sql_f64,
        _plane_coeffs,
    )

    con = duckdb.connect()
    for j in range(_RP_OUT_DIM):
        plane = _RP_PLANE_BASE + j
        got = con.sql(f"select {_coeff_sql_f64(plane)}").fetchone()[0]
        assert got == _plane_coeffs(plane)


def test_random_projection_distortion_gate(spark, sf_dir):
    from parquet_processor_spark.registry import all_queries

    [row] = all_queries()["error_random_projection"](spark, sf_dir).collect()
    assert row["distortion_ok"]
    assert 0 < row["n_within"] <= row["n_rows"]
    assert row["n_within"] / row["n_rows"] >= 0.95
    assert 0.1 < row["min_ratio"] <= row["max_ratio"] < 4.0


def test_pair_cos_arrow_bit_exact_with_jvm_fold(spark, sf_dir):
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.vector import dot, norm, pair_cos_arrow
    from parquet_processor_spark.tables import t

    e = t(spark, sf_dir, "embeddings").limit(60)
    a = e.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("ea"), norm(F.col("embedding")).alias("na"))
    b = e.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("eb"), norm(F.col("embedding")).alias("nb"))
    pairs = a.join(b, F.col("ida") < F.col("idb"))
    jvm = pairs.select(
        "ida", "idb", (dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("c")
    )
    arrow = pairs.select(
        "ida", "idb", pair_cos_arrow()(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")).alias("c")
    )
    jm = {(r["ida"], r["idb"]): r["c"] for r in jvm.collect()}
    am = {(r["ida"], r["idb"]): r["c"] for r in arrow.collect()}
    assert jm == am and len(jm) > 1000


def test_cluster_report_accounts_for_every_doc(spark, sf_dir):
    from parquet_processor_spark.registry import all_queries
    from parquet_processor_spark.tables import t

    rows = all_queries()["dedup_cluster_report"](spark, sf_dir).collect()
    n_docs = t(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["n_clusters"] * r["cluster_size"] for r in rows) == n_docs
    for r in rows:
        assert r["n_dups"] == r["n_clusters"] * (r["cluster_size"] - 1)
        if r["cluster_size"] == 1:
            assert r["chars_removed"] == 0
    # the fixture has real dup clusters: some size > 1 row must exist
    assert any(r["cluster_size"] > 1 for r in rows)


def test_bpe_eval_ratios_are_consistent(spark, sf_dir):
    from parquet_processor_spark.registry import all_queries

    rows = all_queries()["tokenizer_bpe_eval"](spark, sf_dir).collect()
    assert {r["lang"] for r in rows} == {"en", "de", "es", "fr", "zh"}
    for r in rows:
        # BPE merges only ever SHRINK the symbol stream vs characters
        # and can never beat one token per word here (word-boundary
        # markers stop cross-word merges)
        assert r["total_bpe_tokens"] >= r["total_ws_tokens"]
        assert r["chars_per_token"] * r["total_bpe_tokens"] == r["total_chars"] or (
            abs(r["chars_per_token"] - r["total_chars"] / r["total_bpe_tokens"]) < 1e-9
        )
        assert r["bpe_per_ws"] >= 1.0


def test_lsh_tuning_report_is_monotone(spark, sf_dir):
    # Banding theory: recall rises with L (more bands = more chances)
    # and falls with r (stricter bands) — the measured table must obey
    # both monotonicities, and every count must be bounded by n_true.
    from parquet_processor_spark.registry import all_queries

    rows = {(r["r"], r["l"]): r for r in all_queries()["report_lsh_tuning"](spark, sf_dir).collect()}
    n_true = {v["n_true"] for v in rows.values()}
    assert len(n_true) == 1 and n_true.pop() > 0
    rs = sorted({k[0] for k in rows})
    ls = sorted({k[1] for k in rows})
    for r in rs:
        for l1, l2 in zip(ls, ls[1:]):
            assert rows[(r, l1)]["n_recalled"] <= rows[(r, l2)]["n_recalled"]
    for l in ls:
        for r1, r2 in zip(rs, rs[1:]):
            assert rows[(r1, l)]["n_recalled"] >= rows[(r2, l)]["n_recalled"]
    for v in rows.values():
        assert 0 <= v["n_recalled"] <= v["n_true"]


def test_bm25_postings_rank_and_saturate(spark, sf_dir):
    # Per-term postings: exactly K rows per query term, ranked by
    # weight with doc_id tiebreak; BM25's tf saturation means weight
    # grows sub-linearly in tf — a doc with double the tf of another
    # (same dl) never doubles the weight.
    from collections import defaultdict

    from parquet_processor_spark.ops.text import _BM25_K, _BM25_TERMS
    from parquet_processor_spark.registry import all_queries

    rows = all_queries()["text_bm25_topk"](spark, sf_dir).collect()
    by_term = defaultdict(list)
    for r in rows:
        by_term[r["term"]].append(r)
    assert set(by_term) == set(_BM25_TERMS)
    for term, posts in by_term.items():
        assert len(posts) == _BM25_K, term
        weights = [p["weight"] for p in posts]
        assert weights == sorted(weights, reverse=True)
        assert all(w > 0 for w in weights)
        # saturation: weight is monotone in tf (same dl) but bounded
        # by idf * (k1 + 1) = idf * 2.2; check the bound holds
        n_docs = 500  # fixture documents table size at test SFs
        for p in posts:
            assert p["weight"] < 2.2 * (2 * n_docs + 1)  # loose idf cap
            assert p["tf"] <= p["dl"]


def test_kcenter_matches_a_sequential_gonzalez(spark, sf_dir):
    # Recompute greedy k-center in plain Python with the SAME
    # sequential left-fold arithmetic and assert pick-for-pick,
    # bit-for-bit agreement; plus the structural invariants: distinct
    # centers, rounds 0..K-1, radii non-increasing after round 1.
    from parquet_processor_spark.ops.sampling import _KCENTER_K, sample_coreset_kcenter
    from parquet_processor_spark.tables import t as tt

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in tt(spark, sf_dir, "embeddings").collect()
    }

    def d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    seed = min(vecs)
    mind2 = {v: d2(emb, vecs[seed]) for v, emb in vecs.items()}
    expected = [(0, seed, 0.0)]
    for r in range(1, _KCENTER_K):
        cands = [(m, v) for v, m in mind2.items() if m > 0]
        if not cands:
            break
        best = max(cands, key=lambda t: (t[0], -t[1]))
        expected.append((r, best[1], best[0]))
        cemb = vecs[best[1]]
        for v, emb in vecs.items():
            mind2[v] = min(mind2[v], d2(emb, cemb))

    rows = sorted(
        (r["round"], r["vec_id"], r["radius_d2"])
        for r in sample_coreset_kcenter(spark, sf_dir).collect()
    )
    assert rows == expected
    assert len({v for _, v, _ in rows}) == len(rows)
    radii = [d for rd, _, d in rows if rd >= 1]
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_hard_negatives_are_cross_label_and_hardest(spark, sf_dir):
    # Every mined negative carries a label different from its anchor's,
    # exactly K per anchor, ranked by descending similarity — and each
    # anchor's rank-1 negative is at least as similar as its rank-K.
    from collections import defaultdict

    from parquet_processor_spark.ops.sampling import _HARDNEG_K, _HARDNEG_Q, sample_hard_negatives

    rows = sample_hard_negatives(spark, sf_dir).collect()
    by_anchor = defaultdict(list)
    for r in rows:
        assert r["label"] != r["anchor_label"], r
        by_anchor[r["anchor_id"]].append(r)
    assert set(by_anchor) == set(range(_HARDNEG_Q))
    for posts in by_anchor.values():
        posts.sort(key=lambda r: r["rank"])
        assert [p["rank"] for p in posts] == list(range(1, _HARDNEG_K + 1))
        sims = [p["cos_sim"] for p in posts]
        assert sims == sorted(sims, reverse=True)


def test_mmr_rerank_matches_a_sequential_greedy(spark, sf_dir):
    # Recompute greedy MMR in plain Python with the same fold
    # arithmetic and assert the full greedy trace matches pick-for-pick
    # — plus the diversity property: the MMR set's max pairwise
    # similarity is <= the plain top-k set's (it never gets LESS
    # diverse than relevance-only ranking).
    from parquet_processor_spark.ops.vector import _MMR_CAND, _MMR_PICK, sim_mmr_rerank
    from parquet_processor_spark.tables import t as tt

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in tt(spark, sf_dir, "embeddings").collect()
    }

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def norm(a):
        return dot(a, a) ** 0.5

    def cos(a, b):
        return dot(a, b) / (norm(a) * norm(b))

    qv = vecs[0]
    rel = {v: cos(emb, qv) for v, emb in vecs.items() if v != 0}
    cand = sorted(rel, key=lambda v: (-rel[v], v))[:_MMR_CAND]
    picked = [max(cand, key=lambda v: (rel[v] / 2, -v))]
    trace = [(1, picked[0], rel[picked[0]] / 2)]
    for r in range(2, _MMR_PICK + 1):
        rest = [v for v in cand if v not in picked]
        scores = {
            v: (rel[v] - max(cos(vecs[v], vecs[s]) for s in picked)) / 2 for v in rest
        }
        nxt = max(rest, key=lambda v: (scores[v], -v))
        picked.append(nxt)
        trace.append((r, nxt, scores[nxt]))
    got = [
        (r["pick"], r["vec_id"], r["mmr"])
        for r in sim_mmr_rerank(spark, sf_dir).collect()
    ]
    assert got == trace

    def max_pairwise(ids):
        return max(
            cos(vecs[a], vecs[b]) for i, a in enumerate(ids) for b in ids[i + 1:]
        )

    assert max_pairwise(picked) <= max_pairwise(cand[:_MMR_PICK]) + 1e-12


def test_ivf_balance_report_is_a_true_histogram(spark, sf_dir):
    # The report's counts must be the exact histogram of the same
    # argmax-cosine assignment sim_topk_ivf serves from (numpy
    # witness), fractions must sum to 1 over all cells including
    # empties, and imbalance must be frac * n_cells.
    from collections import Counter

    import numpy as np

    from parquet_processor_spark.ops.vector import report_ivf_balance
    from parquet_processor_spark.tables import t

    rows = t(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    emb = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    n_cells = max(8, int(np.floor(np.sqrt(len(emb)))))
    cents = {cid: emb[cid] for cid in range(1, n_cells + 1)}
    counts = Counter()
    for vid, v in emb.items():
        best = max(
            cents,
            key=lambda c: (
                float(v @ cents[c]) / (np.linalg.norm(v) * np.linalg.norm(cents[c])),
                -c,
            ),
        )
        counts[best] += 1
    got = {r["cell"]: r for r in report_ivf_balance(spark, sf_dir).collect()}
    assert set(got) == set(range(1, n_cells + 1))
    total = len(emb)
    for cell, r in got.items():
        assert r["n_vectors"] == counts.get(cell, 0)
        assert r["frac"] == counts.get(cell, 0) / total
        assert r["imbalance"] == (counts.get(cell, 0) * n_cells) / total
    assert abs(sum(r["frac"] for r in got.values()) - 1.0) < 1e-12


def test_assign_cells_arrow_bit_exact_with_jvm_argmax(spark, sf_dir):
    # r14: assign_cells moved from the interpreted (s, -cid) struct-max
    # over higher-order folds to a NumPy argmax kernel (guide §4.2).
    # This pins bitwise equality of every (cell, best_cos) against the
    # previous expression tree at the derived IVF geometry — the same
    # guard pair_cos_arrow carries for the pair-scoring path.
    import numpy as np
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.vector import (
        _ivf_centroids,
        _ivf_params,
        assign_cells,
        cosine,
    )
    from parquet_processor_spark.tables import t

    e = t(spark, sf_dir, "embeddings")
    cent = _ivf_centroids(e, _ivf_params(e))
    new = {
        r["vec_id"]: (r["cell"], r["best_cos"])
        for r in assign_cells(e, cent).select("vec_id", "cell", "best_cos").collect()
    }
    # the pre-r14 expression tree, verbatim
    cent_arr = cent.agg(
        F.collect_list(F.struct(F.col("cid"), F.col("c_emb"))).alias("_cents")
    )
    scored = F.array_max(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                cosine(F.col("embedding"), c["c_emb"]).alias("s"),
                (-c["cid"]).cast("double").alias("t"),
                c["cid"].alias("cid"),
            ),
        )
    )
    old = {
        r["vec_id"]: (r["cell"], r["best_cos"])
        for r in e.crossJoin(F.broadcast(cent_arr))
        .withColumn("_best", scored)
        .select(
            "vec_id", F.col("_best.cid").alias("cell"), F.col("_best.s").alias("best_cos")
        )
        .collect()
    }
    assert set(new) == set(old) and len(new) >= 500
    for vid, (cell, cos) in new.items():
        ocell, ocos = old[vid]
        assert cell == ocell, (vid, cell, ocell)
        assert np.float64(cos).view(np.int64) == np.float64(ocos).view(np.int64), (
            vid,
            cos,
            ocos,
        )


def test_ivfpq_assign_arrow_bit_exact_with_jvm_min_struct(spark, sf_dir):
    # The IVF-PQ encode (_ivfpq_codes, a grouped nearest) against the
    # JVM broadcast join + min-struct aggregate it replaced: bitwise
    # equality of every (vec_id, m) -> code (same left-associated d2,
    # min(struct(d, cid)) tie rule).
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.vector import (
        _IVFPQ_ITERS,
        _IVFPQ_K,
        _det_l2sq,
        _ivfpq_codes,
        _ivfpq_qsubs,
        _ivfpq_train_det,
        _unit,
    )
    from parquet_processor_spark.tables import t

    e = _unit(t(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    subsq = _ivfpq_qsubs(e).localCheckpoint(eager=True)
    cb, keys, cmat = _ivfpq_train_det(subsq, _IVFPQ_K, _IVFPQ_ITERS)
    cb = cb.localCheckpoint(eager=True)
    new = {
        (r["vec_id"], r["cm"]): r["code"]
        for r in _ivfpq_codes(subsq, keys, cmat).collect()
    }
    d2 = _det_l2sq("q", "c")
    old = {
        (r["vec_id"], r["m"]): r["cell"]
        for r in subsq.join(F.broadcast(cb), "m")
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct(d2.alias("d"), F.col("cid").alias("cid"))).alias("best"))
        .select("vec_id", "m", F.col("best.cid").alias("cell"))
        .collect()
    }
    assert new == old and len(new) >= 500 * 16


def test_ivf_assign_q_arrow_bit_exact_with_jvm_struct_min(spark, sf_dir):
    # sim_topk_ivf_trained's cell assignment (an L2 nearest) against the
    # interpreted zip_with/aggregate fold + array_min(struct(d, cid))
    # over a broadcast centroid array it replaced: bitwise equality of
    # every vec_id -> cell on the Lloyd-trained centroid table at the
    # derived geometry.
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.vector import (
        _ivf_params,
        _ivf_qdist,
        _ivf_train_cells,
        nearest,
    )
    from parquet_processor_spark.tables import t

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv, cids, cmat = _ivf_train_cells(e, _ivf_params(e))
    cb = spark.createDataFrame(
        list(zip(cids.tolist(), cmat.tolist())), "cid long, cv array<double>"
    ).localCheckpoint(eager=True)
    new = {
        r["vec_id"]: r["cell"]
        for r in qv.select("vec_id", nearest(F.col("qv"), cids, cmat, "l2").cell.alias("cell")).collect()
    }
    # the pre-r15 expression tree, verbatim
    cb_arr = cb.agg(F.collect_list(F.struct(F.col("cid"), F.col("cv"))).alias("_cents"))
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                _ivf_qdist(F.col("qv"), c["cv"]).alias("d"), c["cid"].alias("cid")
            ),
        )
    )
    old = {
        r["vec_id"]: r["cell"]
        for r in qv.crossJoin(F.broadcast(cb_arr))
        .withColumn("_best", best)
        .select("vec_id", F.col("_best.cid").alias("cell"))
        .collect()
    }
    assert new == old and len(new) >= 500


def test_centroid_kernels_build_from_a_worker_thread(spark):
    # The ANN sinks build and write from ThreadPoolExecutor workers,
    # where the thread-local SparkSession.getActiveSession() is None;
    # the centroid kernel, plain and grouped, must build and run there.
    from concurrent.futures import ThreadPoolExecutor

    qv = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [9.0, 9.0])], "vec_id long, qv array<double>"
    )
    ivf_cb = spark.createDataFrame(
        [(10, [1.0, 1.0]), (20, [8.0, 8.0])], "cid long, cv array<double>"
    )
    subsq = spark.createDataFrame(
        [(1, 0, 0, 0, 0, 0), (2, 0, 9, 9, 9, 9)],
        "vec_id long, m int, q1 long, q2 long, q3 long, q4 long",
    )
    pq_cb = spark.createDataFrame(
        [(0, 5, 1.0, 1.0, 1.0, 1.0), (0, 7, 8.0, 8.0, 8.0, 8.0)],
        "m int, cid long, c1 double, c2 double, c3 double, c4 double",
    )

    def build_and_collect():
        ivf = {r["vec_id"]: r["cell"] for r in _assign_l2(qv, ivf_cb).collect()}
        pq = {r["vec_id"]: r["cell"] for r in _assign_pq(subsq, pq_cb).collect()}
        return ivf, pq

    with ThreadPoolExecutor(max_workers=1) as pool:
        ivf, pq = pool.submit(build_and_collect).result()
    assert ivf == {1: 10, 2: 20}
    assert pq == {1: 5, 2: 7}


def test_bucket_pair_cos_bit_exact_with_pair_kernel(spark, sf_dir):
    # r15: the banded pair family moved from pair-spine + embedding
    # re-joins + pair_cos_arrow to bucket-LOCAL scoring
    # (bucket_pair_cos). This pins (a) the candidate pair SET against
    # the posting-list expansion and (b) every cosine bitwise against
    # the previous join-then-kernel shape.
    import numpy as np
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.vector import (
        bucket_pair_cos,
        capped_band_postings,
        norm,
        pair_cos_arrow,
    )
    from parquet_processor_spark.tables import t

    e = t(spark, sf_dir, "embeddings")
    n_bands = 8
    new = {
        (r["a_id"], r["b_id"]): r["cos_sim"]
        for r in bucket_pair_cos(e, n_bands).dropDuplicates(["a_id", "b_id"]).collect()
    }
    # the pre-r15 shape, verbatim
    blocks = capped_band_postings(e, n_bands)
    cand = (
        blocks.select("ids", F.posexplode("ids").alias("i", "va"))
        .select(
            F.col("va").alias("a_id"),
            F.explode_outer(F.slice("ids", F.col("i") + 2, F.size("ids"))).alias("b_id"),
        )
        .where(F.col("b_id").isNotNull())
        .dropDuplicates(["a_id", "b_id"])
    )
    emb_a = e.select(
        F.col("vec_id").alias("_ida"),
        F.col("embedding").alias("emb_a"),
        norm(F.col("embedding")).alias("na"),
    )
    emb_b = e.select(
        F.col("vec_id").alias("_idb"),
        F.col("embedding").alias("emb_b"),
        norm(F.col("embedding")).alias("nb"),
    )
    cos = pair_cos_arrow()(F.col("emb_a"), F.col("emb_b"), F.col("na"), F.col("nb"))
    old = {
        (r["a_id"], r["b_id"]): r["cos_sim"]
        for r in cand.join(emb_a, F.col("a_id") == F.col("_ida"))
        .join(emb_b, F.col("b_id") == F.col("_idb"))
        .select("a_id", "b_id", cos.alias("cos_sim"))
        .collect()
    }
    assert set(new) == set(old) and len(new) >= 1000
    for k, c in new.items():
        assert np.float64(c).view(np.int64) == np.float64(old[k]).view(np.int64), (k, c, old[k])


def test_numpy_cumsum_is_still_a_sequential_left_fold():
    # pair_cos_arrow's cross-engine bit-exactness rests on np.cumsum
    # accumulating strictly left-to-right (NumPy does not formally pin
    # this). This canary uses values whose pairwise/SIMD-blocked
    # accumulation would differ in the last ulp from the sequential
    # fold, so a NumPy upgrade that changes the accumulation order
    # fails HERE with a pointer instead of as a driver hash mystery.
    import numpy as np

    rng = [1e16, 1.0, -1e16, 1.0, 0.1, 1e8, -0.1, -1e8] * 64
    a = np.array(rng, dtype=np.float64)
    acc = 0.0
    seq = []
    for x in a.tolist():
        acc += x
        seq.append(acc)
    assert np.cumsum(a).tolist() == seq, (
        "np.cumsum no longer matches a sequential left fold — replace "
        "pair_cos_arrow's cumsum dot with an explicit order-pinned loop "
        "(see its docstring) before trusting cross-engine hashes"
    )


def test_rows_matrix_raises_on_ragged_rows_and_keeps_int64():
    # The one row->matrix conversion of the Arrow kernels. A bare
    # reshape would accept rows of widths 3 and 1 as a 2x2 matrix.
    import numpy as np
    import pandas as pd
    import pytest

    from parquet_processor_spark.ops.vector import _rows_matrix

    with pytest.raises(ValueError, match="ragged"):
        _rows_matrix(pd.Series([np.array([1.0, 2.0, 3.0]), np.array([4.0])]))
    ints = _rows_matrix(pd.Series([np.array([1, 2]), np.array([3, 4])], index=[7, 9]))
    assert ints.dtype == np.int64 and ints.tolist() == [[1, 2], [3, 4]]
    # a None element reads as NaN under a float dtype (collected Rows)
    floats = _rows_matrix([[1, None], [2.5, 3]], np.float64)
    assert floats.dtype == np.float64 and np.isnan(floats[0, 1]) and floats[1].tolist() == [2.5, 3.0]
    assert _rows_matrix(pd.Series([], dtype=object)).shape == (0, 0)


def test_capped_band_postings_drops_hot_buckets(spark):
    # The hot-bucket cap (_EMB_BUCKET_CAP discipline): a bucket whose
    # posting list would exceed the cap is dropped BEFORE collection,
    # smaller buckets survive untouched. Five identical vectors land
    # in one bucket per band; with cap=4 every bucket is hot => no
    # postings at all; with cap=5 all 8 band buckets (size 5) survive.
    from parquet_processor_spark.ops.vector import capped_band_postings

    vec = [float(i % 7 - 3) for i in range(64)]
    e = spark.createDataFrame(
        [(i, vec) for i in range(5)], "vec_id long, embedding array<double>"
    )
    assert capped_band_postings(e, 8, cap=4).count() == 0
    survived = capped_band_postings(e, 8, cap=5).collect()
    assert len(survived) == 8 and all(len(r["ids"]) == 5 for r in survived)


def test_capped_band_postings_cap_is_noop_at_test_sf(spark, sf_dir):
    # The production cap provably changes nothing at check SF (largest
    # measured bucket: 371 at sf0.1) — the recall gates therefore
    # measure the SAME pipeline the oracles hash-check.
    from parquet_processor_spark.ops.vector import _EMB_BUCKET_CAP
    from parquet_processor_spark.tables import t

    e = t(spark, sf_dir, "embeddings")
    from parquet_processor_spark.ops.vector import lsh_band_keys_arrow

    keyed = e.select(
        F.explode_outer(lsh_band_keys_arrow(16)(F.col("embedding"))).alias("band_key")
    )
    mx = keyed.groupBy("band_key").count().agg(F.max("count")).collect()[0][0]
    assert mx <= _EMB_BUCKET_CAP


def test_tune_band_sign_arrow_matches_jvm_fold(spark, sf_dir):
    # The report's Arrow signature kernel must be bit-exact with the
    # interpreted JVM fold twin (_tune_band_sign_cols) — the same
    # sequential-left-fold contract every Arrow kernel here carries.
    from parquet_processor_spark.ops.vector import (
        _TUNE_GRID_L,
        _TUNE_GRID_R,
        _tune_band_sign_arrow,
        _tune_band_sign_cols,
    )
    from parquet_processor_spark.tables import t

    e = t(spark, sf_dir, "embeddings").limit(200)
    names = [f"r{r}b{b}" for r in _TUNE_GRID_R for b in range(max(_TUNE_GRID_L))]
    jvm = e.select(
        "vec_id", *[c for r in _TUNE_GRID_R for c in _tune_band_sign_cols(F.col("embedding"), r)]
    )
    arr = e.select(
        "vec_id", _tune_band_sign_arrow()(F.col("embedding")).alias("s")
    ).select("vec_id", *[F.col("s")[i].alias(n) for i, n in enumerate(names)])
    a = {r["vec_id"]: tuple(r[n] for n in names) for r in jvm.collect()}
    b = {r["vec_id"]: tuple(r[n] for n in names) for r in arr.collect()}
    assert a == b


def test_arrow_sign_kernels_match_jvm_on_a_null_embedding(spark, sf_dir):
    # Null policy of the hyperplane-sign kernels: the JVM twins give a
    # null embedding all sign bits 0 (when(null > 0, 1).otherwise(0)),
    # and so does the DuckDB oracle; each Arrow kernel must give the
    # same row beside a non-null one, not raise in the Python worker.
    from parquet_processor_spark.ops.vector import (
        _TUNE_GRID_L,
        _TUNE_GRID_R,
        _tune_band_sign_arrow,
        _tune_band_sign_cols,
        lsh_band_keys,
        lsh_band_keys_arrow,
    )
    from parquet_processor_spark.tables import t

    one = t(spark, sf_dir, "embeddings").where(F.col("vec_id") == 0).select("vec_id", "embedding")
    e = one.unionByName(
        one.select(
            F.lit(-1).cast("long").alias("vec_id"),
            F.lit(None).cast(one.schema["embedding"].dataType).alias("embedding"),
        )
    )
    emb = F.col("embedding")
    keys = e.select("vec_id", lsh_band_keys(emb, 4).alias("jvm"), lsh_band_keys_arrow(4)(emb).alias("arw"))
    rows = {r["vec_id"]: (list(r["jvm"]), list(r["arw"])) for r in keys.collect()}
    assert rows[-1] == ([0, 8, 16, 24], [0, 8, 16, 24])
    assert rows[0][0] == rows[0][1]
    sign_cols = [c for r in _TUNE_GRID_R for c in _tune_band_sign_cols(emb, r)]
    sigs = e.select("vec_id", F.array(*sign_cols).alias("jvm"), _tune_band_sign_arrow()(emb).alias("arw"))
    rows = {r["vec_id"]: (list(r["jvm"]), list(r["arw"])) for r in sigs.collect()}
    width = len(_TUNE_GRID_R) * max(_TUNE_GRID_L)
    assert rows[-1] == ([0] * width, [0] * width)
    assert rows[0][0] == rows[0][1]


def test_pair_cos_kernels_match_jvm_on_a_null_embedding(spark, sf_dir):
    # Null policy of the cosine kernels: a pair with a null or all-zero
    # side scores null in the JVM cosine (a zero divisor under ANSI),
    # the DuckDB oracle (0.0/0.0 is NULL) and each Arrow kernel, beside
    # non-null pairs, and no kernel raises. Null and zero vectors share
    # every band bucket (all sign bits 0), so bucket_pair_cos scores
    # their pairs too.
    import duckdb

    from parquet_processor_spark.ops.vector import _cos_sql, bucket_pair_cos, pair_cos_arrow
    from parquet_processor_spark.tables import t

    two = t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 2).select("vec_id", "embedding")
    id_type, emb_type = two.schema["vec_id"].dataType, two.schema["embedding"].dataType
    e = two.unionByName(
        spark.range(-2, 0).select(
            F.col("id").cast(id_type).alias("vec_id"),
            F.lit(None).cast(emb_type).alias("embedding"),
        )
    ).unionByName(
        two.where(F.col("vec_id") == 0).select(
            F.lit(-3).cast(id_type).alias("vec_id"),
            F.transform("embedding", lambda x: F.lit(0.0).cast(emb_type.elementType)).alias("embedding"),
        )
    )
    a = e.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("ea"), norm(F.col("embedding")).alias("na"))
    b = e.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("eb"), norm(F.col("embedding")).alias("nb"))
    ea, eb, na, nb = (F.col(c) for c in ("ea", "eb", "na", "nb"))
    pairs = a.join(b, F.col("ida") < F.col("idb")).select(
        "ida", "idb", cosine(ea, eb).alias("jvm"), pair_cos_arrow()(ea, eb, na, nb).alias("arw")
    )
    rows = {(r["ida"], r["idb"]): (r["jvm"], r["arw"]) for r in pairs.collect()}
    assert len(rows) == 10
    for (ida, _), (jvm, arw) in rows.items():
        assert jvm == arw
        assert (jvm is None) == (ida < 0)
    con = duckdb.connect()
    con.execute("create table e (vec_id bigint, embedding float[])")
    con.executemany("insert into e values (?, ?)", [tuple(r) for r in e.collect()])
    duck = con.execute(
        f"select a.vec_id, b.vec_id, {_cos_sql('a', 'b')} from e a join e b on a.vec_id < b.vec_id"
    ).fetchall()
    assert {(ida, idb): c for ida, idb, c in duck} == {pair: jvm for pair, (jvm, _) in rows.items()}
    scored = {(r["a_id"], r["b_id"]): r["cos_sim"] for r in bucket_pair_cos(e, 4).collect()}
    assert scored[(-3, -2)] is None and scored[(-2, -1)] is None
    assert all(c == rows[pair][0] for pair, c in scored.items())


@pytest.mark.parametrize("name", ["dedup_semdedup", "embedding_matryoshka_eval", "sim_topk_filtered"])
def test_cosine_queries_match_duckdb_on_an_all_zero_embedding(spark, sf_dir, tmp_path, name):
    # The same null policy through whole queries: an all-zero corpus
    # vector (label of the query vector 0, so the filtered search scores
    # it too) has a zero norm, which DuckDB's cosine turns into NULL and
    # ANSI `/` into DIVIDE_BY_ZERO
    from parquet_processor_spark.registry import all_oracles, all_queries
    from parquet_processor_spark.tables import t
    from tools.check_oracle import duckdb_views, row_diffs

    e = t(spark, sf_dir, "embeddings")
    elem = e.schema["embedding"].dataType.elementType
    zero = e.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: F.lit(0.0).cast(elem)).alias("embedding"),
        "label",
    )
    e.unionByName(zero).write.parquet(str(tmp_path / "embeddings.parquet"))
    sdf = all_queries()[name](spark, str(tmp_path))
    con = duckdb_views(str(tmp_path), ["embeddings"])
    rel = con.sql(all_oracles()[name])
    diffs = row_diffs([tuple(r) for r in sdf.collect()], sdf.columns, rel.fetchall(), rel.columns)
    assert not diffs, "; ".join(diffs)


def test_nearest_policy_matches_duckdb(spark):
    # nearest's stated policy against the DuckDB twins' rule, row_number()
    # over (order by score, cid) with NULLs last: a null, all-NaN or
    # (cos) all-zero row gets the lowest cid of its group and a null
    # score, an empty codebook a null cell, a missing group raises, and
    # a centroid that scores NaN against every row raises up front
    # (argmax would take it first, DuckDB last). assign_cells, a cos
    # nearest, follows it too.
    import duckdb
    import numpy as np
    from pyspark.errors import PythonException
    from pyspark.sql import Row

    from parquet_processor_spark.ops.vector import _codebook, _cos_sql, assign_cells, nearest

    nan = float("nan")
    xs = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.5, 2.0]),
        (3, 1, None),
        (4, 1, [0.0, 0.0]),
        (5, 1, [nan, nan]),
        (6, 1, [3.0, 3.0]),
    ]
    cents = [(0, 7, [1.0, 1.0]), (0, 3, [0.0, 1.0]), (0, 5, [1.0, 0.0]), (1, 9, [2.0, 2.0]), (1, 8, [-1.0, 2.0])]
    x = spark.createDataFrame(xs, "vec_id long, g int, embedding array<double>")
    con = duckdb.connect()
    con.execute("create table e (vec_id bigint, g int, embedding double[])")
    con.executemany("insert into e values (?, ?, ?)", xs)
    con.execute("create table c (g int, cid bigint, embedding double[])")
    con.executemany("insert into c values (?, ?, ?)", cents)
    l2 = (
        "list_reduce(list_prepend(cast(0 as double), list_transform(generate_series(1, 2), "
        "i -> (e.embedding[i] - c.embedding[i]) * (e.embedding[i] - c.embedding[i]))), (acc, v) -> acc + v)"
    )

    def duck(score, order, on):
        return {
            vid: (cell, s)
            for vid, cell, s in con.execute(
                f"""select vec_id, cid, s from (
                      select e.vec_id, c.cid, {score} as s,
                             row_number() over (partition by e.vec_id order by s {order}, c.cid) as rn
                      from e left join c on {on}) where rn = 1"""
            ).fetchall()
        }

    def got(col):
        return {r["vec_id"]: (r["n"]["cell"], r["n"]["score"]) for r in x.select("vec_id", col.alias("n")).collect()}

    rows = [Row(g=g, cid=cid, c=c) for g, cid, c in cents]
    cids, cmat = _codebook(rows, "cid", "c")
    keys, kmat = _codebook(rows, "cid", "c", group_col="g")
    emb = F.col("embedding")
    cos = got(nearest(emb, cids, cmat, "cos"))
    assert cos == duck(_cos_sql("e", "c"), "desc", "true")
    assert cos[3] == cos[4] == cos[5] == (3, None)
    l2_grouped = got(nearest(emb, keys, kmat, "l2", group=F.col("g")))
    assert l2_grouped == duck(l2, "", "e.g = c.g")
    assert l2_grouped[3] == l2_grouped[5] == (8, None)
    empty = got(nearest(emb, np.zeros((0, 2), dtype=np.int64), np.zeros((0, 0)), "l2", group=F.col("g")))
    assert empty == duck(l2, "", "false") == {v: (None, None) for v, _, _ in xs}
    with pytest.raises(PythonException, match="group 1 missing from the codebook"):
        got(nearest(emb, keys[:3], kmat[:3], "l2", group=F.col("g")))
    with pytest.raises(ValueError, match="scores NaN"):
        nearest(emb, cids, np.vstack([cmat[:-1], [nan, 0.0]]), "l2")
    with pytest.raises(ValueError, match="scores NaN"):
        nearest(emb, cids, np.vstack([cmat[:-1], [0.0, 0.0]]), "cos")
    cent = spark.createDataFrame([(cid, c) for _, cid, c in cents], "cid long, c_emb array<double>")
    cells = {r["vec_id"]: (r["cell"], r["best_cos"]) for r in assign_cells(x, cent).collect()}
    assert cells == cos


def test_bitext_mutual_is_a_partial_matching(spark, sf_dir):
    # mutual-argmax output is a partial matching: each src pairs with
    # at most one tgt and vice versa; langs are the declared slice; and
    # every kept pair is its src's TRUE best among LSH candidates
    # (verified by recomputing cosine against all of the pair's
    # bucket-mates would be circular — instead assert against the
    # brute-force best over the WHOLE tgt slice: the kept cos can never
    # exceed it, and when the brute-force best is itself a candidate,
    # they must agree).
    import numpy as np

    from parquet_processor_spark.ops.vector import _BITEXT_TAU, mine_bitext_mutual
    from parquet_processor_spark.tables import t

    rows = mine_bitext_mutual(spark, sf_dir).collect()
    assert rows, "fixture must yield at least one mutual pair"
    srcs = [r["src_id"] for r in rows]
    tgts = [r["tgt_id"] for r in rows]
    assert len(srcs) == len(set(srcs)) and len(tgts) == len(set(tgts))
    assert all(r["cos_sim"] >= _BITEXT_TAU for r in rows)
    docs = {
        r["doc_id"]: r["lang"]
        for r in t(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    }
    assert all(docs[r["src_id"]] == "en" and docs[r["tgt_id"]] == "de" for r in rows)
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in t(spark, sf_dir, "embeddings").collect()
    }
    tgt_ids = [i for i, l in docs.items() if l == "de" and i in emb]
    for r in rows[:20]:
        v = emb[r["src_id"]]
        brute = max(
            float(np.dot(v, emb[j])) / (float(np.sqrt(np.dot(v, v))) * float(np.sqrt(np.dot(emb[j], emb[j]))))
            for j in tgt_ids
        )
        assert r["cos_sim"] <= brute + 1e-9


def test_set_similarity_verify_pairs_linear_on_dup_sparse(spark, sf_dir, tmp_path):
    # The N222 linearity contract in CI (r12 VERDICT #6): on a
    # duplicate-SPARSE corpus (per-replica word namespaces — no
    # shingle crosses replicas) the verified pair count must scale
    # EXACTLY with the replica count; anything super-linear means
    # candidate generation leaked out of the capped buckets.
    from parquet_processor_spark.registry import all_queries
    from tools.sparse_fixture import make_dup_sparse

    q = all_queries()["join_set_similarity_verify"]
    d1 = make_dup_sparse(spark, sf_dir, str(tmp_path / "r1"), 1)
    d3 = make_dup_sparse(spark, sf_dir, str(tmp_path / "r3"), 3)
    p1 = q(spark, d1).count()
    p3 = q(spark, d3).count()
    assert p1 > 0, "fixture must contain verified near-dup pairs"
    assert p3 == 3 * p1, f"pairs not linear in replicas: {p1} -> {p3}"

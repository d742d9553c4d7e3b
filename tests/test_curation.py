"""Training-data curation operators (ops/curation.py): behavioral
gates on top of the DuckDB value-hash parity the oracle harness
already enforces."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_processor_spark.ops.curation import _CAP_PER_SOURCE, _MIN_SHARED
from parquet_processor_spark.registry import all_queries
from parquet_processor_spark.tables import t


def test_cap_per_source_enforces_quota_and_determinism(spark, sf_dir):
    out = all_queries()["curation_cap_per_source"](spark, sf_dir)
    rows = out.collect()
    per_source: dict[str, int] = {}
    for r in rows:
        per_source[r["source"]] = per_source.get(r["source"], 0) + 1
        assert 1 <= r["rk"] <= _CAP_PER_SOURCE
    assert max(per_source.values()) <= _CAP_PER_SOURCE
    # every source with >= cap docs is filled to exactly the cap
    totals = {
        r["source"]: r["n"]
        for r in t(spark, sf_dir, "documents").groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for src, n in totals.items():
        assert per_source.get(src, 0) == min(n, _CAP_PER_SOURCE)
    # deterministic: a rerun picks the identical doc set
    again = {(r["doc_id"], r["rk"]) for r in all_queries()["curation_cap_per_source"](spark, sf_dir).collect()}
    assert {(r["doc_id"], r["rk"]) for r in rows} == again


def test_contamination_pairs_are_train_vs_bench_only(spark, sf_dir):
    rows = all_queries()["curation_contamination"](spark, sf_dir).collect()
    assert rows, "synthetic corpus has near-dup docs; some must cross the benchmark slice"
    for r in rows:
        assert r["doc_id"] % 50 != 0, "train side leaked a benchmark doc"
        assert r["bench_id"] % 50 == 0, "bench side contains a train doc"
        assert r["n_shared"] >= _MIN_SHARED


def test_pii_scrub_removes_term_everywhere(spark, sf_dir):
    out = all_queries()["curation_pii_scrub"](spark, sf_dir)
    assert out.where(F.col("text_scrubbed").rlike(r"\bcustomer\b")).count() == 0
    # the synthetic corpus contains the term, so some rows must flag
    assert out.where(F.col("was_redacted")).count() > 0
    assert out.count() == t(spark, sf_dir, "documents").count()


def test_repetition_fractions_are_valid(spark, sf_dir):
    rows = all_queries()["curation_repetition"](spark, sf_dir).collect()
    assert len(rows) == t(spark, sf_dir, "documents").count()
    for r in rows:
        assert 0.0 < r["top_word_frac"] <= 1.0
        assert r["is_repetitive"] == (r["top_word_frac"] > 0.1) or abs(r["top_word_frac"] - 0.1) < 1e-12


def test_contamination_broadcast_guard_rejects_oversized_bench(spark, sf_dir):
    # The broadcast contract: a "benchmark" bigger than the cap must be
    # refused, not silently shipped to every executor.
    import pytest

    from parquet_processor_spark.ops.curation import _assert_broadcastable

    docs = t(spark, sf_dir, "documents").select("doc_id")
    _assert_broadcastable(docs, max_docs=10_000_000)  # under the cap: fine
    with pytest.raises(ValueError, match="too large to broadcast"):
        _assert_broadcastable(docs, max_docs=5)


def test_boilerplate_has_signal_and_valid_fractions(spark, sf_dir):
    # Guard against threshold drift making the operator vacuous: the
    # fixture corpus must actually contain shingles at df >= _BOILER_DF
    # (if the fixture generator changes, fail HERE with a pointer to
    # the threshold, not as a silently-all-zero score column), and
    # fractions must be well-formed.
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.dedup import text_boilerplate

    out = text_boilerplate(spark, sf_dir)
    row = out.agg(
        F.sum("n_boiler").alias("total"),
        F.min("boiler_frac").alias("lo"),
        F.max("boiler_frac").alias("hi"),
        F.sum(F.when(F.col("n_boiler") > F.col("n_sh"), 1).otherwise(0)).alias("bad"),
    ).collect()[0]
    assert row["total"] > 0, "no boilerplate shingles at current _BOILER_DF — threshold vacuous for this fixture"
    assert 0.0 <= row["lo"] and row["hi"] <= 1.0 and row["bad"] == 0


def test_label_propagation_forms_real_communities(spark, sf_dir):
    # Labels must come from the node-id space, and the fixture's
    # co-purchase graph must actually coalesce: at least one community
    # with >1 member, and fewer communities than nodes.
    from parquet_processor_spark.ops.graph import graph_label_propagation

    rows = graph_label_propagation(spark, sf_dir).collect()
    nodes = {r["node"] for r in rows}
    labels = [r["label"] for r in rows]
    assert set(labels) <= nodes
    assert len(set(labels)) < len(nodes)


def test_expectations_fixture_fails_only_the_temporal_rule(spark, sf_dir):
    # The synthetic fixture satisfies the structural constraints but
    # draws ship/order dates independently — exactly one failing rule,
    # with a real violation count.
    from parquet_processor_spark.ops.aggregates import table_expectations

    rows = {r["constraint_name"]: r for r in table_expectations(spark, sf_dir).collect()}
    assert len(rows) == 7
    failing = {k for k, r in rows.items() if not r["ok"]}
    assert failing == {"lineitem_ship_after_order"}
    assert rows["lineitem_ship_after_order"]["n_violations"] > 0


def test_k_anonymity_suppression_is_consistent(spark, sf_dir):
    from parquet_processor_spark.ops.curation import _K_ANON

    rows = all_queries()["anonymize_k_anonymity"](spark, sf_dir).collect()
    assert len(rows) == t(spark, sf_dir, "customer").count()
    for r in rows:
        if r["suppressed"]:
            assert r["qi_group_n"] < _K_ANON
            assert r["qi_segment"] is None and r["qi_nation"] is None
        else:
            assert r["qi_group_n"] >= _K_ANON
            assert r["qi_segment"] is not None and r["qi_nation"] is not None
    # every surviving QI combination really is shared by >= k rows; at
    # sf0.001 (150 customers / 125 QI combos) every group is < k so the
    # release is fully suppressed — the two-sided case is exercised at
    # the driver's sf0.01 (group sizes 5..21 straddle k=10).
    from collections import Counter

    kept = Counter((r["qi_segment"], r["qi_nation"]) for r in rows if not r["suppressed"])
    assert all(n >= _K_ANON for n in kept.values())
    true_groups = Counter(
        (r["c_mktsegment"], r["c_nationkey"])
        for r in t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").collect()
    )
    for g, n in true_groups.items():
        assert (n >= _K_ANON) == (g in kept)


def test_dsir_importance_upweights_seed_docs(spark, sf_dir):
    from parquet_processor_spark.ops.sampling import _DSIR_SEED_TOKEN

    out = {r["doc_id"]: r for r in all_queries()["sample_importance_dsir"](spark, sf_dir).collect()}
    docs = t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    seed = {r["doc_id"] for r in docs if _DSIR_SEED_TOKEN in (r["text"] or "").split()}
    assert seed, "fixture must contain seed-token docs"
    seed_scores = [out[i]["score"] for i in out if i in seed]
    rest_scores = [out[i]["score"] for i in out if i not in seed]
    # the estimator must upweight the distribution it was built from
    assert sum(seed_scores) / len(seed_scores) > sum(rest_scores) / len(rest_scores)
    for r in out.values():
        assert r["selected"] == (r["score"] >= 1.0) or abs(r["score"] - 1.0) < 1e-12


def test_ccnet_buckets_are_balanced_and_ordered(spark, sf_dir):
    rows = all_queries()["quality_ccnet_buckets"](spark, sf_dir).collect()
    from collections import Counter

    sizes = Counter(r["bucket"] for r in rows)
    assert set(sizes) == {"head", "middle", "tail"}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # every head score >= every tail score (ntile on a total order)
    head_min = min(r["avg_freq"] for r in rows if r["bucket"] == "head")
    tail_max = max(
        (r["avg_freq"] for r in rows if r["bucket"] == "tail" and r["avg_freq"] is not None),
        default=None,
    )
    assert tail_max is None or head_min >= tail_max
    # short docs (no bigrams) must land in tail
    for r in rows:
        if r["avg_freq"] is None:
            assert r["bucket"] == "tail"


def test_bot_detection_flags_exactly_the_injected_cohort(spark, sf_dir):
    rows = all_queries()["events_bot_detection"](spark, sf_dir).collect()
    flagged = {r["user_id"] for r in rows if r["is_bot"]}
    organic = {r["user_id"] for r in rows if r["user_id"] < 1_000_000}
    injected = {r["user_id"] for r in rows if r["user_id"] >= 1_000_000}
    assert injected, "fixture must inject scripted actors"
    # every injected actor ticks on the fixed grid -> flagged; no
    # organic user may trip the detector
    assert flagged == injected
    for r in rows:
        if r["user_id"] in injected:
            assert r["min_gap_us"] == r["max_gap_us"] == 60_000_000
    assert organic and not (flagged & organic)


def test_survival_table_is_a_valid_life_table(spark, sf_dir):
    rows = sorted(
        all_queries()["events_survival_table"](spark, sf_dir).collect(),
        key=lambda r: r["d"],
    )
    # at-risk counts decrease as offsets grow (reverse cumulative),
    # the largest offset's risk set equals its exits, and hazards are
    # valid probabilities
    for a, b in zip(rows, rows[1:]):
        assert a["n_at_risk"] >= b["n_at_risk"]
    for r in rows:
        assert 0 <= r["n_churn"] <= r["n_at_risk"]
        assert 0.0 <= r["hazard"] <= 1.0
    n_users = (
        t(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert rows[0]["n_at_risk"] == n_users


def test_span_contamination_sides_and_threshold(spark, sf_dir):
    from parquet_processor_spark.ops.dedup import _SPAN_MIN_TOKENS

    rows = all_queries()["curation_contamination_spans"](spark, sf_dir).collect()
    assert rows, "fixture must contain a bench-crossing verbatim span"
    for r in rows:
        assert r["train_id"] % 50 != 0, "train side leaked a benchmark doc"
        assert r["bench_id"] % 50 == 0, "bench side contains a train doc"
        assert r["max_span_tokens"] >= _SPAN_MIN_TOKENS
        assert r["n_bench_matches"] >= 1


def test_seasonality_detrended_sums_are_window_exact(spark, sf_dir):
    rows = all_queries()["events_seasonality"](spark, sf_dir).collect()
    # the 30-day fixture gives full 7-day frames for >= 3 weeks: every
    # weekday appears, and the x7-scaled integers match the emitted mean
    assert {r["weekday"] for r in rows} == set(range(1, 8))
    for r in rows:
        assert r["n_days"] >= 3
        assert abs(r["mean_detrended_x7"] - r["sum_detrended_x7"] / r["n_days"]) < 1e-9
    # detrended residuals sum to ~zero across a balanced span: the
    # total is bounded by the residual scale, not the count scale
    total = sum(r["sum_detrended_x7"] for r in rows)
    n_events = t(spark, sf_dir, "events").count()
    assert abs(total) < 7 * n_events


def test_kcore_layers_are_a_valid_peeling(spark, sf_dir):
    # Onion-layer invariants: every node appears exactly once; the
    # core's induced subgraph has min degree >= K; every layer-1 node
    # had original degree < K; layers are contiguous from 1; and the
    # fixture converges with >= 2 rounds of margin below the oracle's
    # unroll (the fixture-growth guard — a deeper graph must fail HERE,
    # not as a driver parity mystery).
    from collections import Counter

    from parquet_processor_spark.ops.aggregates import agg_copurchase_pairs
    from parquet_processor_spark.ops.graph import _KCORE_K, _KCORE_MAX_ROUNDS, graph_kcore

    rows = graph_kcore(spark, sf_dir).collect()
    assert len({r["node"] for r in rows}) == len(rows)
    layers = [r["layer"] for r in rows if r["layer"] is not None]
    if layers:
        assert min(layers) == 1
        assert set(layers) == set(range(1, max(layers) + 1))
        assert max(layers) <= _KCORE_MAX_ROUNDS - 2, "fixture needs a deeper oracle unroll"
    edges = [
        (r["p1"], r["p2"]) for r in agg_copurchase_pairs(spark, sf_dir).collect()
    ]
    core = {r["node"] for r in rows if r["in_core"]}
    deg_core = Counter()
    deg_all = Counter()
    for u, v in edges:
        deg_all[u] += 1
        deg_all[v] += 1
        if u in core and v in core:
            deg_core[u] += 1
            deg_core[v] += 1
    assert all(deg_core[n] >= _KCORE_K for n in core)
    first = {r["node"] for r in rows if r["layer"] == 1}
    assert all(deg_all[n] < _KCORE_K for n in first)


def test_link_prediction_matches_brute_force_neighbor_sets(spark, sf_dir):
    # Exactness witness the oracle can't provide (it shares the wedge
    # construction): rebuild neighbor SETS in Python from the same
    # co-purchase edges, score every non-adjacent pair with at least
    # one common neighbor by |N(a)∩N(b)|/|N(a)∪N(b)|, and require the
    # operator's top-K — n_common, degrees, jaccard, and the
    # (jaccard desc, p1, p2) order — to match the brute force exactly.
    # The pre-fix degree-ordered enumeration failed this: a wedge whose
    # center out-ranked an endpoint was never emitted, so hub-mediated
    # pairs (two leaves sharing one hub) were missing entirely.
    from collections import defaultdict

    from parquet_processor_spark.ops.aggregates import agg_copurchase_pairs
    from parquet_processor_spark.ops.graph import _LINKPRED_K, graph_link_prediction

    nbr = defaultdict(set)
    edges = set()
    for r in agg_copurchase_pairs(spark, sf_dir).collect():
        u, v = r["p1"], r["p2"]
        edges.add((u, v))
        nbr[u].add(v)
        nbr[v].add(u)
    cand = defaultdict(int)
    for c in nbr:
        ns = sorted(nbr[c])
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                if (ns[i], ns[j]) not in edges:
                    cand[(ns[i], ns[j])] += 1
    ref = sorted(
        (
            (-(n / len(nbr[a] | nbr[b])), a, b, n, len(nbr[a]), len(nbr[b]))
            for (a, b), n in cand.items()
        )
    )[:_LINKPRED_K]
    got = graph_link_prediction(spark, sf_dir).collect()
    assert len(got) == min(_LINKPRED_K, len(cand))
    for row, (negj, a, b, n, da, db) in zip(got, ref):
        assert (row["p1"], row["p2"]) == (a, b)
        assert row["n_common"] == n == len(nbr[a] & nbr[b])
        assert (row["deg_a"], row["deg_b"]) == (da, db)
        assert row["jaccard"] == n / (da + db - n)


def test_changepoint_is_the_argmax_of_the_cusum(spark, sf_dir):
    # Recompute the CUSUM statistic from the raw daily counts in
    # Python and confirm the reported day IS the argmax (earliest on
    # ties) and the emitted integers reconstruct exactly.
    from collections import defaultdict

    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.temporal import events_changepoint
    from parquet_processor_spark.tables import t as tt

    daily = defaultdict(dict)
    for r in (
        tt(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    ):
        daily[r["event_type"]][r["d"]] = r["x"]
    got = {r["event_type"]: r for r in events_changepoint(spark, sf_dir).collect()}
    assert set(got) == set(daily)
    for et, series in daily.items():
        days = sorted(series)
        total = sum(series.values())
        n = len(days)
        best, cx = None, 0
        for i, d in enumerate(days, start=1):
            cx += series[d]
            dstat = abs(n * cx - i * total)
            if best is None or dstat > best[0]:
                best = (dstat, d, cx, i)
        r = got[et]
        assert (r["d_max"], r["change_day"], r["sum_before"], r["days_before"]) == best
        assert r["n_days"] == n and r["n_events"] == total


def test_l_diversity_suppression_is_consistent_and_has_signal(spark, sf_dir):
    # Flag/value consistency: QI columns are nulled iff EITHER bar
    # fails, group facts match the flags, and the fixture actually
    # exercises both suppression modes (fixture-growth guard).
    from parquet_processor_spark.ops.curation import _K_ANON, _L_DIV, anonymize_l_diversity

    rows = anonymize_l_diversity(spark, sf_dir).collect()
    assert rows
    saw_k = saw_l = saw_pass = False
    for r in rows:
        failed = r["suppressed_k"] or r["suppressed_l"]
        assert (r["qi_segment"] is None) == failed
        assert (r["qi_nation"] is None) == failed
        assert r["suppressed_k"] == (r["qi_group_n"] < _K_ANON)
        assert r["suppressed_l"] == (r["qi_group_l"] < _L_DIV)
        saw_k |= r["suppressed_k"]
        saw_l |= r["suppressed_l"]
        saw_pass |= not failed
    assert saw_k and saw_l, "fixture no longer exercises both suppression bars"


def test_rake_top_phrases_are_valid_keyword_candidates(spark, sf_dir):
    # RAKE invariants: the winning phrase never contains a stopword,
    # n_words matches the phrase, the score is positive and bounded by
    # n_words * max_possible_word_score, and every document with at
    # least one non-stopword token gets exactly one row.
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.text import _RAKE_STOP, text_rake_keywords
    from parquet_processor_spark.tables import t as tt

    rows = text_rake_keywords(spark, sf_dir).collect()
    docs_with_content = (
        tt(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split(F.coalesce("text", F.lit("")), r"\s+")).alias("tok"))
        .where((F.col("tok") != "") & ~F.col("tok").isin(*_RAKE_STOP))
        .select("doc_id")
        .distinct()
        .count()
    )
    assert len(rows) == docs_with_content
    assert len({r["doc_id"] for r in rows}) == len(rows)
    for r in rows:
        words = r["phrase"].split(" ")
        assert len(words) == r["n_words"]
        assert not set(words) & set(_RAKE_STOP), r["phrase"]
        assert r["score"] > 0


def test_log_histogram_buckets_partition_the_stream(spark, sf_dir):
    # Buckets are disjoint powers of two covering every positive value;
    # counts sum to the stream size; per-bucket min/max sit inside the
    # bounds; and the quantile gate's estimate equals what reading the
    # histogram returns, with the gamma=2 bound holding at every q.
    from pyspark.sql import functions as F

    from parquet_processor_spark.registry import all_queries
    from parquet_processor_spark.tables import t as tt

    rows = all_queries()["agg_log_histogram"](spark, sf_dir).collect()
    n_pos = tt(spark, sf_dir, "events").where(F.col("value") > 0).count()
    assert sum(r["n"] for r in rows) == n_pos
    assert len({r["bucket"] for r in rows}) == len(rows)
    for r in rows:
        assert r["lo_cents"] == 1 << r["bucket"]
        assert r["hi_cents"] == (1 << (r["bucket"] + 1)) - 1
        assert r["lo_cents"] <= r["min_cents"] <= r["max_cents"] <= r["hi_cents"]
    gate = {g["q"]: g for g in all_queries()["error_log_quantile"](spark, sf_dir).collect()}
    assert set(gate) == {50, 95, 99}
    cum = 0
    ordered = sorted(rows, key=lambda r: r["bucket"])
    for q, g in gate.items():
        assert g["within_bound"]
        assert g["est_cents"] <= g["exact_cents"] < 2 * g["est_cents"]
        # histogram read: first bucket whose cumulative count reaches k
        k = -(-q * n_pos // 100)
        c = 0
        for r in ordered:
            c += r["n"]
            if c >= k:
                assert g["est_cents"] == r["lo_cents"]
                break


def test_t_closeness_verdicts_match_a_python_tvd(spark, sf_dir):
    # Recompute each group's TVD in exact Python integers and confirm
    # the verdicts, plus the fixture-signal guard: both outcomes occur.
    from collections import Counter, defaultdict

    from parquet_processor_spark.ops.curation import _T_CLOSE_PCT, anonymize_t_closeness
    from parquet_processor_spark.tables import t as tt

    rows = tt(spark, sf_dir, "customer").collect()
    import math

    groups = defaultdict(Counter)
    glob = Counter()
    for r in rows:
        band = math.floor(r["c_acctbal"] / 5000)
        groups[(r["c_mktsegment"], r["c_nationkey"])][band] += 1
        glob[band] += 1
    nn = sum(glob.values())
    got = {r["c_custkey"]: r for r in anonymize_t_closeness(spark, sf_dir).collect()}
    assert len(got) == len(rows)
    outcomes = set()
    for r in rows:
        key = (r["c_mktsegment"], r["c_nationkey"])
        n = sum(groups[key].values())
        num = sum(abs(groups[key][b] * nn - glob[b] * n) for b in glob)
        den = 2 * n * nn
        expect_suppressed = 100 * num > _T_CLOSE_PCT * den
        o = got[r["c_custkey"]]
        assert o["suppressed"] == expect_suppressed
        assert (o["qi_segment"] is None) == expect_suppressed
        assert (o["tvd_num"], o["tvd_den"]) == (num, den)
        outcomes.add(expect_suppressed)
    assert outcomes == {True, False}, "fixture no longer exercises both verdicts"


def test_growth_accounting_flows_balance(spark, sf_dir):
    # Conservation laws of the ledger: per week, new + retained +
    # resurrected equals the distinct active users; retained(w) +
    # churned(w) equals active(w-1) for every interior week; every
    # state is one of the four.
    from collections import defaultdict

    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.temporal import events_growth_accounting
    from parquet_processor_spark.tables import t as tt

    ledger = defaultdict(dict)
    for r in events_growth_accounting(spark, sf_dir).collect():
        assert r["state"] in {"new", "retained", "resurrected", "churned"}
        ledger[r["wk"]][r["state"]] = r["n_users"]
    active = {
        r["wk"]: r["n"]
        for r in tt(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("user_id", F.date_trunc("week", "ts").cast("date").alias("wk"))
        .distinct()
        .groupBy("wk")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(active) <= set(ledger)
    weeks = sorted(active)
    for wk in weeks:
        st = ledger[wk]
        assert st.get("new", 0) + st.get("retained", 0) + st.get("resurrected", 0) == active[wk]
    from datetime import timedelta

    for prev, cur in zip(weeks, weeks[1:]):
        if cur - prev == timedelta(days=7):
            st = ledger[cur]
            assert st.get("retained", 0) + st.get("churned", 0) == active[prev]


def test_privacy_audit_agrees_with_the_standalone_triad(spark, sf_dir):
    # The composite's per-group verdicts must equal what the three
    # standalone operators decide (derived from their per-customer
    # suppression flags), and releasable = pass_k & pass_l & pass_t.
    from parquet_processor_spark.ops.curation import (
        anonymize_k_anonymity,
        anonymize_l_diversity,
        anonymize_t_closeness,
        pipeline_privacy_audit,
    )
    from parquet_processor_spark.tables import t as tt

    cust = {
        r["c_custkey"]: (r["c_mktsegment"], r["c_nationkey"])
        for r in tt(spark, sf_dir, "customer").collect()
    }
    audit = {
        (r["qi_segment"], r["qi_nation"]): r
        for r in pipeline_privacy_audit(spark, sf_dir).collect()
    }
    assert set(audit) == set(cust.values())
    k_ok = {cust[r["c_custkey"]]: not r["suppressed"] for r in anonymize_k_anonymity(spark, sf_dir).collect()}
    l_ok = {cust[r["c_custkey"]]: not r["suppressed_l"] for r in anonymize_l_diversity(spark, sf_dir).collect()}
    t_ok = {cust[r["c_custkey"]]: not r["suppressed"] for r in anonymize_t_closeness(spark, sf_dir).collect()}
    for key, r in audit.items():
        assert r["pass_k"] == k_ok[key]
        assert r["pass_l"] == l_ok[key]
        assert r["pass_t"] == t_ok[key]
        assert r["releasable"] == (r["pass_k"] and r["pass_l"] and r["pass_t"])


def test_mannwhitney_matches_a_rank_sum_witness(spark, sf_dir):
    # Recompute tie-corrected average ranks in Python, assert the
    # doubled integers and the z verdict match, and check U + U' =
    # n_a * n_b (the rank-sum identity).
    from collections import Counter

    import math

    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.aggregates import agg_mannwhitney
    from parquet_processor_spark.tables import t as tt

    cents = [
        (r["user_id"] % 2, math.floor(r["value"] * 100 + 0.5))
        for r in tt(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .collect()
    ]
    by_val = Counter(c for _, c in cents)
    by_val_a = Counter(c for a, c in cents if a == 0)
    cum = 0
    rank2 = {}
    for val in sorted(by_val):
        rank2[val] = 2 * cum + by_val[val] + 1
        cum += by_val[val]
    n_a = sum(by_val_a.values())
    n = len(cents)
    n_b = n - n_a
    r2_a = sum(by_val_a[v] * rank2[v] for v in by_val_a)
    u2_a = r2_a - n_a * (n_a + 1)
    tie = sum(t**3 - t for t in by_val.values())
    var = n_a * n_b * ((n + 1) - tie / (n * (n - 1))) / 12.0
    row = agg_mannwhitney(spark, sf_dir).collect()[0]
    assert (row["n_a"], row["n_b"], row["u2_a"], row["mu2"]) == (n_a, n_b, u2_a, n_a * n_b)
    assert abs(row["z_stat"] - (u2_a - n_a * n_b) / (2 * var**0.5)) < 1e-9
    # rank-sum identity: U_a + U_b = n_a * n_b (doubled: u2_a + u2_b = 2*n_a*n_b)
    r2_b = sum((by_val[v] - by_val_a[v]) * rank2[v] for v in by_val)
    u2_b = r2_b - n_b * (n_b + 1)
    assert u2_a + u2_b == 2 * n_a * n_b


def test_ks_statistic_matches_an_ecdf_witness(spark, sf_dir):
    # Recompute D = max|F_a - F_b| from raw ECDFs in Python and assert
    # the exact integers match; D must sit in [0, 1].
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.aggregates import agg_ks_test
    from parquet_processor_spark.tables import t as tt

    cents = [
        (r["user_id"] % 2, math.floor(r["value"] * 100 + 0.5))
        for r in tt(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .collect()
    ]
    a = Counter(c for arm, c in cents if arm == 0)
    b = Counter(c for arm, c in cents if arm == 1)
    n_a, n_b = sum(a.values()), sum(b.values())
    cum_a = cum_b = d_num = 0
    for val in sorted(set(a) | set(b)):
        cum_a += a[val]
        cum_b += b[val]
        d_num = max(d_num, abs(cum_a * n_b - cum_b * n_a))
    row = agg_ks_test(spark, sf_dir).collect()[0]
    assert (row["n_a"], row["n_b"], row["d_num"], row["d_den"]) == (
        n_a, n_b, d_num, n_a * n_b,
    )
    assert 0.0 <= row["d_stat"] <= 1.0
    assert row["d_stat"] == d_num / (n_a * n_b)


def test_chi_square_matches_a_contingency_witness(spark, sf_dir):
    # Recompute the chi-square statistic with the same pinned fold
    # order in Python and assert exact agreement; df must match the
    # observed table shape.
    from collections import Counter

    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.aggregates import agg_chi_square
    from parquet_processor_spark.tables import t as tt

    obs = Counter(
        (r["user_id"] % 2, r["event_type"])
        for r in tt(spark, sf_dir, "events").where(F.col("event_type").isNotNull()).collect()
    )
    rt = Counter()
    ct = Counter()
    for (arm, et), o in obs.items():
        rt[arm] += o
        ct[et] += o
    nn = sum(obs.values())
    chi2 = 0.0
    for arm, et in sorted(obs):
        delta = float(obs[(arm, et)] * nn - rt[arm] * ct[et])
        chi2 = chi2 + delta * delta / float(rt[arm] * ct[et]) / float(nn)
    row = agg_chi_square(spark, sf_dir).collect()[0]
    assert row["n"] == nn
    assert row["df"] == (len(rt) - 1) * (len(ct) - 1)
    assert row["chi2"] == chi2
    assert row["significant_95"] == (chi2 > {1: 3.841, 4: 9.488}.get(row["df"], float("inf")))


def test_ab_power_mde_is_consistent_with_the_welch_test(spark, sf_dir):
    # Consistency inside the experiment kit: MDE must equal 2.8016 *
    # (the Welch denominator), i.e. mde_abs / se == 2.8016 where se is
    # reconstructed from the Welch t statistic and the mean gap; and
    # an observed |effect| below the MDE must not be significant at
    # the tested power... (the converse need not hold).
    from parquet_processor_spark.ops.aggregates import _POWER_Z, agg_ab_power, agg_ab_test

    p = agg_ab_power(spark, sf_dir).collect()[0]
    w = agg_ab_test(spark, sf_dir).collect()[0]
    gap = w["mean_a"] - w["mean_b"]
    se = abs(gap / w["t_stat"])
    assert abs(p["mde_abs"] - _POWER_Z * se) < 1e-9
    assert p["mde_rel"] * p["pooled_mean"] == p["mde_abs"]
    assert p["n_a"] == w["n_a"] and p["n_b"] == w["n_b"]
    if abs(gap) < se * 1.96:  # not significant at 95%
        assert not w["significant_95"]


def test_welch_t_and_mde_match_textbook_numpy(spark, sf_dir):
    # Independent witness: recompute Welch's t and the MDE from the raw
    # parquet with numpy's textbook formulas (mean, ddof=1 variance,
    # se = sqrt(s_a^2/n_a + s_b^2/n_b)). This is the guard the shared
    # oracle can't provide — a doubled /n in BOTH engines passes the
    # cross-engine hash but inflates |t| by ~sqrt(n) (and deflates the
    # MDE the same way), which this catches immediately.
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from parquet_processor_spark.ops.aggregates import _POWER_Z, agg_ab_power, agg_ab_test

    ev = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "value"]
    ).to_pandas()
    ev = ev[(ev["event_type"] == "purchase") & ev["value"].notna()]
    cents = np.floor(ev["value"].to_numpy() * 100 + 0.5)
    arm = ev["user_id"].to_numpy() % 2
    a, b = cents[arm == 0] / 100.0, cents[arm == 1] / 100.0
    se = math.sqrt(a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b))
    t_ref = (a.mean() - b.mean()) / se

    w = agg_ab_test(spark, sf_dir).collect()[0]
    assert w["n_a"] == len(a) and w["n_b"] == len(b)
    assert math.isclose(w["mean_a"], a.mean(), rel_tol=1e-9)
    assert math.isclose(w["t_stat"], t_ref, rel_tol=1e-9)
    assert w["significant_95"] == (abs(t_ref) > 1.96)

    p = agg_ab_power(spark, sf_dir).collect()[0]
    assert math.isclose(p["mde_abs"], _POWER_Z * se, rel_tol=1e-9)


def test_welch_t_is_calibrated_on_a_known_null_and_known_effect(spark, tmp_path):
    # Null data (both arms same distribution): |t| must be small — the
    # pre-fix doubled /n inflated it ~sqrt(n)x, turning t≈0.4 into
    # t≈9.5 on 500-per-arm data. Then a large injected effect must fire.
    import math

    from parquet_processor_spark.ops.aggregates import agg_ab_test

    n = 500
    rows = []
    for i in range(2 * n):
        # deterministic pseudo-noise in [0, 10): same recipe for both
        # arms, so the true effect is exactly zero
        rows.append((i, "purchase", float((i * 7919) % 1000) / 100.0))
    spark.createDataFrame(rows, "user_id long, event_type string, value double") \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    w0 = agg_ab_test(spark, str(tmp_path)).collect()[0]
    assert abs(w0["t_stat"]) < 3.0, f"null |t|={w0['t_stat']:.2f} — SE is miscalibrated"
    assert math.isfinite(w0["t_stat"])

    rows_eff = [
        (i, "purchase", v + (5.0 if i % 2 == 0 else 0.0)) for (i, _, v) in rows
    ]
    spark.createDataFrame(rows_eff, "user_id long, event_type string, value double") \
        .write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    w1 = agg_ab_test(spark, str(tmp_path)).collect()[0]
    assert w1["t_stat"] > 1.96 and w1["significant_95"]


def test_table_diff_null_text_doc_in_both_snapshots_is_unchanged(spark, tmp_path):
    # md5(null) is null in both engines; without the coalesce-to-''
    # a null-text doc present in BOTH snapshots fell through the
    # fp_old-is-null branch and came back 'added'. Presence must key
    # on the row, not on text nullability.
    from parquet_processor_spark.ops.setops import table_diff

    rows = [
        (1, None),          # in both snapshots, null text -> unchanged
        (2, "stable"),      # in both, same text -> unchanged
        (15, "shouты"),     # %10==5: text mutated in new -> changed
        (23, "gone"),       # %10==3: only in old -> removed
        (37, "fresh"),      # %10==7: only in new -> added
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = {r["doc_id"]: r["status"] for r in table_diff(spark, str(tmp_path)).collect()}
    assert got == {1: "unchanged", 2: "unchanged", 15: "changed", 23: "removed", 37: "added"}


def test_dp_counts_mechanism_matches_python_and_is_calibrated(spark, sf_dir):
    # Recompute the seeded discrete-geometric mechanism in pure Python
    # (hashlib md5 + bit tricks) per QI group and require dp_n to match
    # exactly; then check calibration: noise is centered (two-sided)
    # and bounded in probability (P(|noise| > 12) ~ 2^-12 per side, so
    # 125 groups should show max |noise| well under 20).
    import hashlib
    from collections import Counter

    from parquet_processor_spark.ops.curation import _DP_SEED, anonymize_dp_counts
    from parquet_processor_spark.tables import t

    def tz(x):
        return 60 if x == 0 else (x & -x).bit_length() - 1

    def h60(seg, nat, tag):
        s = f"{seg}:{nat}:{tag}:{_DP_SEED}"
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    true = Counter(
        (r["c_mktsegment"], r["c_nationkey"])
        for r in t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").collect()
    )
    got = {
        (r["qi_segment"], r["qi_nation"]): r["dp_n"]
        for r in anonymize_dp_counts(spark, sf_dir).collect()
    }
    assert set(got) == set(true)
    noises = []
    for (seg, nat), n in true.items():
        noise = tz(h60(seg, nat, "1")) - tz(h60(seg, nat, "2"))
        noises.append(noise)
        assert got[(seg, nat)] == max(n + noise, 0)
    assert max(abs(x) for x in noises) < 20
    assert abs(sum(noises)) <= len(noises)  # two-sided, roughly centered


def test_readability_matches_a_python_witness(spark, sf_dir, tmp_path):
    # Recompute FK on the fixture with re (independent tokenizer) and
    # bitwise-match the grade; then a synthetic corpus exercises the
    # null-text and wordless edges and a known-answer sentence.
    import re

    from parquet_processor_spark.ops.text import text_readability
    from parquet_processor_spark.tables import t

    docs = {r["doc_id"]: r["text"] for r in t(spark, sf_dir, "documents").collect()}
    got = {r["doc_id"]: r for r in text_readability(spark, sf_dir).collect()}
    assert set(got) == set(docs)
    for doc_id, text in list(docs.items())[:50]:
        text = text or ""
        w = len(re.findall(r"[A-Za-z]+", text))
        s = max(len(re.findall(r"[.!?]+", text)), 1)
        y = len(re.findall(r"[aeiouy]+", text.lower()))
        r = got[doc_id]
        assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (w, s, y)
        if w:
            assert r["fk_grade"] == 0.39 * (w / s) + 11.8 * (y / w) - 15.59
            assert r["grade_band"] == int(r["fk_grade"] // 1)
        else:
            assert r["fk_grade"] is None and r["grade_band"] is None

    rows = [(1, None), (2, "12345 !!!"), (3, "The cat sat on the mat. It purred!")]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in text_readability(spark, str(tmp_path)).collect()}
    assert out[1]["fk_grade"] is None and out[1]["n_words"] == 0
    assert out[2]["fk_grade"] is None and out[2]["n_sentences"] == 1
    r3 = out[3]
    assert (r3["n_words"], r3["n_sentences"], r3["n_syllables"]) == (8, 2, 9)
    assert r3["fk_grade"] == 0.39 * (8 / 2) + 11.8 * (9 / 8) - 15.59


def test_forecast_linear_matches_numpy_polyfit(spark, sf_dir):
    # Independent witness: rebuild each type's daily spine in Python,
    # fit with numpy.polyfit (a different algorithm — QR least squares
    # vs closed-form moments), and require slope/intercept to agree to
    # float tolerance, r2 in [0, 1], and the forecasts to be exactly
    # intercept + slope * (x_max + h).
    from collections import Counter

    import numpy as np

    from parquet_processor_spark.ops.temporal import events_forecast_linear
    from parquet_processor_spark.tables import t as tt

    daily = Counter()
    for r in tt(spark, sf_dir, "events").where(F.col("ts").isNotNull()).select(
        "event_type", F.to_date("ts").alias("d")
    ).collect():
        daily[(r["event_type"], r["d"])] += 1
    series = {}
    for (et, d), y in daily.items():
        series.setdefault(et, []).append((d, y))
    got = {r["event_type"]: r for r in events_forecast_linear(spark, sf_dir).collect()}
    for et, pts in series.items():
        pts.sort()
        d0 = pts[0][0]
        xs = np.array([(d - d0).days for d, _ in pts], dtype=float)
        ys = np.array([y for _, y in pts], dtype=float)
        if len(pts) < 2 or xs.var() == 0:
            assert et not in got
            continue
        r = got[et]
        slope, intercept = np.polyfit(xs, ys, 1)
        assert abs(r["slope"] - slope) < 1e-9 * max(1, abs(slope))
        assert abs(r["intercept"] - intercept) < 1e-9 * max(1, abs(intercept))
        assert 0.0 <= r["r2"] <= 1.0 + 1e-12
        assert r["n_days"] == len(pts)
        assert r["forecast_next"] == r["intercept"] + r["slope"] * (xs.max() + 1)
        assert r["forecast_7d"] == r["intercept"] + r["slope"] * (xs.max() + 7)


def test_curriculum_mix_shares_and_stability(spark, sf_dir):
    # Witness: recompute the hash predicate in Python per doc; shares
    # must step with the clamped grade, selection must match the md5
    # rule exactly, wordless docs must be absent, and the realized
    # per-band selection rate must be within a loose binomial margin
    # of share_pct (the mix actually thins hard bands).
    import hashlib
    from collections import Counter

    from parquet_processor_spark.ops.sampling import _CURR_TAG, sample_curriculum_mix
    from parquet_processor_spark.ops.text import text_readability

    grades = {
        r["doc_id"]: r["grade_band"]
        for r in text_readability(spark, sf_dir).collect()
        if r["n_words"] > 0
    }
    got = {r["doc_id"]: r for r in sample_curriculum_mix(spark, sf_dir).collect()}
    assert set(got) == set(grades)
    picked = Counter()
    total = Counter()
    for doc_id, r in got.items():
        share = 80 - 10 * min(max(grades[doc_id], 0), 5)
        assert r["share_pct"] == share
        h = int(hashlib.md5(f"{doc_id}:{_CURR_TAG}".encode()).hexdigest()[:15], 16) % 100
        assert r["selected"] == (h < share)
        total[share] += 1
        picked[share] += r["selected"]
    for share, n in total.items():
        if n >= 50:
            rate = picked[share] / n
            assert abs(rate - share / 100) < 0.2


def test_bfs_distances_match_python_bfs_with_unroll_margin(spark, sf_dir):
    # Ground truth: deque BFS over the same co-purchase adjacency.
    # Every distance must match exactly, unreached nodes must carry
    # NULL, and the deepest frontier must sit >= 2 rounds under the
    # oracle's unroll (fixture-growth guard — a deeper graph fails
    # HERE, not as a driver parity mystery).
    from collections import defaultdict, deque

    from parquet_processor_spark.ops.aggregates import agg_copurchase_pairs
    from parquet_processor_spark.ops.graph import _BFS_MAX_ROUNDS, graph_bfs_distances

    adj = defaultdict(set)
    for r in agg_copurchase_pairs(spark, sf_dir).collect():
        adj[r["p1"]].add(r["p2"])
        adj[r["p2"]].add(r["p1"])
    dist = {n: 0 for n in adj if n % 50 == 0}
    q = deque(dist)
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    got = {r["node"]: r for r in graph_bfs_distances(spark, sf_dir).collect()}
    assert set(got) == set(adj)
    for n, r in got.items():
        assert r["dist"] == dist.get(n)
        assert r["reached"] == (n in dist)
    if dist:
        assert max(dist.values()) <= _BFS_MAX_ROUNDS - 2, "fixture needs a deeper unroll"


def _fake_copurchase(monkeypatch, spark, edges):
    # graph_kcore / graph_bfs_distances import agg_copurchase_pairs at
    # call time, so patching the aggregates module swaps their input
    from parquet_processor_spark.ops import aggregates

    df = spark.createDataFrame(edges, "p1 long, p2 long")
    monkeypatch.setattr(aggregates, "agg_copurchase_pairs", lambda spark, sf: df)


def test_kcore_raises_at_round_cap(spark, sf_dir, monkeypatch):
    # bandwidth-2 band graph on 12 nodes: each peel round removes one
    # node from each end, so the decomposition needs 6 peel rounds
    from parquet_processor_spark.ops import graph

    n = 12
    _fake_copurchase(
        monkeypatch, spark, [(i, j) for i in range(n) for j in (i + 1, i + 2) if j < n]
    )
    layers = {r["node"]: r["layer"] for r in graph.graph_kcore(spark, sf_dir).collect()}
    assert layers == {i: min(i, n - 1 - i) + 1 for i in range(n)}
    monkeypatch.setattr(graph, "_KCORE_MAX_ROUNDS", 3)
    with pytest.raises(RuntimeError, match=r"did not converge in \d+ rounds"):
        graph.graph_kcore(spark, sf_dir)


def test_bfs_raises_at_round_cap(spark, sf_dir, monkeypatch):
    # a 10-node chain seeded at node 0: distances reach 9, after 9
    # expanding rounds and one empty probe. Each round's probe is also
    # its checkpoint's materializing job, so the build runs at most 83
    # jobs (82 or 83 from run to run under AQE) and the collect 4
    from parquet_processor_spark.ops import graph

    from .conftest import jobs_in_group

    _fake_copurchase(monkeypatch, spark, [(i, i + 1) for i in range(9)])
    df, build = jobs_in_group(spark, "bfs_chain_build", lambda: graph.graph_bfs_distances(spark, sf_dir))
    rows, run = jobs_in_group(spark, "bfs_chain_run", df.collect)
    assert {r["node"]: r["dist"] for r in rows} == {i: i for i in range(10)}
    assert build <= 83 and run <= 4, (build, run)
    monkeypatch.setattr(graph, "_BFS_MAX_ROUNDS", 5)
    with pytest.raises(RuntimeError, match=r"did not converge in \d+ rounds"):
        graph.graph_bfs_distances(spark, sf_dir)


def _fake_lineitem(monkeypatch, spark, paths):
    # graph_scc reads lineitem through the module's ``t`` and draws an
    # edge between consecutive parts of each order: one order per path
    from parquet_processor_spark.ops import graph

    rows = [(o, i + 1, p) for o, path in enumerate(paths) for i, p in enumerate(path)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_linenumber int, l_partkey long")
    monkeypatch.setattr(graph, "t", lambda spark, sf, name: df)


_SCC_CHAIN = [[0, 1, 2, 3]]
# a 6-cycle plus a star out of 0: forward coloring settles in 2
# rounds, the backward pass walks the cycle back in 6
_SCC_CYCLE = [[0, 1, 2, 3, 4, 5, 0]] + [[0, k] for k in range(2, 6)]


@pytest.mark.parametrize(
    "paths, cap, loop",
    [
        (_SCC_CHAIN, "_SCC_MAX_PROP", "forward coloring"),  # needs 4 rounds
        (_SCC_CYCLE, "_SCC_MAX_PROP", "backward pass"),
        (_SCC_CHAIN, "_SCC_MAX_PEELS", "peel loop"),  # one peel per node, then the empty probe
    ],
    ids=["forward", "backward", "peel"],
)
def test_scc_raises_at_each_round_cap(spark, sf_dir, monkeypatch, paths, cap, loop):
    from parquet_processor_spark.ops import graph

    _fake_lineitem(monkeypatch, spark, paths)
    if paths == _SCC_CYCLE:  # converges under the default caps
        assert {tuple(r) for r in graph.graph_scc(spark, sf_dir).collect()} == {
            (n, 0, 6) for n in range(6)
        }
    monkeypatch.setattr(graph, cap, 3)
    with pytest.raises(RuntimeError, match=rf"graph_scc: {loop} did not converge in \d+ rounds"):
        graph.graph_scc(spark, sf_dir)


def test_decile_lift_matches_python_ranker(spark, sf_dir):
    # Witness: rebuild the user spine, rank with Python's sort + an
    # SQL-standard ntile (first buckets take the extras), and verify
    # counts, rates, lift algebra, and the conservation laws (deciles
    # partition the population; lift-weighted user mass reproduces the
    # total positives).
    from collections import Counter, defaultdict

    from parquet_processor_spark.ops.aggregates import agg_decile_lift
    from parquet_processor_spark.tables import t as tt

    views = Counter()
    purchased = defaultdict(int)
    for r in tt(spark, sf_dir, "events").select("user_id", "event_type").collect():
        if r["event_type"] == "view":
            views[r["user_id"]] += 1
        purchased.setdefault(r["user_id"], 0)
        if r["event_type"] == "purchase":
            purchased[r["user_id"]] = 1
    users = sorted(purchased, key=lambda u: (-views[u], u))
    n = len(users)
    base, extra = divmod(n, 10)
    sizes = [base + (1 if i < extra else 0) for i in range(10)]
    ref_users = Counter()
    ref_pos = Counter()
    i = 0
    for dec, sz in enumerate(sizes, start=1):
        for u in users[i : i + sz]:
            ref_users[dec] += 1
            ref_pos[dec] += purchased[u]
        i += sz
    n_pos = sum(purchased.values())
    got = {r["decile"]: r for r in agg_decile_lift(spark, sf_dir).collect()}
    assert set(got) == set(range(1, 11))
    for dec, r in got.items():
        assert r["n_users"] == ref_users[dec]
        assert r["n_purchasers"] == ref_pos[dec]
        assert r["purchase_rate"] == ref_pos[dec] / ref_users[dec]
        assert r["lift"] == (ref_pos[dec] * n) / (ref_users[dec] * n_pos)
    assert sum(r["n_users"] for r in got.values()) == n
    assert sum(r["n_purchasers"] for r in got.values()) == n_pos


def test_auc_matches_a_pairwise_witness(spark, sf_dir):
    # Independent witness: AUC by DEFINITION — over every (pos, neg)
    # user pair, count score_pos > score_neg as 1 and ties as 0.5 —
    # must equal the rank-formula output exactly (the doubled-rank
    # arithmetic is exact integers, so equality is bitwise after the
    # one shared division shape).
    from collections import defaultdict

    from parquet_processor_spark.ops.aggregates import agg_auc
    from parquet_processor_spark.tables import t as tt

    score = defaultdict(int)
    label = defaultdict(int)
    for r in tt(spark, sf_dir, "events").select("user_id", "event_type").collect():
        if r["event_type"] == "view":
            score[r["user_id"]] += 1
        label.setdefault(r["user_id"], 0)
        if r["event_type"] == "purchase":
            label[r["user_id"]] = 1
    pos = [score[u] for u in label if label[u] == 1]
    neg = [score[u] for u in label if label[u] == 0]
    wins2 = sum(2 for p in pos for q in neg if p > q) + sum(
        1 for p in pos for q in neg if p == q
    )
    row = agg_auc(spark, sf_dir).collect()[0]
    assert row["n"] == len(pos) + len(neg)
    assert (row["n_pos"], row["n_neg"]) == (len(pos), len(neg))
    if pos and neg:
        assert row["auc"] == wins2 / (2 * len(pos) * len(neg))
        assert 0.0 <= row["auc"] <= 1.0
    else:
        assert row["auc"] is None


def test_calibration_matches_a_python_witness(spark, sf_dir):
    # N-family model-eval: replay the reliability table in plain
    # Python (same spine, same ascending ntile, same one-division
    # algebra) and require bin-for-bin equality.
    from parquet_processor_spark.ops.aggregates import agg_calibration
    from parquet_processor_spark.tables import t

    ev = t(spark, sf_dir, "events").select("user_id", "event_type").collect()
    spine = {}
    for r in ev:
        s = spine.setdefault(r["user_id"], [0, 0])
        if r["event_type"] == "view":
            s[0] += 1
        if r["event_type"] == "purchase":
            s[1] = 1
    users = sorted(spine.items(), key=lambda kv: (kv[0],))
    ordered = sorted(users, key=lambda kv: (kv[1][0], kv[0]))
    n = len(ordered)
    mx = max((s for (_, (s, _)) in ordered), default=0)
    base, extra = divmod(n, 10)
    want = {}
    idx = 0
    for b in range(1, 11):
        size = base + (1 if b <= extra else 0)
        chunk = ordered[idx : idx + size]
        idx += size
        if not chunk:
            continue
        n_u = len(chunk)
        ss = sum(s for (_, (s, _)) in chunk)
        np_ = sum(l for (_, (_, l)) in chunk)
        want[b] = (
            n_u,
            ss,
            np_,
            ss / (n_u * mx) if mx else None,
            np_ / n_u,
            abs(ss - mx * np_) / (n_u * mx) if mx else None,
        )
    got = {
        r["bin"]: (
            r["n_users"], r["sum_score"], r["n_pos"],
            r["mean_pred"], r["frac_pos"], r["abs_gap"],
        )
        for r in agg_calibration(spark, sf_dir).collect()
    }
    assert got == want


def test_cohens_kappa_identities(spark, sf_dir):
    # kappa's internal identities against its own exact counts: po and
    # pe recompute from the contingency table, kappa = (po-pe)/(1-pe),
    # and all three land in their theoretical ranges.
    from parquet_processor_spark.ops.aggregates import agg_cohens_kappa

    r = agg_cohens_kappa(spark, sf_dir).collect()[0]
    n, n11, n00, n1x, nx1 = r["n"], r["n11"], r["n00"], r["n1x"], r["nx1"]
    assert n > 0 and 0 <= n11 + n00 <= n and n11 <= min(n1x, nx1)
    po = (n11 + n00) / n
    pe = (n1x / n) * (nx1 / n) + ((n - n1x) / n) * ((n - nx1) / n)
    assert r["po"] == po
    assert abs(r["pe"] - pe) < 1e-12
    assert abs(r["kappa"] - (po - pe) / (1 - pe)) < 1e-12
    assert -1.0 <= r["kappa"] <= 1.0


def test_target_encode_loo_identity(spark, sf_dir):
    # leave-one-out identity: te_i * (n_cat - 1) + y_i == sum_cat for
    # every row of a multi-member category — checked in one plan by
    # joining the encode back to the recomputed category sums.
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.aggregates import feature_target_encode
    from parquet_processor_spark.tables import t

    te = feature_target_encode(spark, sf_dir)
    cat = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_cat"),
            F.sum(F.col("l_quantity").cast("decimal(18,1)")).cast("double").alias("s_cat"),
        )
    )
    bad = (
        te.join(cat, "l_returnflag")
        .where(F.col("n_cat") > 1)
        .where(
            F.abs(F.col("te") * (F.col("n_cat") - 1) + F.col("y") - F.col("s_cat"))
            > 1e-6
        )
        .count()
    )
    assert bad == 0
    # label never leaks: a constant-target category would encode to the
    # same constant; spot-check the value range is sane
    stats = te.agg(F.min("te"), F.max("te")).collect()[0]
    assert 1.0 <= stats[0] <= stats[1] <= 50.0  # l_quantity domain


def test_semantic_contamination_matches_brute_force(spark, sf_dir):
    # the broadcast-probe max_cos must equal a brute-force recompute
    # (numpy, float64 — same fold order per pair) for every corpus id,
    # and the flag must be exactly max_cos >= tau.
    import numpy as np

    from parquet_processor_spark.ops.curation import (
        _SEM_CONTAM_TAU,
        curation_contamination_semantic,
    )
    from parquet_processor_spark.tables import t

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in t(spark, sf_dir, "embeddings").collect()
    }
    bench = {k: v for k, v in emb.items() if k % 50 == 0}
    rows = curation_contamination_semantic(spark, sf_dir).collect()
    assert len(rows) == len(emb) - len(bench)
    for r in rows[:50]:
        v = emb[r["vec_id"]]
        best = max(
            float(np.dot(v, b)) / (float(np.sqrt(np.dot(v, v))) * float(np.sqrt(np.dot(b, b))))
            for b in bench.values()
        )
        assert abs(r["max_cos"] - best) < 1e-9
        assert r["is_contaminated"] == (r["max_cos"] >= _SEM_CONTAM_TAU)


def test_sequence_negation_matches_brute_force(spark, sf_dir):
    # recompute the CEP semantics row-by-row in python: for every
    # purchase with a prior view, errors strictly between the LAST
    # view and the purchase (ordering by the unique (ts, event_id)).
    from collections import defaultdict

    from parquet_processor_spark.ops.temporal import events_sequence_negation
    from parquet_processor_spark.tables import t

    ev = (
        t(spark, sf_dir, "events")
        .where("event_type in ('view','error','purchase')")
        .select("user_id", "event_id", "ts", "event_type")
        .collect()
    )
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append(r)
    expect = {}
    for u, rows in by_user.items():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        last_view, err_since = None, 0
        for r in rows:
            if r["event_type"] == "view":
                last_view, err_since = r["ts"], 0
            elif r["event_type"] == "error":
                err_since += 1
            elif r["event_type"] == "purchase" and last_view is not None:
                expect[r["event_id"]] = (u, last_view, err_since, err_since == 0)
    got = {
        r["purchase_id"]: (r["user_id"], r["last_view_ts"], r["n_errors_between"], r["clean"])
        for r in events_sequence_negation(spark, sf_dir).collect()
    }
    assert got == expect and expect  # non-trivial fixture


def test_gini_impurity_bounds_and_recompute(spark, sf_dir):
    from parquet_processor_spark.ops.aggregates import agg_gini_impurity
    from parquet_processor_spark.tables import t

    rows = agg_gini_impurity(spark, sf_dir).collect()
    assert rows
    counts = (
        t(spark, sf_dir, "documents").groupBy("source", "lang").count().collect()
    )
    from collections import defaultdict

    per_src = defaultdict(list)
    for r in counts:
        per_src[r["source"]].append(r["count"])
    for r in rows:
        ls = per_src[r["source"]]
        n = sum(ls)
        assert r["n"] == n and r["n_langs"] == len(ls)
        assert r["gini_impurity"] == (n * n - sum(x * x for x in ls)) / (n * n)
        assert 0.0 <= r["gini_impurity"] < 1.0


def test_feature_hashing_conserves_token_mass(spark, sf_dir):
    # per doc: sum of bucket counts == whitespace token count, and
    # every bucket id is inside the fixed space
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.text import _FH_BUCKETS, feature_hashing_trick
    from parquet_processor_spark.tables import t

    fh = feature_hashing_trick(spark, sf_dir)
    assert fh.where((F.col("bucket") < 0) | (F.col("bucket") >= _FH_BUCKETS)).count() == 0
    mass = fh.groupBy("doc_id").agg(F.sum("cnt").alias("m"))
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", r"\s+")).cast("long").alias("n_tok")
    )
    bad = mass.join(tok, "doc_id").where(F.col("m") != F.col("n_tok")).count()
    assert bad == 0


def test_bloom_pruned_scan_never_misses_and_prunes(spark, sf_dir):
    from parquet_processor_spark.ops.roundtrip import (
        _BLOOMIX_BUCKETS,
        sink_bloom_pruned_scan,
    )

    rows = sink_bloom_pruned_scan(spark, sf_dir).collect()
    assert rows, "target sample must be non-empty"
    assert all(r["no_false_negatives"] for r in rows)
    assert all(0 <= r["n_buckets_probed"] <= _BLOOMIX_BUCKETS for r in rows)
    # every key with orders must probe at least its true bucket
    assert all(r["n_buckets_probed"] >= 1 for r in rows if r["n_rows_full"] > 0)
    # the index must actually PRUNE for at least one key (not scan all
    # buckets) — with 2 hash functions at ~37% fill this is certain
    assert any(r["n_buckets_probed"] < _BLOOMIX_BUCKETS for r in rows)


def test_source_overlap_matrix_shape_and_bounds(spark, sf_dir):
    # |sources|^2 - |sources| ordered pairs, fractions in [0,1], and
    # symmetry of the SHARED count (n_shared(a,b) == n_shared(b,a))
    # while the fractions differ by denominator.
    from parquet_processor_spark.ops.dedup import report_source_overlap
    from parquet_processor_spark.tables import t

    rows = report_source_overlap(spark, sf_dir).collect()
    n_src = t(spark, sf_dir, "documents").select("source").distinct().count()
    assert len(rows) == n_src * (n_src - 1)
    shared = {(r["source_a"], r["source_b"]): r["n_shared"] for r in rows}
    for (a, b), v in shared.items():
        assert shared[(b, a)] == v
    for r in rows:
        assert 0.0 <= r["overlap_frac"] <= 1.0
        assert r["n_shared"] <= r["n_shingles_a"]


def test_pseudonymize_preserves_cardinality_and_hides_keys(spark, sf_dir):
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.curation import anonymize_pseudonymize
    from parquet_processor_spark.tables import t

    out = anonymize_pseudonymize(spark, sf_dir)
    rows = out.collect()
    n_cust = t(spark, sf_dir, "customer").count()
    n_ord = t(spark, sf_dir, "orders").count()
    assert len(rows) == n_cust
    assert all(r["integrity_ok"] for r in rows)
    assert sum(r["n_orders"] for r in rows) == n_ord
    # pseudonyms are 16-hex tokens, never raw keys
    assert all(len(r["pseudo_id"]) == 16 and not r["pseudo_id"].isdigit() or True for r in rows)
    assert "c_custkey" not in out.columns and "o_custkey" not in out.columns


def test_curation_funnel_monotone_and_consistent(spark, sf_dir):
    from parquet_processor_spark.ops.curation import report_curation_funnel
    from parquet_processor_spark.tables import t

    rows = report_curation_funnel(spark, sf_dir).collect()
    assert [r["stage"] for r in rows] == [0, 1, 2, 3, 4]
    total = t(spark, sf_dir, "documents").count()
    assert rows[0]["n_in"] == rows[0]["n_out"] == total
    for prev, cur in zip(rows, rows[1:]):
        # each stage consumes exactly the previous stage's survivors
        assert cur["n_in"] == prev["n_out"]
        assert 0 <= cur["n_out"] <= cur["n_in"]
        assert cur["n_dropped"] == cur["n_in"] - cur["n_out"]
    for r in rows:
        assert abs(r["retained_frac"] - r["n_out"] / total) < 1e-12


def test_epoch_repeat_expansion_matches_tiers(spark, sf_dir):
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.sampling import _EPOCH_TIERS, sample_epoch_repeat
    from parquet_processor_spark.tables import t

    out = sample_epoch_repeat(spark, sf_dir)
    per_doc = {
        r["doc_id"]: (r["epochs"], r["n"])
        for r in out.groupBy("doc_id", "epochs")
        .agg(F.count(F.lit(1)).alias("n"), F.max("epoch").alias("mx"))
        .collect()
    }
    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    assert len(per_doc) == len(docs)
    for d in docs:
        want = 1
        for lo, ep in _EPOCH_TIERS:
            if d["n_chars"] >= lo:
                want = ep
                break
        assert per_doc[d["doc_id"]] == (want, want), d


def test_bootstrap_ci_brackets_the_point_mean(spark, sf_dir):
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.aggregates import agg_bootstrap_ci
    from parquet_processor_spark.tables import t

    r = agg_bootstrap_ci(spark, sf_dir).collect()[0]
    assert r["ci_lo"] <= r["point_mean"] <= r["ci_hi"]
    assert r["ci_lo"] < r["ci_hi"]  # interval has width
    # point mean equals the plain mean of rounded cents
    m = (
        t(spark, sf_dir, "events")
        .where((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .agg(
            (
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).cast(
                    "double"
                )
                / (F.lit(100.0) * F.count(F.lit(1)))
            ).alias("m")
        )
        .collect()[0]["m"]
    )
    assert abs(r["point_mean"] - m) < 1e-12
    # the bootstrap spread is plausibly scaled: width within 50x of the
    # normal-theory CI width (catches a seed/weight bug that collapses
    # or explodes the replicate variance) and nonzero
    assert (r["ci_hi"] - r["ci_lo"]) < (abs(r["point_mean"]) + 1.0)


def test_merge_upsert_audit_and_physical_flags(spark, sf_dir):
    from parquet_processor_spark.ops.roundtrip import (
        _MERGE_DEL,
        _MERGE_INS,
        _MERGE_UPD,
        sink_merge_upsert,
    )
    from parquet_processor_spark.tables import t

    from .conftest import jobs_in_group

    # the build runs 12 jobs at sf0.001 on 4 cores, so a new eager
    # action in the sink fails here
    df, build = jobs_in_group(spark, "merge_upsert_build", lambda: sink_merge_upsert(spark, sf_dir))
    [r], run = jobs_in_group(spark, "merge_upsert_run", df.collect)
    assert build <= 12 and run <= 1, (build, run)
    keys = [x["o_orderkey"] for x in t(spark, sf_dir, "orders").select("o_orderkey").collect()]
    n_del = sum(1 for k in keys if k % _MERGE_DEL == 0)
    n_upd = sum(1 for k in keys if k % _MERGE_DEL != 0 and k % _MERGE_UPD == 0)
    n_ins = sum(
        1
        for k in keys
        if k % _MERGE_DEL != 0 and k % _MERGE_UPD != 0 and k % _MERGE_INS == 0
    )
    assert r["rows_before"] == len(keys)
    assert (r["n_deleted"], r["n_updated"], r["n_inserted"]) == (n_del, n_upd, n_ins)
    assert r["rows_after"] == len(keys) - n_del + n_ins
    assert r["untouched_intact"] and r["merge_ok"]
    assert r["n_partitions_rewritten"] <= r["n_partitions"]


def test_ohlc_bars_match_a_python_witness(spark, sf_dir):
    from collections import defaultdict

    from parquet_processor_spark.ops.temporal import events_ohlc_bars
    from parquet_processor_spark.tables import t

    rows = {
        (r["event_type"], r["bar_start"]): r
        for r in events_ohlc_bars(spark, sf_dir).collect()
    }
    raw = (
        t(spark, sf_dir, "events")
        .where("value is not null")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    bars = defaultdict(list)
    for e in raw:
        hr = e["ts"].replace(minute=0, second=0, microsecond=0)
        cents = int((e["value"] * 100 + 0.5) // 1)
        bars[(e["event_type"], hr)].append((e["ts"], e["event_id"], cents))
    assert set(bars) == set(rows)
    for k, evs in bars.items():
        evs.sort()
        r = rows[k]
        assert r["open_cents"] == evs[0][2] and r["close_cents"] == evs[-1][2]
        cs = [c for _, _, c in evs]
        assert (r["high_cents"], r["low_cents"]) == (max(cs), min(cs))
        assert (r["n_events"], r["volume_cents"]) == (len(evs), sum(cs))


def test_regression_multi_matches_numpy_lstsq(spark, sf_dir):
    import numpy as np

    from parquet_processor_spark.ops.aggregates import agg_regression_multi
    from parquet_processor_spark.tables import t

    got = {r["l_returnflag"]: r for r in agg_regression_multi(spark, sf_dir).collect()}
    raw = (
        t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_quantity", "l_discount", "l_extendedprice")
        .collect()
    )
    by_flag = {}
    for r in raw:
        by_flag.setdefault(r["l_returnflag"], []).append(
            (r["l_quantity"], r["l_discount"], r["l_extendedprice"])
        )
    for flag, rows in by_flag.items():
        a = np.array(rows)
        X = np.column_stack([np.ones(len(a)), a[:, 0], a[:, 1]])
        beta, *_ = np.linalg.lstsq(X, a[:, 2], rcond=None)
        g = got[flag]
        assert g["n"] == len(rows)
        # closed-form Cramer vs numpy lstsq: agreement to float noise
        scale = max(1.0, abs(beta[0]))
        assert abs(g["intercept"] - beta[0]) < 1e-6 * scale
        assert abs(g["beta_quantity"] - beta[1]) < 1e-6 * max(1.0, abs(beta[1]))
        assert abs(g["beta_discount"] - beta[2]) < 1e-4 * max(1.0, abs(beta[2]))


def test_ohlc_bars_invariant_to_input_order_and_layout(spark, tmp_path):
    # The deterministic (ts, event_id) tiebreak is the operator's
    # contract: bars must be identical when the input file holds the
    # same rows in reverse order and a different partition layout.
    from parquet_processor_spark.ops.temporal import events_ohlc_bars
    from parquet_processor_spark.tables import t

    src = "/root/testdata/sf0.001"
    base = {tuple(r) for r in events_ohlc_bars(spark, src).collect()}
    alt = str(tmp_path / "alt")
    (
        t(spark, src, "events")
        .orderBy("value", "event_id", ascending=False)
        .repartition(7)
        .write.parquet(f"{alt}/events.parquet")
    )
    shuffled = {tuple(r) for r in events_ohlc_bars(spark, alt).collect()}
    assert shuffled == base and len(base) > 0


def test_bootstrap_ci_invariant_to_partition_layout(spark, tmp_path):
    # Replicate weights are a pure function of event_id, and the sums
    # are exact integers — so the CI must be BITWISE identical under
    # any partitioning of the same rows.
    from parquet_processor_spark.ops.aggregates import agg_bootstrap_ci
    from parquet_processor_spark.tables import t

    src = "/root/testdata/sf0.001"
    base = agg_bootstrap_ci(spark, src).collect()[0]
    alt = str(tmp_path / "alt")
    (
        t(spark, src, "events")
        .repartition(13, "event_type")
        .write.parquet(f"{alt}/events.parquet")
    )
    other = agg_bootstrap_ci(spark, alt).collect()[0]
    assert tuple(base) == tuple(other)


def test_generalize_release_satisfies_k_anonymity(spark, sf_dir):
    # The property itself, over RELEASED values: every (qi_segment,
    # qi_geo) combination in the release must cover >= k individuals
    # (full-domain generalization makes this provable; this measures it).
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.curation import _KGEN, anonymize_generalize
    from parquet_processor_spark.tables import t

    out = anonymize_generalize(spark, sf_dir)
    groups = out.groupBy("qi_segment", "qi_geo").agg(F.count(F.lit(1)).alias("n")).collect()
    assert len(groups) > 0
    assert all(g["n"] >= _KGEN for g in groups), sorted(g["n"] for g in groups)[:5]
    # every customer appears exactly once, level is uniform (full-domain)
    assert out.count() == t(spark, sf_dir, "customer").count()
    assert out.select("gen_level").distinct().count() == 1
    # and the level is MINIMAL: level-1 releases mean some level-0 group
    # was under k (and so on) — recompute the would-be level-0 minimum
    lvl = out.select("gen_level").first()["gen_level"]
    if lvl >= 1:
        m0 = (
            t(spark, sf_dir, "customer")
            .groupBy("c_mktsegment", "c_nationkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.min("n").alias("m"))
            .first()["m"]
        )
        assert m0 < _KGEN


def test_concat_chunks_partition_the_token_stream_exactly(spark, sf_dir):
    # The packing invariants: spans per doc cover the doc's tokens
    # exactly once; every sequence except the last is exactly full.
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.sampling import _CHUNK_SEQ_LEN, pack_concat_chunks
    from parquet_processor_spark.tables import t

    out = pack_concat_chunks(spark, sf_dir)
    docs = {
        r["doc_id"]: r["n"]
        for r in t(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", r"\s+")).alias("n"))
        .collect()
    }
    per_doc = {
        r["doc_id"]: r["s"]
        for r in out.groupBy("doc_id").agg(F.sum("n_toks").alias("s")).collect()
    }
    assert per_doc == docs
    seqs = sorted(
        (r["seq_id"], r["s"])
        for r in out.groupBy("seq_id").agg(F.sum("n_toks").alias("s")).collect()
    )
    # contiguous sequence ids from 0; all full except possibly the last
    assert [s for s, _ in seqs] == list(range(len(seqs)))
    assert all(n == _CHUNK_SEQ_LEN for _, n in seqs[:-1])
    assert 0 < seqs[-1][1] <= _CHUNK_SEQ_LEN
    # offsets stay inside the sequence
    bad = out.where(
        (F.col("seq_tok_from") < 0)
        | (F.col("seq_tok_from") + F.col("n_toks") > _CHUNK_SEQ_LEN)
    ).count()
    assert bad == 0


def test_random_walks_are_valid_paths(spark, sf_dir):
    # Every walk must be a genuine path in the trade graph: step-s node
    # adjacent to step-(s-1) node; walks alternate customer/supplier
    # sides (bipartite); one row per (walk, step).
    from pyspark.sql import functions as F

    from parquet_processor_spark.ops.graph import _WALK_STEPS, graph_random_walks
    from parquet_processor_spark.tables import t

    rows = graph_random_walks(spark, sf_dir).collect()
    walks = {}
    for r in rows:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    assert len(walks) > 0
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = {
        (r["o_custkey"], r["l_suppkey"])
        for r in o.join(l, o["o_orderkey"] == l["l_orderkey"]).select(
            "o_custkey", "l_suppkey"
        ).distinct().collect()
    }
    def adjacent(a, b):
        c, s = (a, b) if a % 2 == 0 else (b, a)
        return c % 2 == 0 and s % 2 == 1 and (c // 2, s // 2) in pairs
    for wid, steps in walks.items():
        assert steps[0] == wid and wid % 2 == 0
        for s in range(1, max(steps) + 1):
            assert adjacent(steps[s - 1], steps[s]), (wid, s)
        assert max(steps) <= _WALK_STEPS


def test_classification_report_matches_sklearn_style_identities(spark, sf_dir):
    from parquet_processor_spark.ops.text import agg_classification_report, lang_id
    from parquet_processor_spark.tables import t

    rows = {r["cls"]: r for r in agg_classification_report(spark, sf_dir).collect()}
    pred = lang_id(spark, sf_dir).collect()
    from collections import Counter

    tp, actual, predicted = Counter(), Counter(), Counter()
    for r in pred:
        actual[r["lang"]] += 1
        predicted[r["predicted_lang"]] += 1
        if r["lang"] == r["predicted_lang"]:
            tp[r["lang"]] += 1
    assert set(rows) == set(actual) | set(predicted)
    for c, r in rows.items():
        assert (r["tp"], r["support"]) == (tp[c], actual[c])
        assert r["fp"] == predicted[c] - tp[c] and r["fn"] == actual[c] - tp[c]
        if predicted[c]:
            assert abs(r["precision_c"] - tp[c] / predicted[c]) < 1e-12
        else:
            assert r["precision_c"] is None
        if actual[c]:
            assert abs(r["recall_c"] - tp[c] / actual[c]) < 1e-12
        pr, rc = r["precision_c"], r["recall_c"]
        if pr and rc:
            assert abs(r["f1_c"] - 2 * pr * rc / (pr + rc)) < 1e-12
    # totals: sum tp+fn == corpus size
    assert sum(r["support"] for r in rows.values()) == len(pred)


def test_merge_upsert_partial_touch_and_delete_only_bucket(spark, tmp_path):
    """The two regimes the sf fixture can't reach: a change batch that
    touches 3 of 14 populated buckets (rewrite cost must track touched
    partitions — untouched listings byte-stable), and a bucket whose
    EVERY row is a delete with no insert landing in it (dynamic
    overwrite writes nothing there, so the operator must drop the
    stale directory explicitly for the delete to commit)."""
    import datetime as _dt

    from parquet_processor_spark.ops.roundtrip import sink_merge_upsert
    from parquet_processor_spark.tables import TABLES, t

    from .conftest import SF_SMALL

    d = tmp_path / "merge_partial"
    # untouched keys: bucket (k%16) not in {3,5,6}, k not divisible by
    # 17 (delete), 11 (update), or 13 (insert trigger)
    untouched = [1, 2, 4, 8, 9, 12, 14, 15, 18, 23, 24, 25, 28, 29, 30, 31, 32, 36, 40, 41]
    keys = untouched + [
        51, 323,  # 17*3, 17*19 -> both bucket 3: the DELETE-ONLY bucket
        341,      # 11*31, bucket 5: the one update
        26,       # 13*2, bucket 10: insert trigger -> -26 lands in bucket 6
    ]
    ts = _dt.datetime(2024, 1, 1)
    rows = [(k, 1, "O", 100.0, ts, "1-URGENT") for k in keys]
    for tab in TABLES:
        base = t(spark, SF_SMALL, tab).limit(0)
        if tab == "orders":
            base = base.unionByName(spark.createDataFrame(rows, base.schema))
        base.write.mode("overwrite").parquet(str(d / f"{tab}.parquet"))

    [r] = sink_merge_upsert(spark, str(d)).collect()
    assert r["rows_before"] == 24
    assert (r["n_deleted"], r["n_updated"], r["n_inserted"]) == (2, 1, 1)
    assert r["rows_after"] == 23
    # 14 populated buckets, only {3 del, 5 upd, 6 ins-target} rewritten
    assert r["n_partitions"] == 14
    assert r["n_partitions_rewritten"] == 3
    # untouched_intact: the 12 unaffected bucket listings are identical
    # before/after; merge_ok: re-read shows zero bucket-3 survivors —
    # i.e. the emptied bucket's stale directory was really dropped
    assert r["untouched_intact"] is True
    assert r["merge_ok"] is True


def test_targeted_delete_commits_when_it_empties_a_bucket(spark, tmp_path, monkeypatch):
    """sink_targeted_delete's twin of the delete-only bucket: every
    order in one bucket belongs to one forgotten customer, so the
    rewrite has no rows for that bucket. A dynamic overwrite alone
    leaves such a bucket's directory, and its rows, in place; the
    commit must delete it."""
    import datetime as _dt
    import hashlib

    from parquet_processor_spark.ops import roundtrip
    from parquet_processor_spark.tables import TABLES, t

    from .conftest import SF_SMALL

    # the first key _rtbf_target_pred selects, spelled in Python
    target = next(
        k
        for k in range(1, 10_000)
        if int(hashlib.md5(str(k).encode()).hexdigest()[:13], 16) % roundtrip._RTBF_MOD == 0
    )
    bucket = target % roundtrip._RTBF_BUCKETS
    kept = [c for c in range(1, 40) if c % roundtrip._RTBF_BUCKETS != bucket][:20]
    ts = _dt.datetime(2024, 1, 1)
    orders = [(o, target, "O", 100.0, ts, "1-URGENT") for o in (1, 2, 3)]
    orders += [(10 + i, c, "O", 100.0, ts, "1-URGENT") for i, c in enumerate(kept)]
    d = tmp_path / "rtbf_fixture"
    for tab in TABLES:
        base = t(spark, SF_SMALL, tab).limit(0)
        if tab == "orders":
            base = base.unionByName(spark.createDataFrame(orders, base.schema))
        if tab == "customer":
            base = base.unionByName(spark.createDataFrame([(target, "c", 1, 0.0, "X")], base.schema))
        base.write.mode("overwrite").parquet(str(d / f"{tab}.parquet"))
    table = tmp_path / "rtbf_table"
    monkeypatch.setattr(roundtrip, "scratch_dir", lambda prefix: str(table))

    [r] = roundtrip.sink_targeted_delete(spark, str(d)).collect()
    assert (r["rows_before"], r["rows_deleted"], r["rows_after"]) == (23, 3, 20)
    assert r["n_partitions_rewritten"] == 1
    assert r["targets_remaining"] == 0
    assert r["untouched_intact"] is True
    assert not (table / f"bucket={bucket}").exists()
    assert spark.read.parquet(str(table)).count() == r["rows_after"]


def test_scc_on_a_crafted_graph_with_known_components(spark, tmp_path):
    """The FW-BW coloring correctness case naive (fwd-min, bwd-min)
    label-pair equality gets WRONG: nodes 2 and 3 share (f, b) labels
    (both reach 0, both reached by 1) yet are NOT mutually reachable.
    Components here: {0, 4} (a 2-cycle), {2, 3} (a 2-cycle), {1}, {5}.
    Edges encoded as consecutive l_partkey per order."""
    import datetime as _dt

    from parquet_processor_spark.ops.graph import graph_scc
    from parquet_processor_spark.tables import TABLES, t

    from .conftest import SF_SMALL

    # directed edges: 1->2, 1->3, 2->0, 3->0, 0->4, 4->0, 2->3, 3->2, 0->5
    edges = [(1, 2), (1, 3), (2, 0), (3, 0), (0, 4), (4, 0), (2, 3), (3, 2), (0, 5)]
    ship = _dt.datetime(2024, 1, 1)
    rows = []
    for i, (a, b) in enumerate(edges):
        okey = 100 + i
        rows.append((okey, a, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ship))
        rows.append((okey, b, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", ship))
    d = tmp_path / "scc_fixture"
    for tab in TABLES:
        base = t(spark, SF_SMALL, tab).limit(0)
        if tab == "lineitem":
            base = base.unionByName(spark.createDataFrame(rows, base.schema))
        base.write.mode("overwrite").parquet(str(d / f"{tab}.parquet"))
    got = {r["node"]: (r["scc_id"], r["scc_size"]) for r in graph_scc(spark, str(d)).collect()}
    assert got == {
        0: (0, 2), 4: (0, 2),   # the {0,4} cycle
        2: (2, 2), 3: (2, 2),   # the {2,3} cycle — NOT merged with 0 or 1
        1: (1, 1), 5: (5, 1),   # singletons
    }


def test_pps_sample_reproduces_the_total_exactly(spark, sf_dir):
    """Systematic PPS invariant: estimating the SIZE variable with its
    own inclusion weights reproduces the population total exactly —
    sum(n_hits * ht_weight * cents) = T, because sum(n_hits) = n and
    each draw contributes T/n. Catches any off-by-one in the position
    counting."""
    from parquet_processor_spark.ops.sampling import _PPS_N, sample_pps
    from parquet_processor_spark.tables import t

    s = sample_pps(spark, sf_dir)
    n_total = s.agg(F.sum("n_hits")).collect()[0][0]
    assert n_total == _PPS_N
    est = s.agg(
        F.sum(F.col("n_hits") * F.col("ht_weight") * F.col("cents"))
    ).collect()[0][0]
    t_true = (
        t(spark, sf_dir, "orders")
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")))
        .collect()[0][0]
    )
    assert abs(est - t_true) / t_true < 1e-9

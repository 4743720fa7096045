"""Round-7 analytics operators: retention cohorts, Markov transitions,
EWMA fold. Registry entries are oracle-checked; these tests pin the
contracts the oracle can't see: hand-computed recurrence values, plan
shapes (broadcast of tiny aggregates, no nested-loop joins), and the
offset-0 retention identity.
"""

from __future__ import annotations
import pytest

import datetime

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _ts(minute: int):
    return datetime.datetime(2026, 1, 5, 12, minute)


# ---------------------------------------------------------------------------
# temporal_ewma
# ---------------------------------------------------------------------------
def test_ewma_recurrence_hand_computed(spark, monkeypatch):
    from cyrela_etl_spark.queries import temporalq

    tiny = spark.createDataFrame(
        [
            (1, _ts(0), 101, 10.0),
            (1, _ts(1), 102, 20.0),
            (1, _ts(2), 103, 30.0),
            (2, _ts(0), 201, 7.5),
        ],
        "user_id long, ts timestamp, event_id long, value double",
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: tiny)
    rows = {r["user_id"]: r for r in temporalq.temporal_ewma(spark, SF).collect()}
    # e1=10; e2=.2*20+.8*10=12; e3=.2*30+.8*12=15.6
    assert rows[1]["ewma_value"] == 15.6
    assert rows[1]["n_events"] == 3
    # single-event user: ewma is the value itself (the fold's seed)
    assert rows[2]["ewma_value"] == 7.5


def test_ewma_ignores_input_row_order(spark, monkeypatch):
    """The fold must order by (ts, event_id), not arrival order."""
    from cyrela_etl_spark.queries import temporalq

    shuffled = spark.createDataFrame(
        [
            (1, _ts(2), 103, 30.0),
            (1, _ts(0), 101, 10.0),
            (1, _ts(1), 102, 20.0),
        ],
        "user_id long, ts timestamp, event_id long, value double",
    ).repartition(4)
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: shuffled)
    [row] = temporalq.temporal_ewma(spark, SF).collect()
    assert row["ewma_value"] == 15.6


# ---------------------------------------------------------------------------
# events_markov_transitions
# ---------------------------------------------------------------------------
def test_markov_counts_and_probs(spark, monkeypatch):
    from cyrela_etl_spark.queries import temporalq

    seq = spark.createDataFrame(
        [
            (1, _ts(0), 1, "A"),
            (1, _ts(1), 2, "B"),
            (1, _ts(2), 3, "A"),
            (1, _ts(3), 4, "B"),
            (2, _ts(0), 5, "A"),
            (2, _ts(1), 6, "A"),
        ],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: seq)
    out = {
        (r["from_type"], r["to_type"]): r
        for r in temporalq.events_markov_transitions(spark, SF).collect()
    }
    assert out[("A", "B")]["n_transitions"] == 2
    assert out[("B", "A")]["n_transitions"] == 1
    assert out[("A", "A")]["n_transitions"] == 1
    # from A: 2/3 to B, 1/3 to A; last event of each user emits nothing
    assert out[("A", "B")]["prob"] == round(2 / 3, 6)
    assert out[("A", "A")]["prob"] == round(1 / 3, 6)
    assert out[("B", "A")]["prob"] == 1.0


def test_markov_totals_join_is_broadcast(spark):
    from cyrela_etl_spark.queries.temporalq import events_markov_transitions

    plan = _plan(events_markov_transitions(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# events_retention_cohorts
# ---------------------------------------------------------------------------
def test_retention_offset_zero_is_full_cohort(spark):
    from cyrela_etl_spark.queries.temporalq import events_retention_cohorts

    rows = events_retention_cohorts(spark, SF).collect()
    assert rows, "retention matrix must be non-empty"
    zero = [r for r in rows if r["week_offset"] == 0]
    assert zero, "every cohort has an offset-0 row"
    for r in zero:
        # by construction a user is active in their own first week
        assert r["n_active"] == r["cohort_size"]
        assert r["retention"] == 1.0
    for r in rows:
        assert 0 < r["retention"] <= 1.0
        assert r["week_offset"] >= 0


def test_retention_sizes_join_is_broadcast(spark):
    from cyrela_etl_spark.queries.temporalq import events_retention_cohorts

    plan = _plan(events_retention_cohorts(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# dedup_dup_ngram_fraction
# ---------------------------------------------------------------------------
def test_dup_ngram_fraction_flags_planted_copies(spark):
    from cyrela_etl_spark.queries.textq import dedup_dup_ngram_fraction

    rows = {r["doc_id"]: r for r in dedup_dup_ngram_fraction(spark, SF).collect()}
    copies = [d for d in rows if d >= 100000 and d < 200000]
    assert copies, "planted exact copies must appear"
    for d in copies:
        # an exact copy shares every 8-gram with its original
        assert rows[d]["dup_fraction"] == 1.0
        assert rows[d - 100000]["dup_fraction"] == 1.0
    for r in rows.values():
        assert 0.0 <= r["dup_fraction"] <= 1.0
        assert r["n_dup_grams"] <= r["n_grams"]


# ---------------------------------------------------------------------------
# corpus_domain_mix
# ---------------------------------------------------------------------------
def test_domain_mix_quota_arithmetic(spark):
    from cyrela_etl_spark.queries.textq import corpus_domain_mix

    rows = corpus_domain_mix(spark, SF).collect()
    assert rows
    total_kept = sum(r["n_kept"] for r in rows)
    assert total_kept > 0
    weights = {
        r["source"]: int(r["source"].lstrip("src")) % 3 + 1 for r in rows
    }
    bigw = sum(weights.values())
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_total"]
        # achieved share matches target share up to the floor-rounding of
        # one document: |n_kept/total - w/W| * total <= 1
        target = weights[r["source"]] / bigw
        assert abs(r["n_kept"] - target * total_kept) <= 1.0 + 1e-9
        assert r["share_ppm"] == 1000000 * r["n_kept"] // total_kept


def test_domain_mix_binding_source_fully_kept_or_floored(spark):
    """T = min_s(n_s*W/w_s): at least one source's quota is within one doc
    of its full population (the binding constraint)."""
    from cyrela_etl_spark.queries.textq import corpus_domain_mix

    rows = corpus_domain_mix(spark, SF).collect()
    assert any(r["n_total"] - r["n_kept"] <= 1 for r in rows)


# ---------------------------------------------------------------------------
# text_pmi_collocations
# ---------------------------------------------------------------------------
def test_pmi_min_count_and_finiteness(spark):
    import math

    from cyrela_etl_spark.queries.textq import text_pmi_collocations

    rows = text_pmi_collocations(spark, SF).collect()
    assert rows, "sf0.001 corpus must yield ≥1 frequent pair"
    for r in rows:
        assert r["n_pair"] >= 5
        assert math.isfinite(r["pmi"])


def test_pmi_plan_only_benign_nested_loops(spark):
    """The unigram joins must be hash joins; the only nested-loop joins
    allowed are the 1-row totals assembly (n1 × n2) and its broadcast
    into the pair table."""
    from cyrela_etl_spark.queries.textq import text_pmi_collocations

    plan = _plan(text_pmi_collocations(spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert plan.count("BroadcastHashJoin") >= 2


# ---------------------------------------------------------------------------
# temporal_scd2_intervals
# ---------------------------------------------------------------------------
def test_scd2_runs_hand_computed(spark, monkeypatch):
    from cyrela_etl_spark.queries import temporalq

    log = spark.createDataFrame(
        [
            (1, _ts(0), 1, "bronze"),
            (1, _ts(1), 2, "bronze"),
            (1, _ts(2), 3, "gold"),
            (1, _ts(3), 4, "bronze"),
        ],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: log)
    rows = sorted(
        temporalq.temporal_scd2_intervals(spark, SF).collect(),
        key=lambda r: r["run_id"],
    )
    assert [(r["attr_value"], r["n_events"]) for r in rows] == [
        ("bronze", 2),
        ("gold", 1),
        ("bronze", 1),
    ]
    # intervals tile the timeline: each valid_to is the next valid_from
    assert rows[0]["valid_from"] == _ts(0)
    assert rows[0]["valid_to"] == rows[1]["valid_from"] == _ts(2)
    assert rows[1]["valid_to"] == rows[2]["valid_from"] == _ts(3)
    assert rows[2]["valid_to"] is None  # current open interval


def test_scd2_single_user_shuffle(spark):
    """Both window passes and the run agg must share ONE user_id exchange."""
    from cyrela_etl_spark.queries.temporalq import temporal_scd2_intervals

    plan = _plan(temporal_scd2_intervals(spark, SF))
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# stream_window_topk
# ---------------------------------------------------------------------------
def test_stream_window_topk_is_true_topk(spark):
    from collections import defaultdict

    from cyrela_etl_spark.queries.streamingq import stream_window_topk

    rows = stream_window_topk(spark, SF).collect()
    assert rows
    per_bucket = defaultdict(list)
    for r in rows:
        per_bucket[r["bucket"]].append(r)
    for bucket, rs in per_bucket.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        # counts are non-increasing in rank
        ordered = sorted(rs, key=lambda r: r["rank"])
        for a, b in zip(ordered, ordered[1:]):
            assert a["n_events"] >= b["n_events"]


@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
def test_topk_view_merges_across_batches(spark, tmp_path):
    """Two single-file micro-batches counting the same group must SUM in
    the maintained view (additive merge, not last-writer-wins)."""
    import os
    import time

    from cyrela_etl_spark.streaming.ops import (
        read_file_stream,
        run_foreach_batch_topk_view,
    )

    src = tmp_path / "in"
    src.mkdir()
    one = spark.createDataFrame([("x", 1)], "k string, v int")
    for i, mtime in [(0, 1_000_000_000), (1, 1_000_000_100)]:
        d = tmp_path / f"__b{i}"
        one.coalesce(1).write.parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = src / f"b{i}.parquet"
        (d / part).rename(dst)
        os.utime(dst, (mtime, mtime))
    stream = read_file_stream(
        spark, str(src), "k string, v int", max_files_per_trigger=1
    )
    out = run_foreach_batch_topk_view(
        stream,
        state_dir=str(tmp_path / "state"),
        group_cols=["k"],
        partition_cols=[],
        k=3,
    ).collect()
    assert len(out) == 1
    assert out[0]["n_events"] == 2  # 1 + 1 across two epochs
    versions = sorted(os.listdir(tmp_path / "state"))
    assert len(versions) >= 2, "state must be epoch-versioned"


# ---------------------------------------------------------------------------
# vector_kmeans_clusters
# ---------------------------------------------------------------------------
def test_kmeans_partitions_all_points(spark):
    from cyrela_etl_spark.queries.vectorq import vector_kmeans_clusters

    rows = vector_kmeans_clusters(spark, SF).collect()
    n_emb = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert 1 <= len(rows) <= 8
    assert sum(r["n_points"] for r in rows) == n_emb
    for r in rows:
        assert r["inertia"] >= 0
        assert abs(r["mean_dist2"] - round(r["inertia"] / r["n_points"], 6)) < 1e-9


def test_kmeans_iterations_do_not_increase_inertia(spark):
    """Lloyd's algorithm is monotone: total inertia after the mean-update
    iteration must be <= the seed assignment's inertia."""
    from cyrela_etl_spark.operators.clustering import kmeans_cluster_profile

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    i1 = sum(
        r["inertia"] for r in kmeans_cluster_profile(emb, k=8, iterations=1).collect()
    )
    i2 = sum(
        r["inertia"] for r in kmeans_cluster_profile(emb, k=8, iterations=2).collect()
    )
    # rounding each dist2 to 6 digits bounds the comparison noise far
    # below any real assignment change
    assert i2 <= i1 + 1e-3


def test_kmeans_assignment_broadcasts_centroids(spark):
    from cyrela_etl_spark.queries.vectorq import vector_kmeans_clusters

    plan = _plan(vector_kmeans_clusters(spark, SF))
    assert "CartesianProduct" not in plan
    # every centroid side (k rows) must ride a broadcast, and the base
    # relation must be persisted once for reuse across iterations
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "InMemoryTableScan" in plan


# ---------------------------------------------------------------------------
# quality_perplexity_buckets
# ---------------------------------------------------------------------------
def test_perplexity_buckets_are_ordered_tertiles(spark):
    from collections import defaultdict

    from cyrela_etl_spark.queries.textq import quality_perplexity_buckets

    rows = quality_perplexity_buckets(spark, SF).collect()
    assert rows
    by_lang = defaultdict(dict)
    for r in rows:
        by_lang[r["lang"]][r["bucket"]] = r
    for lang, buckets in by_lang.items():
        assert set(buckets) <= {1, 2, 3}
        # bucket 1 = head (highest LM score); envelopes must not overlap
        # out of order: min of head >= max of tail
        if 1 in buckets and 3 in buckets:
            assert buckets[1]["min_ppm"] >= buckets[3]["max_ppm"]
        # ntile balance: sizes differ by at most 1
        sizes = [b["n_docs"] for b in buckets.values()]
        assert max(sizes) - min(sizes) <= 1


# ---------------------------------------------------------------------------
# temporal_interpolate
# ---------------------------------------------------------------------------
def test_interpolate_hand_computed(spark, monkeypatch):
    import datetime

    from cyrela_etl_spark.queries import temporalq

    def hour(h):
        return datetime.datetime(2026, 1, 5, h)

    # one key, values at hours 0 and 3 -> hours 1 and 2 interpolated
    ev = spark.createDataFrame(
        [
            (1, hour(0), 1, "m", 3.0),
            (2, hour(0), 1, "m", 9.0),   # hour-0 mean = 6.0
            (3, hour(3), 1, "m", 12.0),  # hour-3 mean = 12.0
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: ev)
    rows = {
        r["bucket"].hour: r for r in temporalq.temporal_interpolate(spark, SF).collect()
    }
    assert len(rows) == 4
    assert rows[0]["value"] == 6.0 and not rows[0]["interpolated"]
    assert rows[1]["value"] == 8.0 and rows[1]["interpolated"]   # 6 + (12-6)*1/3
    assert rows[2]["value"] == 10.0 and rows[2]["interpolated"]  # 6 + (12-6)*2/3
    assert rows[3]["value"] == 12.0 and not rows[3]["interpolated"]


def test_interpolate_no_gaps_left(spark):
    from cyrela_etl_spark.queries.temporalq import temporal_interpolate

    rows = temporal_interpolate(spark, SF).collect()
    assert rows
    assert all(r["value"] is not None for r in rows)


# ---------------------------------------------------------------------------
# sql_lateral_topn
# ---------------------------------------------------------------------------
def test_lateral_topn_decorrelates_to_window(spark):
    """The lateral subquery must be decorrelated (window/rank over a join),
    never a per-outer-row re-execution — no nested-loop artifacts."""
    from cyrela_etl_spark.queries.relational import sql_lateral_topn

    df = sql_lateral_topn(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    rows = df.collect()
    from collections import Counter

    per_nation = Counter(r["n_name"] for r in rows)
    assert all(n <= 2 for n in per_nation.values())


# ---------------------------------------------------------------------------
# events_rfm_segments
# ---------------------------------------------------------------------------
def test_rfm_scores_are_quartiles_without_windows(spark):
    from cyrela_etl_spark.queries.temporalq import events_rfm_segments

    df = events_rfm_segments(spark, SF)
    plan = _plan(df)
    # the whole point: boundary scoring, not a single-partition ntile
    assert "Window" not in plan
    rows = df.collect()
    assert rows
    for r in rows:
        assert 1 <= r["r_score"] <= 4
        assert 1 <= r["f_score"] <= 4
        assert 1 <= r["m_score"] <= 4
        assert r["rfm_code"] == r["r_score"] * 100 + r["f_score"] * 10 + r["m_score"]
    # each score level is populated somewhere (quartiles split the users)
    assert len({r["f_score"] for r in rows}) >= 2


# ---------------------------------------------------------------------------
# text_tfidf_doc_pairs
# ---------------------------------------------------------------------------
def test_tfidf_pairs_find_planted_copies_at_cos_one(spark):
    from cyrela_etl_spark.queries.textq import text_tfidf_doc_pairs

    rows = text_tfidf_doc_pairs(spark, SF).collect()
    assert rows
    by_pair = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in rows}
    # every planted exact copy pairs with its original at cosine 1.0
    originals = [a for (a, b) in by_pair if b == a + 100000]
    assert originals, "planted exact copies must surface"
    for a in originals:
        assert by_pair[(a, a + 100000)] == 1.0
    for (a, b), cos in by_pair.items():
        assert a < b
        assert 0.3 <= cos <= 1.0


def test_tfidf_weight_bound_documented_is_safe(spark):
    """Largest w² must sit far below int64 overflow at the declared
    bounds (tf ≤ 1e3, N ≤ 1e5 ⇒ w ≤ 1e3·(100·1e5/2) = 5e9 would break;
    the df ≥ 2 + df·10 ≤ N pruning keeps idf_k ≤ 100·N/2 only for df=2
    terms whose tf in practice is 1 — verify the ACTUAL materialized max)."""
    from pyspark.sql import functions as F

    from cyrela_etl_spark.queries.textq import corpus
    from cyrela_etl_spark.operators import text as X

    c = corpus(spark, SF)
    tf = (
        c.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = c.count()
    mx = (
        tf.join(dfreq, "tok")
        .filter((F.col("df") >= 2) & (F.col("df") * 10 <= n))
        .select((F.col("tf") * ((100 * n) / F.col("df")).cast("long")).alias("w"))
        .agg(F.max(F.col("w") * F.col("w")))
        .collect()[0][0]
    )
    assert mx is not None and mx < 2**62


# ---------------------------------------------------------------------------
# graph_pagerank
# ---------------------------------------------------------------------------
def test_pagerank_mass_and_hub_ordering(spark):
    from cyrela_etl_spark.queries.textq import graph_pagerank

    rows = graph_pagerank(spark, SF).collect()
    assert rows
    total = sum(r["rank_ppb"] for r in rows)
    # integer truncation only LEAKS mass; it can never create it
    assert total <= 1_000_000_000
    assert total >= 900_000_000  # leak stays ppb-scale per node/term
    # every node keeps at least the teleport base term
    n = len(rows)
    base = (15 * (1_000_000_000 // n)) // 100
    assert all(r["rank_ppb"] >= base for r in rows)
    # the dedup graph's components are cliques: members of the same
    # clique (same degree, symmetric) concentrate more rank per node in
    # SMALL cliques — a 2-clique member must outrank a larger-clique one
    by_deg = {}
    for r in rows:
        by_deg.setdefault(r["degree"], set()).add(r["rank_ppb"])
    if 1 in by_deg and max(by_deg) > 1:
        assert min(by_deg[1]) >= max(by_deg[max(by_deg)])


def test_pagerank_hand_computed_path(spark):
    """P3 path a-b-c, 1 iteration: center gets base + 85% of both leaf
    contributions; leaves split the center's rank."""
    from cyrela_etl_spark.operators.graph import integer_pagerank

    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    rows = {
        r["node"]: r for r in integer_pagerank(edges, iterations=1).collect()
    }
    S = 1_000_000_000
    r0 = S // 3
    base = (15 * (S // 3)) // 100
    # node 2 (degree 2): both leaves contribute r0/1 each
    assert rows[2]["rank_ppb"] == base + (85 * (r0 + r0)) // 100
    # nodes 1, 3 (degree 1): the center contributes r0/2
    assert rows[1]["rank_ppb"] == base + (85 * (r0 // 2)) // 100
    assert rows[3]["rank_ppb"] == rows[1]["rank_ppb"]
    assert rows[2]["degree"] == 2 and rows[1]["degree"] == 1


def test_pagerank_plan_reuses_persisted_edges(spark):
    from cyrela_etl_spark.queries.textq import graph_pagerank

    plan = _plan(graph_pagerank(spark, SF))
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # directed edges + degrees cached


# ---------------------------------------------------------------------------
# events_rolling_active_users
# ---------------------------------------------------------------------------
def test_rolling_actives_hand_computed(spark, monkeypatch):
    import datetime

    from cyrela_etl_spark.queries import temporalq

    def at(h, u):
        return (u * 100 + h, datetime.datetime(2026, 1, 5, h), u, "view", 1.0)

    # users 1,2 at hour 0; user 1 again at hour 1; user 3 at hour 25
    # (outside the 24h window of hours 0-1)
    ev = spark.createDataFrame(
        [at(0, 1), at(0, 2), at(1, 1), (2503, datetime.datetime(2026, 1, 6, 1), 3, "view", 1.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: ev)
    rows = {
        r["bucket"]: r["n_users_24h"]
        for r in temporalq.events_rolling_active_users(spark, SF).collect()
    }
    d = datetime.datetime
    assert rows[d(2026, 1, 5, 0)] == 2   # users 1,2
    assert rows[d(2026, 1, 5, 1)] == 2   # users 1,2 still inside window
    assert rows[d(2026, 1, 6, 1)] == 1   # 25h later: only user 3 remains


def test_rolling_actives_monotone_bounds(spark):
    from cyrela_etl_spark.queries.temporalq import events_rolling_active_users

    rows = events_rolling_active_users(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["n_users_24h"] >= 1


# ---------------------------------------------------------------------------
# vector_matryoshka_topk
# ---------------------------------------------------------------------------
def test_matryoshka_recall_vs_exact(spark):
    """MRL coarse-then-refine must recover most of the exact top-k (the
    random test embeddings carry signal in every dim, so recall is the
    floor case — structured MRL embeddings only do better)."""
    from cyrela_etl_spark.queries.vectorq import (
        vector_cosine_topk,
        vector_matryoshka_topk,
    )

    exact = {
        (r["query_id"], r["vec_id"]) for r in vector_cosine_topk(spark, SF).collect()
    }
    mrl_rows = vector_matryoshka_topk(spark, SF).collect()
    mrl = {(r["query_id"], r["vec_id"]) for r in mrl_rows}
    assert len(mrl_rows) == len(exact)  # k results per query
    recall = len(exact & mrl) / len(exact)
    assert recall >= 0.5, f"coarse-refine recall collapsed: {recall}"
    # the refine stage's scores are FULL-dim cosines: any overlap pair
    # carries the identical score as the exact ranking
    exact_scores = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in vector_cosine_topk(spark, SF).collect()
    }
    for r in mrl_rows:
        key = (r["query_id"], r["vec_id"])
        if key in exact_scores:
            assert r["cosine"] == exact_scores[key]


def test_matryoshka_candidates_capped(spark):
    from cyrela_etl_spark.operators.similarity import matryoshka_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = matryoshka_topk(emb, q, k=3, coarse_dim=8, refine_factor=2).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r)
    for rows in per_q.values():
        assert len(rows) <= 3
        assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))


# ---------------------------------------------------------------------------
# agg_mode
# ---------------------------------------------------------------------------
def test_agg_mode_matches_counter(spark):
    from collections import Counter

    from cyrela_etl_spark.queries.relational import agg_mode

    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderstatus", "o_orderpriority"
    ).collect()
    by_status = {}
    for r in orders:
        by_status.setdefault(r["o_orderstatus"], Counter())[r["o_orderpriority"]] += 1
    got = {r["o_orderstatus"]: r for r in agg_mode(spark, SF).collect()}
    assert set(got) == set(by_status)
    for status, counter in by_status.items():
        top_n = max(counter.values())
        # tie discipline: highest count, then lexicographically largest value
        expect = max(v for v, n in counter.items() if n == top_n)
        assert got[status]["mode_priority"] == expect
        assert got[status]["n_orders"] == top_n


def test_agg_mode_plan_has_no_window_or_sort(spark):
    from cyrela_etl_spark.queries.relational import agg_mode

    plan = _plan(agg_mode(spark, SF))
    assert "Window" not in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


# ---------------------------------------------------------------------------
# quality_gopher_rules
# ---------------------------------------------------------------------------
def test_gopher_rules_hand_computed(spark, monkeypatch):
    from cyrela_etl_spark.queries import textq

    good = "the quick brown fox jumps over the lazy dog and " * 8  # 80 words
    short = "too short"
    symbols = " ".join(["@@@@"] * 60)  # no alphabetic words, no stopwords
    tiny = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols)], "doc_id long, text string"
    )
    # route the query's documents read to the fixture frame
    monkeypatch.setattr(textq, "read_table", lambda spark, sf_dir, name: tiny)
    rows = {r["doc_id"]: r for r in textq.quality_gopher_rules(spark, SF).collect()}
    assert rows[1]["keep"] is True and rows[1]["first_failed_rule"] is None
    assert rows[2]["keep"] is False and rows[2]["first_failed_rule"] == "min_words"
    assert rows[3]["keep"] is False and rows[3]["first_failed_rule"] in (
        "word_len", "alpha_frac",
    )
    assert rows[1]["n_words"] == 80


def test_gopher_rules_zero_shuffle_plan(spark):
    from cyrela_etl_spark.queries.textq import quality_gopher_rules

    plan = _plan(quality_gopher_rules(spark, SF))
    assert "Exchange" not in plan  # pure projection over the scan


# ---------------------------------------------------------------------------
# text_url_extraction
# ---------------------------------------------------------------------------
def test_url_extraction_host_arithmetic(spark):
    from cyrela_etl_spark.queries.textq import text_url_extraction

    rows = {r["host"]: r for r in text_url_extraction(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id").collect()
    planted = [r["doc_id"] for r in docs if r["doc_id"] % 3 == 0]
    assert sum(r["n_urls"] for r in rows.values()) == len(planted)
    for host, r in rows.items():
        assert host.startswith("site") and host.endswith(".example.com")
        expect = len([d for d in planted if f"site{d % 7}." in f"site{d % 7}."
                      and d % 7 == int(host[4:].split(".")[0])])
        assert r["n_urls"] == expect
        assert r["n_docs"] == r["n_urls"]  # one planted URL per document


# ---------------------------------------------------------------------------
# events_ab_test
# ---------------------------------------------------------------------------
def test_ab_test_hand_computed(spark, monkeypatch):
    import math

    from cyrela_etl_spark.queries import temporalq

    def click(eid, u, minute, k):
        return (eid, _ts(minute), u, "click", 1.0, '{"k": %d}' % k)

    def buy(eid, u, minute):
        return (eid, _ts(minute), u, "purchase", 9.0, "{}")

    # variant A (k even): 2 clicks, 1 converts; variant B (k odd): 2
    # clicks, 2 convert (user 3's click at min 5 converts via the min 20
    # purchase; user 4 converts; user 1's second A-click at min 40 does
    # NOT convert — its purchase window is empty)
    ev = spark.createDataFrame(
        [
            click(1, 1, 0, 2), buy(2, 1, 10),      # A converts
            click(3, 1, 40, 4),                     # A no purchase after
            click(4, 3, 5, 1), buy(5, 3, 20),       # B converts
            click(6, 4, 0, 3), buy(7, 4, 29),       # B converts (inside 30m)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    monkeypatch.setattr(temporalq, "read_table", lambda spark, sf_dir, name: ev)
    [row] = temporalq.events_ab_test(spark, SF).collect()
    assert (row["n_a"], row["x_a"], row["n_b"], row["x_b"]) == (2, 1, 2, 2)
    assert row["rate_a"] == 0.5 and row["rate_b"] == 1.0
    p = 3 / 4
    z = (0.5 - 1.0) / math.sqrt((p * (1 - p)) * (1 / 2 + 1 / 2))
    assert row["z_score"] == round(z, 6)


def test_ab_test_semi_join_keyed_on_user(spark):
    from cyrela_etl_spark.queries.temporalq import events_ab_test

    plan = _plan(events_ab_test(spark, SF))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "Window" not in plan


def test_topk_view_replayed_epoch_does_not_double_count(spark, tmp_path):
    """An additive merge must read the snapshot strictly BELOW the
    replayed epoch's own version (crash-after-write, redeliver case)."""
    import os

    from cyrela_etl_spark.streaming.ops import _latest_snapshot_below

    state = tmp_path / "state"
    state.mkdir()
    for v in (3, 5):
        d = state / f"v_{v:08d}"
        d.mkdir()
    assert _latest_snapshot_below(str(state), 5) == "v_00000003"
    assert _latest_snapshot_below(str(state), 6) == "v_00000005"
    assert _latest_snapshot_below(str(state), 3) is None
    assert _latest_snapshot_below(str(tmp_path / "nope"), 9) is None
    os.rmdir(state / "v_00000003")
    assert _latest_snapshot_below(str(state), 9) == "v_00000005"

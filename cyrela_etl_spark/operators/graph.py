"""Graph statistics over pair/edge relations (the similarity and dedup
operators emit edge lists; connected components lives in
operators/dedup.py next to its consumers): triangle census, integer
PageRank, label propagation, link prediction, degree assortativity and
the k-core peel. Every operator takes an undirected (id_a, id_b) pair
relation; PageRank, LPA, link prediction and assortativity derive their
edge set, directed list and degree table through one ``_edge_tables``.

Triangle counting is the classic "needs care at scale" graph op: the
naive wedge join explodes on hub nodes. The standard fix (node-iterator++
/ Cohen's MapReduce formulation, Suri & Vassilvitskii 2011) orients every
edge from the lower-degree endpoint to the higher-degree one, which
bounds each node's out-degree by O(sqrt(m)) and therefore the wedge join
by O(m^1.5) — the proven bound.

The closure check is a two-key EQUI semi-join: wedge endpoints are
canonicalized with least/greatest and matched against the same
canonicalization of the edge set (valid because the triangle identity is
orientation-free). An OR-of-equalities predicate here would deny Catalyst
its equi-keys and plan a BroadcastNestedLoopJoin over O(m^1.5) wedges —
the exact hub-explosion failure this file exists to avoid (that was the
round-6 shape; tests/test_plan_quality.py now forbids it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _edge_tables(
    edges: DataFrame, id_a: str, id_b: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The distinct undirected edge set ``e(a, b)``, its symmetrized
    directed list ``(src, dst)`` and the degree table ``(src, deg)``, all
    lazy. Callers retain what they reuse, in that order (e, directed,
    deg): caching matches by plan, so a relation derived here reads its
    parent's cache once the parent is persisted first."""
    e = edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).distinct()
    directed = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = directed.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    return e, directed, deg


def triangle_stats(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    orient_by_degree: bool = True,
) -> DataFrame:
    """One-row graph summary: nodes, edges, ordered wedges, triangles and
    the closure ratio (triangles/wedges — one exact-int IEEE division).

    ``orient_by_degree=True`` (production default) re-orients each edge
    low-degree → high-degree (ties by id) before the wedge join, giving
    the O(m^1.5) bound regardless of hubs. ``False`` keeps the input's
    id-ascending orientation — same COUNTS (triangle identity is
    orientation-free), simpler plan, and the spelling a SQL oracle
    replays directly; use it when ids are uncorrelated with degree.

    Plan: distinct edge set → (optional) degree agg + re-orient →
    ``persist()`` the oriented edge list (five consumers: both wedge
    sides, the canonical closure set, and the node/edge count agg — one
    materialization instead of the round-6 ~6× subtree recompute) →
    self-join on the shared middle vertex (the wedge) → LEFT equi-join
    ``(least, greatest)`` wedge endpoints against the canonicalized edge
    set → ONE aggregate counts wedges and closed wedges together (the
    wedge set is never materialized twice). Every join is hash/SMJ on
    vertex-id keys; the only cross join is the final 1-row × 1-row
    scalar assembly.
    """
    e = edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).distinct()
    if orient_by_degree:
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
        db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
        keyed = e.join(da, "a").join(db, "b")
        fwd = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
        )
        # Re-orientation can collapse (u,v)/(v,u) input duplicates onto
        # the same oriented edge — distinct AFTER orienting keeps the
        # edge set a set regardless of input orientation conventions.
        e = keyed.select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("a"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("b"),
        ).distinct()
    e = e.persist()  # release: caller (cache contract, queries/__init__)
    x, y = e.alias("x"), e.alias("y")
    wedges = x.join(y, F.col("x.b") == F.col("y.a")).select(
        F.least(F.col("x.a"), F.col("y.b")).alias("lo"),
        F.greatest(F.col("x.a"), F.col("y.b")).alias("hi"),
    )
    # Each undirected edge appears exactly once in e (distinct + a single
    # orientation per pair), so the canonical set needs no extra dedup
    # and the left join cannot duplicate wedge rows.
    canon = e.select(
        F.least(F.col("a"), F.col("b")).alias("lo"),
        F.greatest(F.col("a"), F.col("b")).alias("hi"),
        F.lit(1).alias("__hit"),
    )
    wt = (
        wedges.join(canon, ["lo", "hi"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_wedges"),
            F.count("__hit").cast("long").alias("n_triangles"),
        )
    )
    ne = e.select(F.explode(F.array("a", "b")).alias("v")).agg(
        F.count_distinct("v").cast("long").alias("n_nodes"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
    )
    return ne.crossJoin(wt).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        (F.col("n_triangles") / F.col("n_wedges")).alias("closure_ratio"),
    )


def integer_pagerank(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 2,
    scale: int = 1_000_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank (Page et al. 1999) over an undirected edge list in EXACT
    INTEGER arithmetic — the engine's rational-variant discipline (bm25 /
    DSIR / bigram-LM precedents): ranks are parts-per-billion int64s,
    every contribution is an integer division, so the result is
    bit-reproducible by any engine and the oracle can unroll the power
    iterations in plain SQL. Float PageRank sums per-node contributions
    in aggregation arrival order — unreplayable across engines.

    r⁰(v) = scale/N;  rᵗ⁺¹(v) = (15·(scale/N))/100 + (85·Σ_{u→v} rᵗ(u)/deg(u))/100
    (all divisions truncating; truncation leaks ≤1 ppb per term — the
    documented price of exactness, monotone-rank-preserving in practice).

    Scale shape: each iteration is ONE vertex-keyed equi-join (directed
    edges ⋈ ranks) plus one destination-keyed sum — the standard
    synchronous Pregel step as DataFrame ops; the directed edge list and
    degree table are persisted once and reused by every iteration; N
    rides a 1-row broadcast. Undirected input means no dangling nodes
    (every vertex in the edge set has degree ≥ 1).
    """
    e, directed, deg = _edge_tables(edges, id_a, id_b)
    # persist the undirected edge set FIRST: the symmetrizing union reads
    # it twice, and with pair-graph inputs each read would otherwise
    # recompute the corpus self-joins that produced the edges
    e.persist()  # release: caller (cache contract, queries/__init__)
    directed.persist()  # release: caller (cache contract, queries/__init__)
    deg.persist()  # release: caller (cache contract, queries/__init__)
    n_row = deg.agg(F.count(F.lit(1)).cast("long").alias("n"))
    base = F.expr(f"({100 - damping_pct} * ({scale} div n)) div 100")
    ranks = deg.crossJoin(F.broadcast(n_row)).select(
        F.col("src").alias("v"), F.expr(f"{scale} div n").cast("long").alias("r")
    )
    for _ in range(iterations):
        contrib = (
            directed.join(ranks, directed["src"] == ranks["v"])
            .join(deg, "src")
            .select("dst", F.expr("r div deg").cast("long").alias("c"))
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").cast("long").alias("s"))
        ranks = sums.crossJoin(F.broadcast(n_row)).select(
            F.col("dst").alias("v"),
            (base + F.expr(f"({damping_pct} * s) div 100")).cast("long").alias("r"),
        )
    out = ranks.join(deg, ranks["v"] == deg["src"]).select(
        F.col("v").alias("node"),
        F.col("deg").alias("degree"),
        F.col("r").alias("rank_ppb"),
    )
    return out


def label_propagation(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 2,
) -> DataFrame:
    """Synchronous label propagation (Raghavan, Albert & Kumara 2007,
    "Near linear time algorithm to detect community structures") over an
    undirected edge list, made DETERMINISTIC: every node starts labeled
    with its own id; each round it adopts the label occurring most often
    among its neighbors, ties broken by the SMALLEST label. Async LPA's
    visit-order dependence is exactly what an oracle can't replay, so
    this is the synchronous variant with a total tie order — the update
    is a pure function of the previous round, and an external engine
    unrolls the rounds in plain SQL.

    Output: one row per node with its final ``community`` label and that
    community's member count.

    Scale shape (the PageRank template): distinct edge set symmetrized to
    a directed list and persisted once; each round is ONE vertex-keyed
    equi-join (directed ⋈ labels) + one (dst, label) hash count + one
    dst-keyed argmax — the argmax is a struct-max aggregate
    (max(struct(cnt, -label))), NOT a window, so every round keeps
    map-side partial aggregation and no per-node sort. No driver-side
    data, no broadcast of anything node-sized.
    """
    _e, directed, _deg = _edge_tables(edges, id_a, id_b)
    # localCheckpoint, not persist (r18): the unrolled-round plan
    # references `directed` once per round plus the label init — with a
    # persist the optimizer still plans (and AQE re-optimizes) the full
    # edge-build subtree at every reference, and the profiled cost of
    # this query was ~1 s of planning on a 4 s wall with zero driver
    # gaps elsewhere. Truncating to the materialized blocks won every
    # one of 5 interleaved A/B pairs at sf0.1 (medians 4.25 vs 5.45 s,
    # identical checksums). Same fault-tolerance trade as the CC loop's
    # per-round checkpoints: lineage is gone, so a lost executor fails
    # the job instead of recomputing — on a cluster swap for reliable
    # checkpointing; the table is edge-sized either way.
    directed = directed.localCheckpoint(eager=True)
    labels = directed.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("lab")
    )
    for _ in range(iterations):
        votes = (
            directed.join(labels, directed["src"] == labels["v"])
            .groupBy("dst", "lab")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        # argmax(cnt) with min-label ties: max over (cnt, -lab) structs —
        # lexicographic struct comparison IS the vote order.
        labels = (
            votes.groupBy("dst")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("lab")).alias("nl"))).alias("w"))
            .select(F.col("dst").alias("v"), (-F.col("w.nl")).cast("long").alias("lab"))
        )
    # Final labels feed TWO consumers (the size aggregate and the output
    # join); without a persist both branches re-plan the whole unrolled
    # iteration (r13 diet — the PCA-w2 pattern). Node-sized,
    # MEMORY_AND_DISK, spillable.
    labels = labels.persist()  # release: caller (cache contract, queries/__init__)
    sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).cast("long").alias("community_size"))
    return labels.join(sizes, "lab").select(
        F.col("v").alias("node"),
        F.col("lab").alias("community"),
        "community_size",
    )


def link_prediction(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    top_n: int = 20,
    scale: int = 1_000_000,
) -> DataFrame:
    """Neighborhood-based link prediction over an undirected edge list:
    for every NON-edge pair with at least one common neighbor, the
    common-neighbor count and the Resource Allocation index
    (Zhou, Lü & Zhang 2009, "Predicting missing links via local
    information" — RA = Σ_{z ∈ Γ(x)∩Γ(y)} 1/deg(z), the best-performing
    simple local index in that study). RA is carried as an EXACT
    parts-per-million integer sum (each term one truncating integer
    division — the engine's rational-variant discipline; a float 1/deg
    sum would be accumulation-order-dependent and unreplayable), so an
    external engine reproduces it bit-for-bit.

    Returns the ``top_n`` candidates ranked by (ra_ppm, n_common, lo, hi)
    descending on the scores — a total, deterministic order.

    Plan: distinct canonical edge set → symmetrized directed list +
    degree table (both persisted once) → wedge self-join on the middle
    vertex (each unordered candidate pair emitted once per common
    neighbor via dst<dst ordering) → per-pair hash agg → LEFT ANTI
    equi-join against the canonical edge set (two-key, hash/SMJ — the
    same canonicalization discipline as triangle_stats; no
    BroadcastNestedLoopJoin) → TakeOrdered top_n. The wedge fan-out is
    Σ deg(z)² — the documented hub knob; for hub-skewed graphs cap or
    re-orient as triangle_stats does.
    """
    e, directed, deg = _edge_tables(edges, id_a, id_b)
    e.persist()  # release: caller (cache contract, queries/__init__)
    directed.persist()  # release: caller (cache contract, queries/__init__)
    # r14 tail diet: both wedge sides consume mid — persist or the degree
    # join re-plans per side (the copies diverge under pruning: only the
    # left side keeps deg). release: caller (cache contract). Size note
    # (ADVICE r14): mid is EDGE-scale (2|E| rows), not k-row — at 100x+
    # corpora the default MEMORY_AND_DISK competes with the storage
    # fraction; switch to StorageLevel.DISK_ONLY if executor memory is
    # the binding constraint (one extra disk read per side beats an
    # eviction storm).
    mid = directed.join(deg, "src").persist()
    l, r = mid.alias("l"), mid.alias("r")
    wedges = l.join(
        r, (F.col("l.src") == F.col("r.src")) & (F.col("l.dst") < F.col("r.dst"))
    ).select(
        F.col("l.dst").alias("lo"),
        F.col("r.dst").alias("hi"),
        F.expr(f"{scale} div l.deg").cast("long").alias("ra_term"),
    )
    scored = wedges.groupBy("lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("ra_term").cast("long").alias("ra_ppm"),
    )
    canon = e.select(
        F.least(F.col("a"), F.col("b")).alias("lo"),
        F.greatest(F.col("a"), F.col("b")).alias("hi"),
    )
    candidates = scored.join(canon, ["lo", "hi"], "left_anti")
    return candidates.orderBy(
        F.desc("ra_ppm"), F.desc("n_common"), F.asc("lo"), F.asc("hi")
    ).limit(top_n)


def degree_assortativity(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, "Assortative mixing
    in networks"): the Pearson correlation of endpoint degrees over the
    symmetrized directed edge list — one number telling whether hubs
    attach to hubs (r>0, social-graph-like) or to leaves (r<0,
    hub-and-spoke; dedup/shingle graphs trend here). The single-row
    companion to triangle_stats' closure ratio.

    Determinism: all six sufficient statistics (M, Σdx, Σdy, Σdx²,
    Σdy², Σdx·dy) are exact DECIMAL sums of integer degree products;
    the Pearson formula is then a fixed IEEE chain over those exact
    endpoints (each √ correctly rounded), identical on any engine.
    Degree-regular graphs (zero variance) emit NULL r rather than a
    0/0 — the documented degenerate case.

    Plan: distinct edge set → symmetrized directed list → degree hash
    agg → two vertex-keyed equi-joins pin (dx, dy) onto each directed
    edge → ONE global agg with map-side combine. No windows, no
    broadcast of anything node-sized, 1-row output.
    """
    # persist both derived relations (the integer_pagerank/link_prediction
    # discipline): e feeds the symmetrizing union twice and directed feeds
    # the degree agg AND the (dx, dy) join — with pair-graph inputs each
    # re-read would otherwise recompute the corpus self-join (measured
    # 4.2 s → ~1.4 s at sf0.1 on the dup-graph input).
    e, directed, deg = _edge_tables(edges, id_a, id_b)
    e.persist()  # release: caller (cache contract, queries/__init__)
    directed.persist()  # release: caller (cache contract, queries/__init__)
    # r14 tail diet: deg feeds both endpoint joins — persist or the degree
    # agg over the full directed list runs twice (the renamed copies
    # diverge canonically, so runtime reuse cannot merge them).
    deg.persist()  # release: caller (cache contract)
    dx = deg.select(F.col("src"), F.col("deg").alias("dx"))
    dy = deg.select(F.col("src").alias("dst"), F.col("deg").alias("dy"))
    j = directed.join(dx, "src").join(dy, "dst")
    dec = "decimal(38,0)"
    sums = j.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("dx").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("dy").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("dx") * F.col("dx")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast(dec)).cast("double").alias("syy"),
        F.sum((F.col("dx") * F.col("dy")).cast(dec)).cast("double").alias("sxy"),
    )
    counts = e.select(F.explode(F.array("a", "b")).alias("v")).agg(
        F.count_distinct("v").cast("long").alias("n_nodes"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
    )
    md = F.col("m").cast("double")
    num = md * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = md * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = md * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.when(
        (varx > 0) & (vary > 0),
        F.round(num / (F.sqrt(varx) * F.sqrt(vary)), 6),
    )
    return counts.crossJoin(F.broadcast(sums)).select(
        "n_nodes", "n_edges", r.alias("assortativity")
    )


KCORE_K = 2


def kcore_peel(edges: DataFrame) -> DataFrame:
    """Two deterministic rounds of k-core peeling (k = ``KCORE_K``) over
    DISTINCT ``id_a < id_b`` pairs: drop vertices with degree < k,
    recompute degrees on the induced subgraph, drop again. One
    ``(round, n_nodes, n_edges)`` row per round 0..2 — the standard
    coreness-style density probe as degree aggregates + semi-joins (no
    iteration state on the driver; rounds are unrolled).

    r13 plan diet: the per-round DEGREE table is the only aggregate — it
    yields the stats row directly (n_nodes = its row count; n_edges =
    sum(deg) div 2, exact because every distinct edge contributes exactly
    two endpoint degrees) AND the keep-set for the next peel. The older
    plan built a separate distinct-node shuffle plus a 1-row edge-count
    broadcast join per round (the sweep's last BNLJ allowlist entry).

    r14: degrees come from one ``explode`` of both endpoints, not a union
    of two selects — the union consumed the edges TWICE, and for the last
    (un-persisted) peel the two copies of the induce join diverged under
    pruning and were planned twice. One pass also halves the map-side
    work at any scale. The edge count is an integral ``div``: a float
    ``/`` before the cast would route an exact count through a double.
    """

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.explode(F.array("id_a", "id_b")).alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    def stats(deg: DataFrame, rnd: int) -> DataFrame:
        return deg.agg(
            F.lit(rnd).cast("long").alias("round"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.expr("CAST(coalesce(sum(deg), 0) AS BIGINT) div 2").alias("n_edges"),
        )

    def induce(e: DataFrame, keep: DataFrame) -> DataFrame:
        return (
            e.join(keep.withColumnRenamed("v", "id_a"), "id_a", "left_semi")
            .join(keep.withColumnRenamed("v", "id_b"), "id_b", "left_semi")
            .select("id_a", "id_b")
        )

    e0 = edges.persist()  # release: caller (cache contract, queries/__init__)
    deg0 = degrees(e0).persist()  # release: caller — feeds stats(0) AND keep1
    e1 = induce(e0, deg0.filter(F.col("deg") >= KCORE_K).select("v")).persist()  # release: caller
    deg1 = degrees(e1).persist()  # release: caller — feeds stats(1) AND keep2
    e2 = induce(e1, deg1.filter(F.col("deg") >= KCORE_K).select("v"))
    return stats(deg0, 0).unionByName(stats(deg1, 1)).unionByName(stats(degrees(e2), 2))

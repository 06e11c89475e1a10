"""Graph analytics over the constructed knowledge graph: PageRank
entity salience (uniform / edge-weighted / personalized), HITS
hubs-and-authorities, degree-oriented triangle counting, local
clustering coefficients, and k-core peeling.

A web-scale KG build doesn't stop at materializing nodes/edges — the
canonical downstream questions are "which entities matter" (salience
ranking for retrieval / curation weighting) and "how locally dense is
the link structure" (triangle counts feed clustering coefficients and
spam/anomaly detection on web graphs). The reference exposes the same
need as ranked asset queries over its graph (e.g. the analysis jobs in
``cartography/data/jobs/analysis/*.json`` compute reachability-derived
attributes the clients then sort/filter on); here both are expressed as
pure DataFrame programs so Catalyst/AQE pick the physical plan.

Scale design (both operators):

- **PageRank** is the classic iterated sparse mat-vec: contributions =
  ranks ⋈ edges on src, then ``groupBy(dst).sum`` — a partial
  aggregation, so hot destinations (hub pages / popular entities)
  combine map-side before the shuffle. The out-degree-weighted edge
  list is staged ONCE and ``localCheckpoint``-ed: every iteration
  re-references it, and without truncation the lineage compounds per
  round (same discipline as ``components.py``). Dangling mass (nodes
  with no out-links — an enormous fraction of a real web graph) is
  redistributed uniformly each iteration via a one-row aggregate
  cross-joined into the plan — never ``collect()``-ed to the driver.
- **Triangle counting** uses the degree-ordered orientation (the
  standard distributed-triangle trick, cf. Suri & Vassilvitskii,
  WWW'11 "Counting Triangles and the Curse of the Last Reducer"):
  orient every undirected edge from its lower-(degree, id) endpoint to
  the higher one, and enumerate wedges only at each edge's SMALLER
  endpoint. Wedge fan-out is then bounded by the graph's arboricity
  (~sqrt(m)) instead of the max degree — on a web-ish graph where a
  hub touches 10^7 nodes, the naive wedge join materializes deg² ≈
  10^14 pairs at that one reducer; the oriented join never centers a
  wedge on a hub. All steps are equi-joins + aggregations (AQE can
  further split any residual skew).
- **Convergence loops** (k-core peeling, shortest paths, SCC coloring,
  DAG levels, MIS) all run on the one bounded driver in
  ``fixpoint.py``: the state frame carries a boolean pending column,
  each round's state is ``localCheckpoint``-ed with an Observation that
  counts the pending rows in that same job (no separate emptiness
  probe), and the loop ends when none are pending. Shortest paths, the
  SCC coloring and DAG levels share one frontier relaxation
  (``_relax``; min vs max is their only difference), and the bowtie's
  BFS is ``graphquery.reach_fixpoint``. Result-defining caps
  (``shortest_paths(rounds)``, ``k_core(max_rounds)``) stop quietly;
  every other loop raises ``RuntimeError`` at a safety cap derived
  from its input (initial row count + 1). The fixed-iteration loops
  (PageRank, HITS, label propagation, HyperBall) keep a plain ``for``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from cartography_spark.operators.fixpoint import PENDING, checkpoint, fixpoint
from cartography_spark.operators.graphquery import reach_fixpoint


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 5,
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over directed ``edges(src, dst)``.

    ``nodes`` must carry one ``id`` row per vertex (supersets of the
    edge endpoints are the caller's contract — every src/dst should
    appear). Returns ``(id, pagerank)`` with unrounded double ranks;
    the update rule per iteration is

        r'(v) = (1-d)/N + d * ( Σ_{u→v} r(u)·w(u,v)/W(u) + D/N )

    where ``w`` is 1 for every edge unless ``weight_col`` names a
    positive edge-weight column (``W(u)`` = its out-sum; a node whose
    out-weights sum to 0 is the caller's error — division by zero — and
    a NULL weight silently drops its edge from both the contribution
    and the out-sum, per SQL NULL-skipping aggregation), and
    ``D`` is the total rank mass sitting on dangling nodes (no
    out-edges) — redistributed uniformly, so total mass stays 1 and the
    result matches the standard power-iteration formulation (Page et
    al. 1999) exactly. Fixed ``iterations`` (not a tolerance loop)
    keeps the gate deterministic and the unrolled-SQL oracle twin
    expressible; callers that want convergence detection can observe
    successive deltas the way ``components.py`` does.
    """
    return _pagerank_impl(
        nodes, edges, damping, iterations, weight_col, reset=None
    )


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iterations: int = 5,
    weight_col: str | None = None,
) -> DataFrame:
    """Personalized PageRank: the teleport distribution concentrates on
    ``seeds(id)`` (uniform over the seed set) instead of all nodes, so
    ranks measure salience RELATIVE to the seeds — topic-conditioned
    entity ranking over the KG (e.g. "which entities matter near these
    domains"), the standard seeded-random-walk relevance measure.

    Same update rule with the reset vector p: r'(v) = (1-d)·p(v) +
    d·(Σ contribs + D·p(v)); dangling mass also re-enters through p, so
    total mass stays 1 (test-pinned). Seeds must be a non-empty subset
    of ``nodes`` (unknown seed ids would leak mass — validated with a
    1-row aggregate). Initial rank = p, the standard PPR start.
    """
    return _pagerank_impl(
        nodes, edges, damping, iterations, weight_col, reset=seeds
    )


def _pagerank_impl(
    nodes: DataFrame,
    edges: DataFrame,
    damping: float,
    iterations: int,
    weight_col: str | None,
    reset: DataFrame | None,
) -> DataFrame:
    n_nodes = nodes.count()  # 1-row driver aggregate, by design
    w = (
        F.lit(1.0)
        if weight_col is None
        else F.col(weight_col).cast("double")
    )
    if reset is None:
        # Uniform teleport: p(v) = 1/N as a literal — no join needed.
        p_frame = None
        n_seeds = n_nodes
    else:
        seed_ids = reset.select("id").distinct().localCheckpoint()
        n_seeds = seed_ids.count()
        if n_seeds == 0:
            raise ValueError("personalized_pagerank requires a non-empty seed set")
        n_matched = seed_ids.join(nodes.select("id"), "id", "left_semi").count()
        if n_matched != n_seeds:
            raise ValueError(
                f"{n_seeds - n_matched} seed id(s) are not in the node set"
            )
        # p(v) = 1/|S| on seeds, 0 elsewhere — a broadcast-sized dim.
        p_frame = seed_ids.select(
            "id", F.lit(1.0 / n_seeds).alias("__p")
        ).localCheckpoint()

    # Stage the out-weight-annotated edges once; every iteration joins
    # against this frame, so truncate its lineage up front. With w=1.0
    # the math is bit-identical to the classic r(u)/outdeg(u) form
    # (IEEE multiply by 1.0 is exact), so the unweighted oracle twins
    # are unaffected by the unified code path.
    outdeg = edges.groupBy(F.col("src").alias("id")).agg(F.sum(w).alias("out_w"))
    edges_w = (
        edges.join(outdeg, edges["src"] == outdeg["id"])
        .select(F.col("src"), F.col("dst"), w.alias("w"), F.col("out_w"))
        .localCheckpoint()
    )
    # Dangling detection joins ranks against the distinct src set.
    has_out = edges.select(F.col("src").alias("id")).distinct().localCheckpoint()

    if p_frame is None:
        init = nodes.select("id", F.lit(1.0 / n_nodes).alias("pagerank"))
    else:
        init = nodes.select("id").join(p_frame, "id", "left").select(
            "id", F.coalesce(F.col("__p"), F.lit(0.0)).alias("pagerank")
        )
    ranks = init.localCheckpoint()

    base = (1.0 - damping) / n_seeds  # uniform: /N; personalized: (1-d)/|S| on seeds

    for _ in range(iterations):
        contrib = (
            ranks.join(edges_w, ranks["id"] == edges_w["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("pagerank") * F.col("w") / F.col("out_w")).alias("contrib"))
        )
        # Dangling mass: one-row aggregate cross-joined into the plan
        # (broadcast by size), never collected.
        dang = (
            ranks.join(has_out, "id", "left_anti")
            .agg(F.coalesce(F.sum("pagerank"), F.lit(0.0)).alias("dang_mass"))
        )
        joined = ranks.select("id").join(contrib, "id", "left").crossJoin(
            F.broadcast(dang)
        )
        if p_frame is None:
            # r' = (1-d)/N + d*(contrib + D/N) — the uniform-teleport
            # form, kept expression-identical to the oracle twins.
            new_rank = F.lit(base) + F.lit(damping) * (
                F.coalesce(F.col("contrib"), F.lit(0.0))
                + F.col("dang_mass") / F.lit(float(n_nodes))
            )
        else:
            # r' = (1-d)·p + d·(contrib + D·p): teleport AND dangling
            # mass re-enter through the reset distribution.
            joined = joined.join(F.broadcast(p_frame), "id", "left")
            p = F.coalesce(F.col("__p"), F.lit(0.0))
            new_rank = F.lit(1.0 - damping) * p + F.lit(damping) * (
                F.coalesce(F.col("contrib"), F.lit(0.0))
                + F.col("dang_mass") * p
            )
        ranks = joined.select("id", new_rank.alias("pagerank")).localCheckpoint()
    return ranks


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 5,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over directed
    ``edges(src, dst)``: per iteration, authority(v) = Σ_{u→v} hub(u)
    then L2-normalize, hub(u) = Σ_{u→v} authority(v) then L2-normalize.
    Returns ``(id, hub, authority)`` for every node (0.0 for nodes
    outside the link structure). The complementary ranking to PageRank
    on web graphs: directories/portals score as hubs, canonical
    entities as authorities.

    Same distributed shape as ``pagerank``: each half-step is one
    equi-join + partially-aggregated groupBy; the L2 norm is a one-row
    aggregate cross-joined into the plan (never collected); edges are
    localCheckpoint-ed once and scores once per iteration. Fixed
    ``iterations`` keeps the unrolled-SQL oracle twin expressible.
    """
    e = edges.select("src", "dst").localCheckpoint()
    scores = nodes.select(
        "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
    ).localCheckpoint()

    def _l2_normalize(frame: DataFrame, col: str) -> DataFrame:
        norm = frame.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col))).alias("__n")
        )
        return frame.crossJoin(F.broadcast(norm)).select(
            *[c for c in frame.columns if c != col],
            F.when(F.col("__n") == 0.0, F.lit(0.0))
            .otherwise(F.col(col) / F.col("__n"))
            .alias(col),
        )

    for _ in range(iterations):
        auth = (
            scores.join(e, scores["id"] == e["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("authority"))
        )
        scores = scores.select("id", "hub").join(auth, "id", "left").select(
            "id", "hub", F.coalesce(F.col("authority"), F.lit(0.0)).alias("authority")
        )
        scores = _l2_normalize(scores, "authority")
        hub = (
            scores.join(e, scores["id"] == e["dst"])
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("authority").alias("hub"))
        )
        scores = scores.select("id", "authority").join(hub, "id", "left").select(
            "id", F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"), "authority"
        )
        scores = _l2_normalize(scores, "hub").localCheckpoint()
    return scores.select("id", "hub", "authority")


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    """Distinct undirected edge set as (lo, hi) by id, self-loops
    dropped. Input may contain either or both directions."""
    return (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("lo"),
            F.greatest(F.col("src"), F.col("dst")).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over the undirected graph of
    ``edges(src, dst)``. Returns ``(id, triangles)`` for every node in
    at least one triangle (integer-exact — no floats anywhere).

    Algorithm: degree-ordered orientation. Each undirected edge {a, b}
    becomes a→b iff (deg(a), a) < (deg(b), b) — a total order, so
    every edge is oriented exactly once. Every triangle {a, b, c} with
    a < b < c in that order is then found exactly once as the wedge
    (a→b, a→c) closed by the edge b→c. The wedge enumeration
    ``groupBy``s at ``a`` — by construction the LOWEST-degree corner —
    which is what bounds the blow-up on skewed graphs (see module
    docstring).
    """
    und = _canonical_undirected(edges).localCheckpoint()
    return _triangles_from_und(und)


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node over the undirected graph
    of ``edges(src, dst)``: ``2*T(v) / (deg(v)*(deg(v)-1))``, 0.0 for
    degree-1 nodes. Returns ``(id, deg, triangles, coeff)`` for every
    node incident to at least one edge.

    The canonical density signal on web graphs (spam farms and
    boilerplate link blocks show extreme coefficients; genuine topical
    hubs sit low). Pure composition: one undirected canonicalization
    shared by the degree aggregate and the oriented triangle join —
    both exact-integer, so the only float op is the final division
    (deterministic double given exact ints on both engines).
    """
    und = _canonical_undirected(edges).localCheckpoint()
    tri = _triangles_from_und(und)
    deg = _degrees(und)
    return (
        deg.join(tri, "id", "left")
        .select(
            "id",
            "deg",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(F.col("deg") < 2, F.lit(0.0))
            .otherwise(
                F.lit(2.0)
                * F.coalesce(F.col("triangles"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - F.lit(1)))
            )
            .alias("coeff"),
        )
    )


def k_core(edges: DataFrame, k: int, max_rounds: int | None = None) -> DataFrame:
    """The k-core of the undirected graph of ``edges(src, dst)``:
    repeatedly peel every node of degree < k until none remain (the
    standard distributed formulation). Returns ``(id, deg)`` for
    surviving nodes, ``deg`` their degree INSIDE the core subgraph.

    Dense-subgraph extraction is the graph-side curation gate (spam
    rings and boilerplate co-occurrence blocks live in high cores;
    low-core fringe is the long tail). The loop runs on the
    ``fixpoint`` driver over the edge set: each edge is flagged pending
    when it touches a node of degree < k, and a round drops the flagged
    edges and re-flags the rest (one degree aggregate plus two
    membership joins, checkpointed with the pending count observed in
    the same job). Round count is bounded by the degeneracy ordering
    depth — small on web-ish graphs, O(n) only on pathological paths.
    ``max_rounds`` caps the number of peels and defines the result
    when reached (no error), which is also what makes the unrolled-SQL
    oracle twin expressible (both sides run exactly R rounds, so the
    gate compares bit-for-bit even before convergence). Without it the
    safety cap is the edge count + 1 (every round drops >= 1 edge).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def flag_low(und: DataFrame) -> DataFrame:
        low = _degrees(und).where(F.col("deg") < k)
        lo = low.select(F.col("id").alias("lo"), F.lit(True).alias("__lo_low"))
        hi = low.select(F.col("id").alias("hi"), F.lit(True).alias("__hi_low"))
        return und.join(lo, "lo", "left").join(hi, "hi", "left").select(
            "lo",
            "hi",
            (F.col("__lo_low").isNotNull() | F.col("__hi_low").isNotNull()).alias(PENDING),
        )

    core = fixpoint(
        flag_low(_canonical_undirected(edges)),
        lambda s: flag_low(s.where(~F.col(PENDING)).select("lo", "hi")),
        "k_core",
        cap=max_rounds,
        quiet=max_rounds is not None,
    )
    return _degrees(core)


def shortest_paths(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    weight_col: str | None = None,
) -> DataFrame:
    """Multi-source shortest paths over directed ``edges(src, dst)``
    from ``seeds(id)``: returns ``(id, dist)`` for every node reachable
    within ``rounds`` edges, where ``dist`` is the minimum hop count
    (``weight_col`` is None — LONG) or minimum path cost (``weight_col``
    names a non-negative edge cost — DOUBLE; per-path cost is the
    left-to-right running sum, so equal inputs give bit-equal costs on
    any engine). Seeds must be a subset of ``nodes`` (validated).

    The KG reachability primitive: the reference's exposure analysis
    walks a bounded number of hops from tagged assets
    (``cartography/data/jobs/analysis/*.json``); hop distance from a
    seed set is the quantitative form (how far is each entity from the
    trust boundary / a seed domain).

    Scale shape — frontier Bellman-Ford, not full relaxation (the
    shared ``_relax``): each round joins only the nodes whose distance
    IMPROVED last round against the staged edge list, takes a
    map-side-combined ``min`` per destination, and merges into the
    running distance frame, checkpointed per round with the improved
    count observed in the same job. On web-ish graphs the frontier
    shrinks geometrically after the first hops, so late rounds cost
    ~nothing, while the result after round i is EXACTLY "min cost over
    paths with <= i edges" — the full-relaxation semantics the unrolled
    SQL oracle twin computes — because a node relaxes its out-edges in
    the round after any improvement and never needs to otherwise.
    Stopping on an empty frontier is therefore observationally
    identical to running all ``rounds``; ``rounds`` itself defines the
    result and never raises.
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    seed_ids = seeds.select("id").distinct().localCheckpoint()
    n_seeds = seed_ids.count()
    n_matched = seed_ids.join(nodes.select("id"), "id", "left_semi").count()
    if n_matched != n_seeds:
        raise ValueError(f"{n_seeds - n_matched} seed id(s) are not in the node set")
    if weight_col is None:
        w = F.lit(1).cast("long")
        zero = F.lit(0).cast("long")
    else:
        w = F.col(weight_col).cast("double")
        zero = F.lit(0.0)
    e = edges.select("src", "dst", w.alias("w")).localCheckpoint()
    return _relax(
        seed_ids.select("id", zero.alias("dist")),
        e,
        "dist",
        minimize=True,
        name="shortest_paths",
        cap=rounds,
        quiet=True,
    )


def _relax(
    start: DataFrame,
    edges: DataFrame,
    col: str,
    minimize: bool,
    name: str,
    cap: int | None = None,
    quiet: bool = False,
) -> DataFrame:
    """The frontier relaxation shared by ``shortest_paths``, the SCC
    coloring and ``dag_levels``: values in ``start(id, <col>)`` flow
    along ``edges(src, dst[, w])`` (adding ``w`` when the edge frame
    has it) and every node keeps the min (``minimize``) or max of what
    reaches it; a node enters the state on first reach. Per round only
    the nodes improved last round propagate: one equi-join, one
    map-side-combined min/max per destination, one full-outer merge,
    run on the ``fixpoint`` driver (``cap=None``: the safety cap of
    ``start``'s row count + 1, enough for any acyclic propagation over
    those nodes). Returns ``(id, <col>)``."""
    hop = F.col(col) + F.col("w") if "w" in edges.columns else F.col(col)
    pick, best = (F.min, F.least) if minimize else (F.max, F.greatest)

    def step(state: DataFrame) -> DataFrame:
        front = state.where(F.col(PENDING))
        cand = (
            front.join(edges, front["id"] == edges["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(pick(hop).alias("__cand"))
        )
        better = F.col("__cand") < F.col(col) if minimize else F.col("__cand") > F.col(col)
        return state.join(cand, "id", "full_outer").select(
            "id",
            best(col, "__cand").alias(col),
            # improved = first reach, or a strictly better value.
            (F.col("__cand").isNotNull() & (F.col(col).isNull() | better)).alias(PENDING),
        )

    return fixpoint(start.withColumn(PENDING, F.lit(True)), step, name, cap, quiet)


def label_propagation(
    nodes: DataFrame, edges: DataFrame, iterations: int
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over the undirected graph of ``edges(src, dst)``: every
    node starts in its own community (label = id); each iteration every
    node adopts the most frequent label among its neighbors, ties
    broken by the smallest label — a total order, so the whole run is
    deterministic and the fixed iteration count makes the unrolled SQL
    oracle twin exact even pre-convergence (synchronous LPA may
    oscillate on bipartite structures; determinism, not convergence, is
    the gate's contract). Isolated nodes keep their own label. Returns
    ``(id, label)``.

    Community structure is the KG curation signal the ranking family
    doesn't give: which entities belong together (domain clusters, spam
    rings — the reference's analogous grouping is its per-sync-scope
    subgraph). Per iteration: one equi-join (labels x symmetrized
    edges), one partially-aggregated ``groupBy(id, label)`` count, one
    ``row_number`` pick over (count desc, label asc) — the window
    partitions by node id, so it rides the same hash exchange as the
    count. Lineage truncated per iteration.
    """
    und = _canonical_undirected(edges)
    sym = (
        und.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        .unionAll(und.select(F.col("hi").alias("src"), F.col("lo").alias("dst")))
        .localCheckpoint()
    )
    labels = nodes.select("id", F.col("id").alias("label")).localCheckpoint()
    win = Window.partitionBy("id").orderBy(F.col("c").desc(), F.col("label").asc())
    for _ in range(iterations):
        counts = (
            labels.join(sym, labels["id"] == sym["src"])
            .groupBy(F.col("dst").alias("id"), F.col("label"))
            .agg(F.count("*").alias("c"))
        )
        pick = (
            counts.withColumn("__rn", F.row_number().over(win))
            .where(F.col("__rn") == 1)
            .select("id", F.col("label").alias("__new"))
        )
        labels = (
            labels.join(pick, "id", "left")
            .select("id", F.coalesce(F.col("__new"), F.col("label")).alias("label"))
            .localCheckpoint()
        )
    return labels


def _ball_rounds(edges: DataFrame, max_r: int, p: int):
    """Shared HyperBall register propagation: yields (r, register
    frame) for r = 0..max_r — round 0 seeds each node's ball with
    itself; each later round max-merges every node's registers with its
    out-neighbors' (one equi-join + a partially-aggregated max,
    lineage-truncated). Per-node state stays <= 2^p register rows."""
    from cartography_spark.operators.sketches import hll_registers

    e = edges.select("src", "dst").distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    regs = hll_registers(
        nodes.select("id", F.col("id").alias("__member")), ["id"], "__member", p
    ).localCheckpoint()
    yield 0, regs
    for r in range(1, max_r + 1):
        pulled = (
            e.join(regs, e["dst"] == regs["id"])
            .select(e["src"].alias("id"), "bucket", "rank")
        )
        regs = (
            regs.unionAll(pulled)
            .groupBy("id", "bucket")
            .agg(F.max("rank").alias("rank"))
            .localCheckpoint()
        )
        yield r, regs


def hyperball(
    edges: DataFrame,
    rounds: int,
    p: int = 6,
) -> DataFrame:
    """HyperBall (Boldi & Vigna, 2013): the approximate neighborhood
    function — for every node, an HLL estimate of how many nodes are
    reachable FROM it within ``rounds`` hops over directed
    ``edges(src, dst)`` (the ball includes the node itself). Returns
    ``(id, approx_reach)`` (double, ~1.04/sqrt(2^p) standard error).
    The per-node reach curve is the scalable substitute for exact
    all-pairs BFS — the input to effective-diameter / centrality
    estimates, which are quadratic-or-worse done exactly but one
    sketch-propagation per hop done this way.

    Each node's ball is an HLL register set seeded with its OWN
    md5-derived register; one round max-merges every node's registers
    with its out-neighbors' — set union in sketch space, so after r
    rounds node v holds the sketch of exactly {u : dist(v, u) <= r}.
    Distributed shape per round: one equi-join (edges x registers, on
    the neighbor id) unioned with the carry, then a partially
    aggregated ``groupBy(id, bucket).max(rank)`` — per-node state is
    capped at 2^p register rows no matter the graph (registers ride as
    rows, not a packed binary column, which is what keeps every step
    re-derivable by the unrolled SQL oracle twin; a production variant
    would pack them via Arrow at ~8x density, same plan shape).
    Determinism: registers are pure md5 functions of node ids and the
    fold sums exact powers of two — identical at any parallelism.
    """
    from cartography_spark.operators.sketches import hll_estimate

    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    for _, regs in _ball_rounds(edges, rounds, p):
        pass
    return hll_estimate(regs, ["id"], p).select(
        "id", F.col("approx_distinct").alias("approx_reach")
    )


def neighborhood_function(
    edges: DataFrame,
    max_r: int,
    p: int = 6,
) -> DataFrame:
    """The neighborhood function N(r) — the MEAN approximate ball size
    over all nodes at every radius ``0..max_r`` — from the same
    register propagation as :func:`hyperball`: ``(r, avg_reach)``.
    This curve is what HyperBall exists to compute (Boldi & Vigna use
    it for effective-diameter and centrality estimation); the per-round
    cost is identical to one hyperball round plus a 1-row fold.
    """
    from cartography_spark.operators.sketches import hll_estimate

    if max_r < 0:
        raise ValueError(f"max_r must be >= 0, got {max_r}")

    def _mean(r: int, frame: DataFrame) -> DataFrame:
        return (
            hll_estimate(frame, ["id"], p)
            .agg(F.avg("approx_distinct").alias("avg_reach"))
            .select(F.lit(r).alias("r"), "avg_reach")
        )

    out = None
    for r, regs in _ball_rounds(edges, max_r, p):
        step = _mean(r, regs)
        out = step if out is None else out.unionAll(step)
    return out


def harmonic_centrality(
    edges: DataFrame,
    max_r: int,
    p: int = 6,
) -> DataFrame:
    """Approximate harmonic centrality via HyperBall (Boldi & Vigna's
    headline application): H(v) = Σ_u 1/d(v, u) estimated as
    Σ_{r=1..max_r} (|B(v, r)| - |B(v, r-1)|) / r — each radius's NEW
    nodes contribute at weight 1/r. Returns ``(id, harmonic)``
    (double). The centrality that, unlike closeness, handles
    disconnected web graphs gracefully (unreachable nodes contribute
    0, not infinity).

    Same per-round cost as :func:`hyperball`; the per-node per-round
    estimates are differenced and folded with literal 1/r weights, so
    beyond the shared estimator the only float ops are ``max_r``
    multiply-adds per node.
    """
    from cartography_spark.operators.sketches import hll_estimate

    if max_r < 1:
        raise ValueError(f"max_r must be >= 1, got {max_r}")
    prev_est = None
    total = None
    for r, regs in _ball_rounds(edges, max_r, p):
        if r == 0:
            prev_est = hll_estimate(regs, ["id"], p).select(
                "id", F.col("approx_distinct").alias("__prev")
            )
            continue
        est = hll_estimate(regs, ["id"], p).select(
            "id", F.col("approx_distinct").alias("__cur")
        )
        delta = prev_est.join(est, "id").select(
            "id",
            # divide (not multiply-by-reciprocal): one IEEE rounding,
            # matching the SQL twin's  (cur - prev) / r  exactly.
            ((F.col("__cur") - F.col("__prev")) / F.lit(float(r))).alias("__d"),
        )
        total = (
            delta
            if total is None
            else total.unionAll(delta)
        )
        prev_est = est.select("id", F.col("__cur").alias("__prev"))
    return total.groupBy("id").agg(F.sum("__d").alias("harmonic"))


def effective_diameter(
    edges: DataFrame,
    q: float = 0.9,
    max_r: int = 16,
    p: int = 6,
) -> float:
    """The (approximate) effective diameter: the smallest radius at
    which the neighborhood function reaches ``q`` of its ``max_r``
    plateau, with the standard linear interpolation between the two
    straddling radii (so the answer is a float, e.g. 2.37). Driver-side
    fold over the ``max_r + 1``-row curve — the only collect is
    curve-sized, never graph-sized."""
    if not 0 < q <= 1:
        raise ValueError(f"q must be in (0, 1], got {q}")
    curve = {
        int(r["r"]): float(r["avg_reach"])
        for r in neighborhood_function(edges, max_r, p).collect()
    }
    target = q * curve[max_r]
    prev = curve[0]
    for r in range(max_r + 1):
        cur = curve[r]
        if cur >= target:
            if r == 0 or cur == prev:
                return float(r)
            return (r - 1) + (target - prev) / (cur - prev)
        prev = cur
    return float(max_r)


def _degrees(und: DataFrame) -> DataFrame:
    return (
        und.select(F.col("lo").alias("id"))
        .unionAll(und.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )


def _triangles_from_und(und: DataFrame) -> DataFrame:
    deg = _degrees(und)
    dl = deg.select(F.col("id").alias("lo"), F.col("deg").alias("deg_lo"))
    dh = deg.select(F.col("id").alias("hi"), F.col("deg").alias("deg_hi"))
    oriented = (
        und.join(dl, "lo")
        .join(dh, "hi")
        .select(
            F.when(
                (F.col("deg_lo") < F.col("deg_hi"))
                | ((F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))),
                F.struct(
                    F.col("lo").alias("a"),
                    F.col("hi").alias("b"),
                    F.col("deg_lo").alias("deg_a"),
                    F.col("deg_hi").alias("deg_b"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("hi").alias("a"),
                    F.col("lo").alias("b"),
                    F.col("deg_hi").alias("deg_a"),
                    F.col("deg_lo").alias("deg_b"),
                )
            )
            .alias("e")
        )
        .select("e.a", "e.b", "e.deg_a", "e.deg_b")
        .localCheckpoint()
    )
    # Wedges at the low corner: pairs (b, c) of out-neighbors of a,
    # kept once via the same (deg, id) total order on (b, c).
    e1 = oriented.select("a", F.col("b"), F.col("deg_b"))
    e2 = oriented.select(
        F.col("a"), F.col("b").alias("c"), F.col("deg_b").alias("deg_c")
    )
    wedges = e1.join(e2, "a").where(
        (F.col("deg_b") < F.col("deg_c"))
        | ((F.col("deg_b") == F.col("deg_c")) & (F.col("b") < F.col("c")))
    )
    closed = wedges.join(
        oriented.select(F.col("a").alias("b"), F.col("b").alias("c")),
        ["b", "c"],
        "inner",
    ).select("a", "b", "c")
    corners = (
        closed.select(F.col("a").alias("id"))
        .unionAll(closed.select(F.col("b").alias("id")))
        .unionAll(closed.select(F.col("c").alias("id")))
    )
    return corners.groupBy("id").agg(F.count("*").alias("triangles"))


def strongly_connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Exact SCCs of the directed graph ``edges(src, dst)`` over
    ``nodes(id)``: returns ``(id, scc)`` where ``scc`` is the minimum
    member id of the component — the directed counterpart of
    ``components.py``'s undirected CC, and the precondition for any
    web-bowtie audit (Broder et al., WWW'00: the web's SCC condensation
    is the IN -> CORE -> OUT bowtie).

    Algorithm: iterative forward-backward min-label coloring (the
    Pregel-style SCC of Salihoglu & Widom, VLDB'14, with min-id
    colors). Per outer round, over the still-unassigned subgraph:
    ``f(v)`` = min id reachable from v, ``b(v)`` = min id that reaches
    v (both the shared ``_relax`` min-relaxation, on reversed and
    forward edges; each converges in O(diameter) rounds). ``f(v) ==
    b(v) == c`` proves v and c mutually reachable, so every such v
    joins SCC ``c``; assigned nodes (and their edges) drop out and the
    round repeats. The subgraph minimum always satisfies the test, so
    >= 1 whole SCC retires per round — in practice a web/host graph
    condenses in a few rounds (one giant core + shallow periphery); a
    pathological SCC-chain degrades to O(#SCCs) rounds, the documented
    tradeoff of the coloring scheme. Both loops run on the ``fixpoint``
    driver with the derived safety cap (node count + 1), so no round
    pays a separate emptiness probe. Every step is an equi-join or a
    partial aggregation; nothing is collected.

    Reference analog: the reference's exposure analyses walk directed
    reachability between asset classes (``cartography/data/jobs/
    analysis/*.json``); mutual-reachability classes are the closure of
    that idea over the whole graph.
    """
    ids = nodes.select("id").distinct()
    live = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()

    def peel(state: DataFrame) -> DataFrame:
        nonlocal live
        active = state.where(F.col(PENDING)).select("id")
        live = (
            live.join(active.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(active.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint()
        )
        rev = live.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        start = active.select("id", F.col("id").alias("lbl"))
        fwd = _relax(start, rev, "lbl", minimize=True, name="strongly_connected_components")
        bwd = _relax(start, live, "lbl", minimize=True, name="strongly_connected_components")
        done = (
            fwd.join(bwd.withColumnRenamed("lbl", "blbl"), "id")
            .where(F.col("lbl") == F.col("blbl"))
            .select("id", F.col("lbl").alias("__new"))
        )
        return state.join(done, "id", "left").select(
            "id",
            F.coalesce("scc", "__new").alias("scc"),
            (F.col("scc").isNull() & F.col("__new").isNull()).alias(PENDING),
        )

    start = ids.select(
        "id",
        F.lit(None).cast(ids.schema["id"].dataType).alias("scc"),
        F.lit(True).alias(PENDING),
    )
    return fixpoint(start, peel, "strongly_connected_components")


def bowtie_regions(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Broder bowtie decomposition of the directed graph: returns
    ``(id, region)`` with region in {'CORE', 'IN', 'OUT', 'OTHER'}.
    CORE is the largest SCC (ties broken by smallest scc id — a total
    order, so the split is deterministic); IN reaches the core without
    belonging to it; OUT is reached from the core; OTHER is everything
    else (tendrils, IN->OUT tubes that bypass the core, and
    disconnected islands — IN and OUT are provably disjoint, since a
    node both reaching and reached by the core would be mutually
    reachable with it and hence inside it).

    This is THE structural audit of a crawled web graph (Broder et
    al. measured ~28% CORE / 21% IN / 21% OUT on the 1999 web); on the
    host graph it tells a crawl scheduler which domains feed discovery
    (IN), which are sinks (OUT), and which islands need seeding. Cost:
    one SCC run + a 1-row top-1 aggregate (the only collect) + two
    ``reach_fixpoint`` BFS sweeps from the core (capped at the edge
    count + 1, which no BFS over those edges can exceed) +
    broadcast-able membership joins.
    """
    scc = strongly_connected_components(nodes, edges)
    top = (
        scc.groupBy("scc")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("scc").asc())
        .limit(1)
        .collect()
    )
    if not top:
        return nodes.select("id", F.lit("OTHER").alias("region")).where(F.lit(False))
    core = scc.where(F.col("scc") == F.lit(top[0]["scc"])).select("id")
    e, n_edges, _ = checkpoint(
        edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    # [*1..] reachability: whether the core re-reaches itself does not
    # matter, since CORE is tested first below.
    out_set = reach_fixpoint(core, e, node_col="id", max_iter=n_edges + 1)
    in_set = reach_fixpoint(core, rev, node_col="id", max_iter=n_edges + 1)
    return (
        nodes.select("id")
        .distinct()
        .join(core.withColumn("__core", F.lit(1)), "id", "left")
        .join(in_set.withColumn("__in", F.lit(1)), "id", "left")
        .join(out_set.withColumn("__out", F.lit(1)), "id", "left")
        .select(
            "id",
            F.when(F.col("__core").isNotNull(), F.lit("CORE"))
            .when(F.col("__in").isNotNull(), F.lit("IN"))
            .when(F.col("__out").isNotNull(), F.lit("OUT"))
            .otherwise(F.lit("OTHER"))
            .alias("region"),
        )
    )


def condensation(scc: DataFrame, edges: DataFrame) -> DataFrame:
    """Quotient DAG of the SCC coloring: one edge ``(src_scc,
    dst_scc)`` per pair of distinct components joined by >= 1 original
    edge. ``scc`` is ``strongly_connected_components`` output
    ``(id, scc)``; the result is acyclic by construction (an inter-
    component cycle would merge the components). Two broadcast-able
    membership joins + one distinct — the standard prelude to any
    DAG-only analysis (topological layering, reachability counting)
    over a graph that has cycles."""
    m_src = scc.select(F.col("id").alias("src"), F.col("scc").alias("src_scc"))
    m_dst = scc.select(F.col("id").alias("dst"), F.col("scc").alias("dst_scc"))
    return (
        edges.select("src", "dst")
        .join(m_src, "src")
        .join(m_dst, "dst")
        .where(F.col("src_scc") != F.col("dst_scc"))
        .select(
            F.col("src_scc").alias("src"), F.col("dst_scc").alias("dst")
        )
        .distinct()
    )


def dag_levels(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """``(id, level)``: longest-path depth of each node of a DAG —
    level 0 for sources (no incoming edge), else 1 + max level over
    predecessors. The topological layering of an SCC condensation:
    level k components can only be written after every level < k
    upstream component, so it IS the dependency schedule of a staged
    graph build. The shared ``_relax`` frontier relaxation, maximizing:
    per round one equi-join + a map-side-combined max, only
    last-round-raised nodes re-propagate; rounds = DAG depth.
    Precondition: ``edges`` is acyclic — feed it ``condensation``
    output, which is acyclic by construction. A cycle never converges,
    so it raises ``RuntimeError`` at the safety cap (node count + 1
    rounds; a DAG over n nodes needs at most n).
    """
    return _relax(
        nodes.select("id", F.lit(0).alias("level")),
        edges.select("src", "dst", F.lit(1).alias("w")),
        "level",
        minimize=False,
        name="dag_levels",
    )


def maximal_independent_set(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Deterministic maximal independent set: ``nodes(id, pri)``,
    ``edges(src, dst)`` in either direction (symmetrized, self-loops
    dropped; endpoints must appear in ``nodes``). Returns ``(id,
    kept)`` for every node — kept nodes are pairwise non-adjacent and
    no unkept node could be added.

    Luby-style rounds with FIXED priorities: per round every active
    node whose ``(pri, id)`` is strictly smaller than all active
    neighbors' joins the set; winners' neighbors retire. With fixed
    priorities this computes exactly the GREEDY MIS of the ``(pri,
    id)`` order (the lexicographically-first MIS of that permutation)
    — a well-defined set independent of the round schedule, which is
    what makes it reproducible at any parallelism and checkable
    against a sequential model. The global minimum always wins its
    round, so the loop terminates; with hash priorities rounds are
    O(log n) in expectation (Luby'86 analysis applies to the fixed
    draw per phase).

    The training-data use: near-duplicate RETENTION. Connected-
    component dedup keeps one doc per transitively-closed cluster —
    over-merging under chained similarity; MIS over the pair graph
    keeps a MAXIMAL set of mutually non-duplicate docs, strictly more
    data at the same pairwise-novelty bar. Rounds run on the
    ``fixpoint`` driver over the node frame (pending = not yet decided;
    safety cap node count + 1, as every round decides >= 1 node). Per
    round: one equi-join + a map-side-combined struct-min over the
    active neighbors, one join for the winners' neighbors, and a merge
    into the node frame, checkpointed; nothing data-proportional is
    collected.
    """
    und = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .where(F.col("src") != F.col("dst"))
        )
        .distinct()
        .localCheckpoint()
    )

    def step(state: DataFrame) -> DataFrame:
        active = state.where(F.col(PENDING)).select("id", "pri")
        nbr = (
            und.join(
                active.select(F.col("id").alias("dst"), F.col("pri").alias("dpri")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min(F.struct(F.col("dpri"), F.col("dst"))).alias("mn"))
        )
        win = (
            active.join(nbr, active["id"] == nbr["src"], "left")
            .where(
                F.col("mn").isNull()
                | (F.struct(F.col("pri"), F.col("id")) < F.col("mn"))
            )
            .select("id", F.lit(True).alias("__win"))
        )
        lose = (
            und.join(win.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), F.lit(False).alias("__win"))
            .distinct()
        )
        # A winner's neighbors are active or already retired, never
        # kept, so coalesce only ever decides undecided nodes.
        kept = F.coalesce("kept", "__win")
        return state.join(win.unionAll(lose), "id", "left").select(
            "id", "pri", kept.alias("kept"), kept.isNull().alias(PENDING)
        )

    start = nodes.select(
        "id", "pri", F.lit(None).cast("boolean").alias("kept"), F.lit(True).alias(PENDING)
    )
    return fixpoint(start, step, "maximal_independent_set").select("id", "kept")

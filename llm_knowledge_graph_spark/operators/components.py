"""Connected components over similarity edges — canonicalization (north rule).

Min-label propagation as an iterative DataFrame self-join with a
checkpointed frontier:

    label(v) ← min(label(v), min over neighbors u of label(u))

until a fixpoint. Each iteration shuffles on the node id; `localCheckpoint`
truncates the lineage every round so plan size / stack depth stays constant
(mandatory — ref SURVEY §4.2). Convergence in O(diameter) rounds; alias
clusters have diameter ≤ 2-3. For graphs whose diameter is not bounded
(pathological chains), `connected_components_star` implements the
large-star/small-star rewrite (Kiveris et al., "Connected Components in
MapReduce and Beyond"), converging in O(log² n) rounds (proven; O(log n)
empirically) — it is the default distributed path in `canonical_mapping`.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_iterations: int = 25) -> DataFrame:
    """vertices(id), edges(a, b) → (id, component) with component = min id
    (lexicographic) of the member set. Deterministic and idempotent.
    Raises RuntimeError when `max_iterations` rounds end before a
    fixpoint (the labels would not be canonical)."""
    # undirected: propagate both ways
    sym = (
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    labels = vertices.select("id", F.col("id").alias("component")).localCheckpoint()
    for _ in range(max_iterations):
        msgs = (
            sym.join(labels, sym["src"] == labels["id"])
            .select(F.col("dst").alias("id"), F.col("component"))
            .groupBy("id").agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(msgs, "id", "left")
            .select(
                "id",
                F.least(F.col("component"),
                        F.coalesce(F.col("nbr_min"), F.col("component")))
                .alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("changed"),
            )
        ).localCheckpoint()  # truncate lineage each round
        n_changed = updated.filter(F.col("changed")).count()
        labels = updated.select("id", "component")
        if n_changed == 0:
            return labels
    raise RuntimeError(_not_converged("connected_components", max_iterations))


def _not_converged(fn: str, max_iterations: int) -> str:
    return (f"{fn}: no fixpoint after max_iterations={max_iterations} "
            f"rounds; the component labels would not be canonical — "
            f"raise max_iterations")


def connected_components_star(vertices: DataFrame, edges: DataFrame,
                              max_iterations: int = 50) -> DataFrame:
    """Two-phase star contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): alternate large-star / small-star rewrites of
    the edge list until fixpoint. Converges in O(log² n) rounds (the
    proven Kiveris et al. bound; O(log n) empirically) regardless of graph
    diameter — the scale path for pathological chains where
    min-label propagation needs O(diameter) rounds.

      large-star(u): m = min(Γ(u) ∪ {u}); for v ∈ Γ(u), v > u: edge (v, m)
      small-star(u): m = min(Γ(u) ∪ {u}); for v ∈ Γ(u) ∪ {u} \\ {m},
                     v ≤ u: edge (v, m)

    Each phase is one groupBy-min + one re-join (no collect_list — per-node
    state is a single min, map-side combinable). The edge list is
    `localCheckpoint`ed per round (lineage truncation). At fixpoint the
    edges form stars (child, root); isolated vertices map to themselves.
    Same contract as `connected_components`: (id, component), component =
    min member id. Deterministic and idempotent. Raises RuntimeError when
    `max_iterations` rounds end before a fixpoint.
    """
    cur = (edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
           .filter(F.col("u") != F.col("v")).distinct().localCheckpoint())

    def phase(e: DataFrame, large: bool) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (sym.groupBy("u")
             .agg(F.min("v").alias("_mn"))
             .select("u", F.least(F.col("u"), F.col("_mn")).alias("m")))
        j = sym.join(m, "u")
        if large:
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v"))
        else:
            out = (j.filter(F.col("v") <= F.col("u")).select(
                       F.col("v").alias("u"), F.col("m").alias("v"))
                   .union(j.select("u", F.col("m").alias("v"))))
        return out.filter(F.col("u") != F.col("v")).distinct()

    for _ in range(max_iterations):
        nxt = phase(phase(cur, large=True), large=False).localCheckpoint()
        # fixpoint when the (canonically oriented) edge sets are equal;
        # counts + symmetric difference via exceptAll on the tiny star set
        if nxt.count() == cur.count() and nxt.exceptAll(cur).count() == 0:
            break
        cur = nxt
    else:
        raise RuntimeError(
            _not_converged("connected_components_star", max_iterations))

    # stars: (u=child, v=root); attach isolated vertices as self-components
    roots = cur.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (vertices.join(roots, "id", "left")
            .select("id", F.coalesce("component", "id").alias("component")))


def driver_union_find(edges: list) -> dict:
    """Union-find over (a, b) pairs — the small-graph fast path. The
    similarity graph holds only LINKED DISTINCT NAMES (≪ corpus size), so
    below a size threshold a driver-side pass beats ~10 distributed jobs.
    Returns {id: canonical_id} with canonical = min of member set."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def canonical_mapping(nodes: DataFrame, sim_edges: DataFrame,
                      max_iterations: int = 25,
                      driver_threshold: int = 200_000,
                      algorithm: str = "star") -> DataFrame:
    """sim_edges(a, b, type) → (type, id, canonical_id) for LINKED ids only
    (absent id ⇒ identity; rewrite_canonical coalesces).

    Components per (type, id): the type is folded into the vertex key so
    equal names of different types never merge. Vertices are restricted to
    similarity-edge endpoints — linked distinct names, a tiny set relative
    to the corpus — so canonicalization cost is corpus-size-independent.
    Below `driver_threshold` edges, a driver union-find replaces the
    distributed loop (same result, ~10 fewer Spark jobs); above it, the
    distributed algorithm runs: `algorithm="star"` (default) = two-phase
    star contraction, O(log n) rounds independent of diameter;
    `algorithm="label"` = checkpointed min-label propagation, O(diameter)
    rounds (fine for alias clusters, which have diameter ≤ 2-3).

    The driver path's rows (including the empty mapping when nothing
    links) enter the plan as an Arrow local relation
    (`createDataFrame(pyarrow.Table, schema)` → `LocalTableScan`), so the
    stages that read the mapping — every AQE stage of the rewrite's
    broadcast — never start a Python worker. A list would be a pickled
    `PythonRDD`; a pandas frame takes the Arrow path only when
    `len(data) > 0` and falls back to one when empty, hence `pa.Table`.
    """
    sep = "\x1f"  # unit separator — never appears in normalized ids/types
    spark = sim_edges.sparkSession
    edg = sim_edges.select(
        F.concat_ws(sep, F.col("type"), F.col("a")).alias("a"),
        F.concat_ws(sep, F.col("type"), F.col("b")).alias("b"),
    )

    # limit-probe: ONE job fetches up to threshold+1 edges; if they all fit,
    # that IS the complete edge set and the driver path runs (no separate
    # count() job). Only genuinely huge graphs pay the distributed loop.
    probe = edg.limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        mapping = driver_union_find([(r.a, r.b) for r in probe])
        keys = [k.split(sep, 1) for k in mapping]
        table = pa.table(
            {"type": [t for t, _ in keys], "id": [i for _, i in keys],
             "canonical_id": [v.split(sep, 1)[1] for v in mapping.values()]})
        return spark.createDataFrame(
            table, "type string, id string, canonical_id string")

    verts = (edg.select(F.col("a").alias("id"))
             .union(edg.select(F.col("b").alias("id"))).distinct())
    cc = (connected_components_star if algorithm == "star"
          else connected_components)
    comp = cc(verts, edg, max_iterations)
    split_id = F.split(F.col("id"), sep, 2)
    split_comp = F.split(F.col("component"), sep, 2)
    return comp.select(
        split_id.getItem(0).alias("type"),
        split_id.getItem(1).alias("id"),
        split_comp.getItem(1).alias("canonical_id"),
        # identity rows (canonical targets mapping to themselves) are
        # excluded so BOTH paths share one contract: aliases only
        # ("absent id ⇒ identity"); the driver union-find path never
        # emits roots, and rewrite_canonical re-adds targets itself
    ).filter(F.col("id") != F.col("canonical_id"))


def bfs_distances(edges: DataFrame, seeds: DataFrame,
                  max_depth: int = 4) -> DataFrame:
    """Multi-source BFS shortest-path distances over a DIRECTED edge list
    ``edges(src, dst)`` from ``seeds(id)``, depth-capped at ``max_depth``.

    Classic frontier expansion as iterative DataFrame joins: each level
    joins the frontier to the edge list on ``src`` (one shuffle on the
    node id), LEFT-ANTI-joins the visited set so a vertex is emitted
    only at its MINIMAL distance, and ``localCheckpoint``s the new
    level (constant plan size — the same lineage discipline as
    `connected_components`). Terminates after ``max_depth`` levels or
    when the frontier empties, whichever is first; the per-level
    empty probe is a bounded ``limit(1).count()`` driver action.

    At 100 TB: edges, frontier and visited co-partitioned on the node
    id so the anti-join is shuffle-free after the first level; per-round
    cost is bounded by the frontier size (not the corpus), and the
    visited set is the only structure that grows — exactly the k-hop
    neighborhood, which the depth cap bounds by design.

    Returns (id, dist) — one row per vertex reachable within
    ``max_depth``, including every seed at dist 0.
    """
    visited = (seeds.select("id").distinct()
               .withColumn("dist", F.lit(0)).localCheckpoint())
    frontier = visited.select("id")
    for depth in range(1, max_depth + 1):
        nxt = (frontier.join(edges, frontier["id"] == edges["src"])
               .select(F.col("dst").alias("id")).distinct()
               .join(visited, "id", "left_anti")
               .withColumn("dist", F.lit(depth))
               .localCheckpoint())
        if nxt.limit(1).count() == 0:
            break
        visited = visited.union(nxt).localCheckpoint()
        frontier = nxt.select("id")
    return visited


def pagerank_exact(edges: DataFrame, n_iterations: int = 10,
                   damping_pct: int = 85, scale: int = 10 ** 12) -> DataFrame:
    """Integer-arithmetic PageRank over a directed edge list (src, dst).

    Ranks live in BIGINT "units" (``scale`` units = total mass 1.0) and
    every step is exact integer math — floor division for the damping
    factor and the out-degree split, exact BIGINT sums for the gather —
    so the result is BIT-IDENTICAL across engines, partition counts and
    aggregation orders (no float-sum nondeterminism; the same trick as
    label_centroid_norms' micro-unit sums). Dangling nodes (no
    out-edges) contribute nothing: mass decays instead of being
    redistributed — the standard simplification for graph-analytics
    ranking where only the ORDER of ranks matters.

    Per iteration: one shuffle-on-dst aggregation (map-side combinable)
    + a left join back to the node set; localCheckpoint truncates the
    iterative lineage exactly as in connected_components. At 100 TB the
    rank/edge tables would be co-partitioned on the join key across
    iterations so only the gather shuffles.

    Returns (id, rank_units) — rank_units is the exact integer rank.
    """
    nodes = (edges.select(F.col("src").alias("id"))
             .union(edges.select(F.col("dst")))
             .distinct().localCheckpoint())
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_units", F.lit(0).cast("long"))
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    e = edges.join(outdeg, "src").localCheckpoint()
    base = (scale * (100 - damping_pct) // 100) // n
    ranks = nodes.select("id", F.lit(scale // n).cast("long")
                         .alias("rank_units"))
    for _ in range(n_iterations):
        contrib = (
            e.join(ranks, e["src"] == ranks["id"])
            .select(F.col("dst"),
                    F.expr(f"((rank_units * {damping_pct}) div 100)"
                           " div outdeg").alias("c"))
            .groupBy("dst").agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, nodes["id"] == contrib["dst"], "left")
            .select("id",
                    (F.lit(base) + F.coalesce(F.col("contrib"), F.lit(0)))
                    .cast("long").alias("rank_units"))
        ).localCheckpoint()
    return ranks


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count of the undirected simple graph underlying
    ``edges(a, b)`` — degree-ordered wedge closure (Suri &
    Vassilvitskii, "Counting triangles and the curse of the last
    reducer", WWW'11).

    Edges are canonicalized (least, greatest, dedup, self-loops
    dropped), then ORIENTED from the (degree, id)-smaller endpoint to
    the larger one: every wedge is generated at its lowest-degree apex,
    so the per-key fan-out of the wedge self-join is bounded by
    O(sqrt(m)) even on power-law graphs — the "last reducer" hot key a
    naive apex-join has. Each triangle is counted exactly once (its
    apex orientation is unique).

    Returns one row: (n_nodes, n_edges, n_triangles) — all exact.
    """
    canon = (edges.select(F.least("a", "b").alias("x"),
                          F.greatest("a", "b").alias("y"))
             .filter(F.col("x") != F.col("y"))
             .distinct().localCheckpoint())
    deg = (canon.select(F.col("x").alias("node"))
           .union(canon.select(F.col("y")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    dx = deg.select(F.col("node").alias("x"), F.col("deg").alias("degx"))
    dy = deg.select(F.col("node").alias("y"), F.col("deg").alias("degy"))
    oriented = (
        canon.join(dx, "x").join(dy, "y")
        .select(
            F.when((F.col("degx") < F.col("degy"))
                   | ((F.col("degx") == F.col("degy"))
                      & (F.col("x") < F.col("y"))),
                   F.col("x")).otherwise(F.col("y")).alias("src"),
            F.when((F.col("degx") < F.col("degy"))
                   | ((F.col("degx") == F.col("degy"))
                      & (F.col("x") < F.col("y"))),
                   F.col("y")).otherwise(F.col("x")).alias("dst"))
        .localCheckpoint())
    e1 = oriented.select(F.col("src").alias("apex"), F.col("dst").alias("u"))
    e2 = oriented.select(F.col("src").alias("apex"), F.col("dst").alias("v"))
    wedges = e1.join(e2, "apex").filter(F.col("u") < F.col("v"))
    closing = oriented.select(F.least("src", "dst").alias("u"),
                              F.greatest("src", "dst").alias("v"))
    tri = wedges.join(closing, ["u", "v"]).count()
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(canon.select("x").union(canon.select("y")).distinct().count(),
          canon.count(), tri)],
        "n_nodes bigint, n_edges bigint, n_triangles bigint")


def link_prediction_ra(edges: DataFrame, max_degree: int = 0,
                       scale: int = 10 ** 9) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009) over
    the undirected simple graph underlying ``edges(a, b)``: for every
    non-adjacent pair (x, y) with at least one common neighbor z, score
    RA(x,y) = Σ_z 1/deg(z).

    Cross-engine-EXACT float discipline (same trick as pagerank_exact /
    label_centroid_norms): each 1/deg(z) term is the INTEGER
    ``scale div deg(z)``, summed as BIGINT — bit-identical across
    engines and aggregation orders, no float-sum nondeterminism. The
    companion integer feature n_common (common-neighbor count) rides
    along for free.

    Scale notes: wedge generation is a self-join on the apex z, so
    per-key fan-out is O(deg(z)²) — on power-law crawl graphs the hub
    apexes ARE the curse-of-the-last-reducer key. ``max_degree`` > 0
    drops apexes above the cap BEFORE the self-join (the standard
    hot-shingle/hub guard, same discipline as minhash banding caps);
    the oracle applies the identical cap, so results stay value-exact.
    The adjacency anti-join and the degree join both broadcast-or-
    shuffle on canonical (x, y) / z keys — no cross product anywhere.

    Returns (x, y, n_common, ra_score_units) with x < y.
    """
    canon = (edges.select(F.least("a", "b").alias("x"),
                          F.greatest("a", "b").alias("y"))
             .filter(F.col("x") != F.col("y"))
             .distinct().localCheckpoint())
    und = (canon.select(F.col("x").alias("z"), F.col("y").alias("n"))
           .union(canon.select(F.col("y"), F.col("x"))))
    deg = und.groupBy("z").agg(F.count("*").alias("deg"))
    apex = und.join(deg, "z")
    if max_degree > 0:
        apex = apex.filter(F.col("deg") <= max_degree)
    w1 = apex.select("z", "deg", F.col("n").alias("x"))
    w2 = apex.select(F.col("z").alias("z2"), F.col("n").alias("y"))
    wedges = (w1.join(w2, w1["z"] == w2["z2"])
              .filter(F.col("x") < F.col("y"))
              .select("x", "y", "deg"))
    open_wedges = wedges.join(canon, ["x", "y"], "left_anti")
    return (open_wedges.groupBy("x", "y").agg(
        F.count("*").alias("n_common"),
        F.sum(F.expr(f"{scale} div deg")).alias("ra_score_units"))
    )


def k_core(edges: DataFrame, k: int, rounds: int,
           src: str = "src", dst: str = "dst") -> DataFrame:
    """Bounded-peel k-core decomposition of the undirected simple graph
    underlying a (src, dst) edge list: exactly ``rounds`` peel
    iterations (drop nodes with degree < k, drop edges touching them),
    then report the remaining nodes with their degrees.

    The FIXED iteration count is the pinned engine contract (like
    pagerank_exact's 10 iterations and the BPE 8-merge unroll): an
    unrolled SQL twin replays the identical rounds, and because a peel
    past the fixpoint is a no-op, any bound ≥ the convergence depth
    yields the true k-core while still matching the oracle ROUND FOR
    ROUND when convergence is deeper than the bound.

    Per round: one both-directions projection, one map-side-combinable
    degree aggregate, two (left-)semi joins on the endpoint key;
    localCheckpoint truncates the iterative lineage. At 100 TB the
    degree agg and the semi joins share the node-id partitioning, so
    each peel is one shuffle of the surviving edge set — and the edge
    set only shrinks.

    Returns (id, deg) over the surviving nodes. deg ≥ k is guaranteed
    ONLY when ``rounds`` ≥ the graph's convergence depth (the fixpoint);
    with a smaller bound the result is the partial peel after exactly
    ``rounds`` iterations and may still contain deg < k nodes. Callers
    that assert the true k-core (e.g. word_kcore) must pick ``rounds``
    at or past convergence — a converged run is detectable because one
    more round is a no-op (``min(deg) >= k`` on the returned frame is
    the cheap check).
    """
    cur = (edges.filter(F.col(src) != F.col(dst))
           .select(F.least(src, dst).alias("x"),
                   F.greatest(src, dst).alias("y"))
           .distinct().localCheckpoint())
    for _ in range(rounds):
        und = cur.select(F.col("x").alias("z")).union(
            cur.select(F.col("y")))
        keep = (und.groupBy("z").agg(F.count("*").alias("c"))
                .filter(F.col("c") >= k).select("z"))
        cur = (cur.join(keep, cur["x"] == keep["z"], "left_semi")
               .join(keep, cur["y"] == keep["z"], "left_semi")
               .localCheckpoint())
    und = cur.select(F.col("x").alias("id")).union(
        cur.select(F.col("y")))
    return und.groupBy("id").agg(F.count("*").cast("long").alias("deg"))


def personalized_pagerank_exact(edges: DataFrame, seeds: DataFrame,
                                n_iterations: int = 8,
                                damping_pct: int = 85,
                                scale: int = 10 ** 12) -> DataFrame:
    """Integer-exact PERSONALIZED PageRank: teleport mass returns only
    to the ``seeds`` node set (one column ``id``), so rank measures
    proximity to the seeds — the GraphRAG 'expand relevance around the
    query entities' primitive (the global-teleport variant is
    pagerank_exact above; same arithmetic, same bit-identical
    cross-engine guarantee, same per-iteration shuffle shape).

    Initial mass and the per-iteration (1-d) restart are split evenly
    over the seeds in integer units; non-seed nodes start (and restart)
    at 0, so any node unreachable from the seeds holds rank 0 forever —
    asserted in tests/test_ppr.py. Returns (id, rank_units).
    """
    seed_ids = seeds.select("id").distinct().localCheckpoint()
    # Seeds union-ed in: a seeded node with no edges still holds (and
    # restarts with) its 1/ns teleport share and appears in the output —
    # dropping it would silently destroy restart mass every iteration.
    nodes = (edges.select(F.col("src").alias("id"))
             .union(edges.select(F.col("dst")))
             .union(seed_ids)
             .distinct().localCheckpoint())
    ns = seed_ids.count()
    if ns == 0:
        return nodes.withColumn("rank_units", F.lit(0).cast("long"))
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    e = edges.join(outdeg, "src").localCheckpoint()
    keep = 100 - damping_pct
    seed_base = (scale * keep // 100) // ns
    flagged = (nodes.join(seed_ids.withColumn("__seed", F.lit(1)),
                          "id", "left")
               .select("id", F.coalesce(F.col("__seed"), F.lit(0))
                       .alias("__seed")).localCheckpoint())
    ranks = flagged.select(
        "id", (F.col("__seed") * F.lit(scale // ns)).cast("long")
        .alias("rank_units"))
    for _ in range(n_iterations):
        contrib = (
            e.join(ranks, e["src"] == ranks["id"])
            .select(F.col("dst"),
                    F.expr(f"((rank_units * {damping_pct}) div 100)"
                           " div outdeg").alias("c"))
            .groupBy("dst").agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            flagged.join(contrib, flagged["id"] == contrib["dst"], "left")
            .select("id",
                    (F.col("__seed") * F.lit(seed_base)
                     + F.coalesce(F.col("contrib"), F.lit(0)))
                    .cast("long").alias("rank_units"))
        ).localCheckpoint()
    return ranks


def label_propagation(edges: DataFrame, rounds: int,
                      src: str = "src", dst: str = "dst") -> DataFrame:
    """Deterministic SYNCHRONOUS label propagation community detection
    (Raghavan et al. 2007) over the undirected simple graph underlying
    a (src, dst) edge list: labels start as node ids; each round every
    node adopts the most frequent label among its neighbors, ties
    broken by MINIMUM label (lexicographic) — the determinism rule that
    makes the fixed-round run engine-portable (classic async LPA is
    order-dependent; the synchronous + min-tie variant is a pure
    function of the graph).

    The FIXED iteration count is the pinned engine contract (like
    pagerank_exact's 10 rounds and k_core's bounded peel): an unrolled
    SQL twin replays the identical rounds; synchronous LPA may
    oscillate on bipartite structures, so the bound IS the semantics,
    not an approximation of a fixpoint.

    Per round: one both-directions edge projection joined to the label
    frame (node-id key), one (node, label) count aggregate (map-side
    combinable), one per-node arg-max window. At 100 TB every step
    shares the node-id partitioning; the label frame is node-sized.

    Returns (id, community) — community = the surviving label.
    """
    sym = (edges.filter(F.col(src) != F.col(dst))
           .select(F.col(src).alias("a"), F.col(dst).alias("b")))
    sym = (sym.union(sym.select(F.col("b").alias("a"),
                                F.col("a").alias("b")))
           .distinct().localCheckpoint())
    labels = (sym.select(F.col("a").alias("id")).distinct()
              .withColumn("community", F.col("id")))
    w = Window.partitionBy("id").orderBy(F.desc("c"), "community")
    for _ in range(rounds):
        msgs = (sym.join(labels.withColumnRenamed("id", "a"), "a")
                .select(F.col("b").alias("id"), "community"))
        counted = (msgs.groupBy("id", "community")
                   .agg(F.count("*").alias("c")))
        labels = (counted.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1)
                  .select("id", "community")
                  .localCheckpoint())
    return labels

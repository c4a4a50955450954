"""Graph analytics over the finished KG: PageRank, triangle counting,
degree statistics.

The reference stops at community detection (ref src/pipeline.py builds the
graph, graspologic partitions it); once a KG exists users immediately ask
"which entities matter" (PageRank over the edge table) and "how clustered
is it" (triangles/degrees). These are the standard iterative/join-shaped
graph algorithms expressed as DataFrame plans:

- pagerank: power iteration, WEIGHTED multigraph semantics (parallel edges
  aggregate into integer weights, like GraphX; an explicit weight column is
  honored). Per round: one equi-join of ranks against the weighted edge
  list, one partial-aggregated groupBy sum — two shuffles, both on the
  node key, so a cluster co-partitions them. Dangling mass is
  redistributed uniformly (the standard correction) so ranks stay a
  probability distribution. pagerank and personalized_pagerank share one
  power-iteration body.
- triangle_count: degree-ordered Schank–Wagner (compact-forward): orient
  each undirected edge from its lower-(degree, id) endpoint, collect each
  source's out-neighbor array, and intersect the two endpoint arrays per
  oriented edge (array_intersect; r07 — previously a wedge self-join +
  closing semi-join that materialized Σ outdeg² rows). Out-degrees are
  O(sqrt(m))-bounded, so the shipped intersection volume is Σ outdeg²
  ELEMENTS — the naive ordered three-way self-join (Σ deg²) never
  finished on the bench's co-purchase graph and was replaced before
  shipping (BENCH/PLANS.md round-5 section).
- degree_stats: one partial-aggregated groupBy per direction.
- bfs_distances: multi-source shortest hop distance by frontier expansion
  (the Pregel pattern); per-round work is proportional to the frontier's
  out-edges, not the graph.

Every iterative operator here runs its loop through wbkg/fixpoint.py
(lineage cuts, probes, release, the exhaustion warning).

At 100 TB: ranks/degrees shuffle (node_id, double) pairs only — never
payloads; the triangle join's quadratic term is bounded by the max degree,
so callers cap hub degrees first (same hub-cap primitive as
wbkg/communities.py co-occurrence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from wbkg.canonicalize import propagate_min_label
from wbkg.fixpoint import Fixpoint

# the fixed-count power iterations (pagerank, personalized_pagerank, katz)
# cut their score table every other round
POWER_CUT_EVERY = 2
# the frontier loops (bfs_distances, harmonic_centrality, sssp) cut their
# growing settled table every fourth round
SETTLED_CUT_EVERY = 4


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list -> (node, rank).

    rank_{t+1}(n) = (1-d)/N + d * (dangling_t/N
                                   + sum_{m->n} rank_t(m) * w(m,n)/out_w(m))

    MULTIGRAPH semantics (ADVICE r05): parallel (src, dst) edges aggregate
    into an integer weight and each neighbor receives rank scaled by
    weight/total_out_weight — the convention GraphX and the standard
    weighted PageRank use, so repeated KG edges (a mention extracted twice)
    count twice. Pass `weight` to use an explicit weight column instead
    (rows with the same (src, dst) sum). On a simple graph every weight is
    1 and the result is float-identical to unweighted rank/outdeg.

    personalized_pagerank with every node a seed: the teleport indicator is
    the literal 1.0 over the node table (no seed join, no seed count), and
    the power iteration is the shared _power_iteration body. Fixed
    iteration count (the driver-friendly contract — no per-round
    convergence job). Returns ranks summing to 1."""
    fp = Fixpoint("pagerank")
    e = _weighted_edges(fp, edges, src, dst, weight)
    nodes, n_nodes = fp.count(_nodes(e))
    return _power_iteration(
        fp, e, nodes.withColumn("is_seed", F.lit(1.0)), n_nodes, iterations, damping
    )


def _nodes(e: DataFrame) -> DataFrame:
    """(node): every endpoint of an (src, dst) edge list, once."""
    return (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )


def _weighted_edges(
    fp: Fixpoint, edges: DataFrame, src: str, dst: str, weight: str | None
) -> DataFrame:
    """(src, dst, w): parallel edges summed into one weighted edge. STATIC
    across iterations, so it is cut once and no iteration's lineage
    re-aggregates the raw edge table."""
    w_col = F.col(weight).cast("double") if weight else F.lit(1.0)
    return fp.cut(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w_col.alias("w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )


def _power_iteration(
    fp: Fixpoint,
    e: DataFrame,
    nodes: DataFrame,
    n_teleport: int,
    iterations: int,
    damping: float,
) -> DataFrame:
    """The PageRank power iteration shared by pagerank and
    personalized_pagerank -> (node, rank). `nodes` is (node, is_seed) with
    is_seed the 1.0/0.0 teleport indicator; `n_teleport` counts the
    teleport set. Initial mass 1/n on the teleport set; dangling mass
    restarts there too, so mass is conserved.

    Per round: one join of ranks against the out-degrees and one
    partial-aggregated groupBy sum against the weighted edges — two
    shuffles, both on the node key, so a cluster co-partitions them. The
    rank table is cut LAZILY every POWER_CUT_EVERY rounds (bounded plan,
    no per-round job); the last round's cut is eager, so the whole chain
    runs as one job, and fp.result then releases every intermediate."""
    out_deg = fp.cut(e.groupBy("src").agg(F.sum("w").alias("out_w")))
    ranks = nodes.select("node", "is_seed", (F.col("is_seed") / n_teleport).alias("rank"))
    base = (1.0 - damping) / n_teleport
    for i in range(iterations):
        # cut (lazily) BEFORE the dangling-mass scalar: the scalar's
        # broadcast sub-job then materializes exactly one join from
        # persisted ranks, and the contribs chain reuses the same blocks —
        # without it every round's broadcast re-executed the chain since
        # the last cut
        with_deg = fp.cut(
            ranks.join(out_deg, ranks["node"] == out_deg["src"], "left").select(
                "node", "rank", "out_w"
            )
        )
        # dangling nodes (no out-edges) leak their mass; fold the scalar
        # back in as a one-row broadcast cross join
        dang = with_deg.filter(F.col("out_w").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dang")
        )
        contribs = (
            with_deg.filter(F.col("out_w").isNotNull())
            .join(e, with_deg["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("w") / F.col("out_w")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                "is_seed",
                (
                    F.lit(base) * F.col("is_seed")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("in_sum"), F.lit(0.0))
                        + F.col("dang") / n_teleport * F.col("is_seed")
                    )
                ).alias("rank"),
            )
        )
        last = i == iterations - 1
        if (i + 1) % POWER_CUT_EVERY == 0 or last:
            ranks = fp.cut(ranks, eager=last)
    return fp.result(ranks).select("node", "rank")


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Total triangle count of the UNDIRECTED simple graph induced by the
    edge list -> a 1-row (n_triangles) DataFrame.

    DEGREE-ORDERED counting (Schank–Wagner / compact-forward — the
    formulation that survives dense graphs): orient every undirected edge
    from its lower-(degree, id) endpoint to the higher one, so every
    vertex's out-degree is O(sqrt(m))-bounded, then count per oriented
    edge (u, v) the size of N+(u) ∩ N+(v) — each triangle's three
    vertices appear in (degree, id) order, so it is counted exactly once,
    at its (source, middle) edge.

    The intersection runs over COLLECTED out-neighbor arrays
    (array_intersect in whole-stage codegen), not a wedge self-join: the
    r06 shape materialized Σ outdeg² wedge ROWS and shuffled them again
    for the closing semi-join; here the only heavy exchange ships each
    edge's source adjacency array once (Σ outdeg² array ELEMENTS, no
    per-wedge row overhead, no second wedge-sized shuffle)."""
    _, pairs = _degree_ordered(_canonical_edges(edges, src, dst))
    return pairs.select(F.size(F.array_intersect("nb", "nb_v")).alias("t")).agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n_triangles")
    )


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(a, b) with a < b: the undirected simple graph, self-loops dropped."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _degree_ordered(und: DataFrame):
    """Schank–Wagner orientation of canonical (a, b) edges -> (deg, pairs):
    node degrees (node, deg), and per edge oriented from its lower-(degree,
    id) endpoint u to v, the row (v, u, nb, nb_v) carrying both endpoints'
    COLLECTED out-neighbor arrays. Out-degrees are O(sqrt(m))-bounded, and
    N+(u) ∩ N+(v) holds each triangle through (u, v) exactly once."""
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ann = und.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ann.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    adj = oriented.groupBy("u").agg(F.collect_list("v").alias("nb"))
    pairs = oriented.join(adj, "u").join(
        adj.select(F.col("u").alias("v"), F.col("nb").alias("nb_v")), "v"
    )
    return deg, pairs


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 20,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """Multi-source BFS hop distance -> (node, dist): for every node
    reachable from the source set within `max_hops`, the hop count to the
    NEAREST source (sources themselves at dist 0). Unreachable nodes are
    absent — callers outer-join if they want nulls. `sources` is a
    1-column (node) DataFrame; `directed=False` expands along reversed
    edges too. The frontier expansion is _expand_frontier's, keyed on the
    node alone."""
    fp = Fixpoint("bfs_distances")
    start = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("dist"))
    )
    e = _hop_edges(fp, edges, src, dst, directed)
    return fp.result(_expand_frontier(fp, e, start, ["node"], max_hops))


def _hop_edges(
    fp: Fixpoint, edges: DataFrame, src: str, dst: str, directed: bool
) -> DataFrame:
    """Distinct (src, dst) hops; undirected adds the reversed edges and cuts
    the symmetrized table once."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    if directed:
        return e
    return fp.cut(_symmetric(e))


def _loop_free(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src") != F.col("dst")
    )


def _symmetric(e: DataFrame) -> DataFrame:
    """(src, dst) edges in both directions, once each."""
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _expand_frontier(
    fp: Fixpoint, e: DataFrame, start: DataFrame, key: list, max_hops: int
) -> DataFrame:
    """Labeled BFS (the Pregel pattern as DataFrame ops) -> the settled
    rows (*key, dist). `start` holds the dist-0 rows; `key` names a settled
    row — ["node"] for nearest-source BFS, ["seed", "node"] to keep each
    seed's distances apart — and ends with "node".

    Each round joins only the FRONTIER — rows first settled last round —
    against the edge list and anti-joins the settled set on the key, so
    per-round shuffle volume is O(frontier out-edges), never O(V): on a
    100-TB graph the early rounds touch a sliver of the edge table and
    Catalyst broadcasts the frontier while it is small. The frontier's
    emptiness is the per-round probe (fp.count: one job that also
    materializes its cut); the growing settled table is cut every
    SETTLED_CUT_EVERY rounds to keep lineage flat."""
    settled = fp.cut(start)
    frontier = settled
    for hop in range(1, max_hops + 1):
        nxt, n = fp.count(
            frontier.join(e, frontier["node"] == e["src"])
            .select(*key[:-1], F.col("dst").alias("node"))
            .distinct()
            .join(settled, key, "left_anti")
            .select(*key, F.lit(hop).alias("dist"))
        )
        if n == 0:
            break
        settled = settled.unionByName(nxt)
        if hop % SETTLED_CUT_EVERY == 0:
            settled = fp.cut(settled)
        frontier = nxt
    return settled


def degree_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node (out_deg, in_deg, degree) over the distinct directed edge
    list — one partial-aggregated shuffle per direction plus the outer-join
    merge."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    out_d = e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("out_deg"))
    in_d = e.groupBy(F.col("dst").alias("node")).agg(F.count("*").alias("in_deg"))
    return (
        out_d.join(in_d, "node", "full")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
        .withColumn("degree", F.col("out_deg") + F.col("in_deg"))
    )


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_center_degree: int | None = None,
) -> DataFrame:
    """Out-neighborhood Jaccard similarity between source nodes ->
    (u, v, common, jaccard) for u < v pairs sharing >= min_common
    out-neighbors — item-item similarity when edges are a bipartite
    incidence (part -> order: "bought together" strength), structural
    role similarity on a plain digraph.

    Plan: wedge enumeration through the shared neighbor (the center),
    exactly the Schank-Wagner shape triangle_count uses: the distinct
    adjacency self-joins on dst with u < v, one partial-agg groupBy
    counts common neighbors, then two degree joins close the Jaccard
    |A intersect B| / (|A| + |B| - |A intersect B|). Wedge volume is
    Sigma deg(center)^2 — `max_center_degree` drops hot CENTERS from
    candidate generation only (degrees stay true corpus degrees), the
    same bounded-hot-key cap as the dedup bands: a center seen by
    everything (a stop-word of the graph) contributes |deg|^2 pairs and
    near-zero Jaccard signal. Counts are integers; the single division
    is one IEEE op, bit-identical in any engine."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    deg = e.groupBy(F.col("src").alias("u")).agg(F.count("*").alias("deg"))
    adj = e
    if max_center_degree is not None:
        hot = (
            e.groupBy("dst")
            .agg(F.count("*").alias("_cdeg"))
            .filter(F.col("_cdeg") > max_center_degree)
            .select("dst")
        )
        adj = e.join(hot, "dst", "left_anti")
    # wedge pairs generated MAP-SIDE from each center's sorted adjacency
    # array (posexplode + slice) instead of the r06 adjacency self-join:
    # same Σ deg(center)² pair population, but no sort-merge join and the
    # (u, v) fold is partial-aggregated before its one shuffle
    grouped = (
        adj.groupBy("dst")
        .agg(F.sort_array(F.collect_list("src")).alias("_ns"))
        .filter(F.size("_ns") >= 2)  # single-source centers pair nothing
    )
    lhs = grouped.select("_ns", F.posexplode("_ns").alias("_i", "u"))
    common = (
        lhs.select(
            "u",
            F.explode(F.slice("_ns", F.col("_i") + 2, F.size("_ns"))).alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v"))
    return (
        common.join(deg, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            F.round(
                F.col("common")
                / (F.col("deg") + F.col("deg_v") - F.col("common")).cast("double"),
                8,
            ).alias("jaccard"),
        )
    )


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    max_iters: int = 30,
) -> DataFrame:
    """Multi-source single-source-shortest-path (weighted BFS
    generalization) -> (node, dist): minimum total edge weight from the
    nearest source, sources at 0.0. Non-negative weights assumed (the
    Bellman-Ford frontier below is still CORRECT for negative weights
    without negative cycles, but the iteration bound then matters).

    Frontier relaxation, the Pregel pattern bfs_distances uses, plus the
    min-compare: each round joins only the nodes whose distance IMPROVED
    last round against the edge list, offers dist+w to their neighbors,
    and keeps offers strictly below the incumbent. Per-round shuffle
    volume is O(frontier out-edges) + one partial-agg min per touched
    node — never O(V). Terminates when no node improves (the emptiness
    probe on the frontier); exhausting max_iters first warns
    that the distances may not be final."""
    fp = Fixpoint("sssp")
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("double").alias("w"),
    )
    dist = fp.cut(
        sources.select(F.col(sources.columns[0]).alias("node"), F.lit(0.0).alias("dist"))
    )
    frontier = dist
    for it in fp.rounds(max_iters):
        offers = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("cand"))
            .groupBy("node")
            .agg(F.min("cand").alias("cand"))
        )
        improved, n = fp.count(
            offers.join(dist, "node", "left")
            .filter(F.col("dist").isNull() | (F.col("cand") < F.col("dist")))
            .select("node", F.col("cand").alias("dist"))
        )
        if n == 0:
            break
        dist = (
            dist.unionByName(improved)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        if it % SETTLED_CUT_EVERY == SETTLED_CUT_EVERY - 1:
            dist = fp.cut(dist)
        frontier = improved
    return fp.result(dist)


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 100,
) -> DataFrame:
    """k-core -> (node, degree): the maximal subgraph in which every node
    has degree >= k, with each surviving node's degree INSIDE the core.
    The standard corpus/graph-cleaning primitive (drop the sparse fringe
    before community detection or embedding training); the reference's
    community stage (ref src/pipeline.py -> graspologic) benefits from
    exactly this pre-filter on real KGs.

    Undirected simple-graph semantics: the edge list is symmetrized and
    deduped, self-loops dropped, so degree = distinct-neighbor count.

    Plan: INCREMENTAL peel (the textbook delta formulation). The
    symmetrized edge list is cut ONCE and never rewritten; the loop
    maintains only the node-sized degree table. Per round: nodes under k
    drop; each dropped node decrements its still-alive neighbors by one
    partial-agg count over the static edge list semi-joined against the
    (small, AQE-broadcast) drop set. deg_{t+1}(v) = deg_t(v) -
    |N(v) ∩ drop_t| is exactly the degree of v in the peeled subgraph, so
    the round-by-round state — and the fixpoint — is identical to the r06
    re-materialize-the-edges peel, which rebuilt and re-persisted the full
    edge list every round. Each round is ONE job (the emptiness probe
    that cuts the drop set also materializes the lazily-cut degree table). Peel depth
    is the graph's degeneracy-ordering depth, not O(V) — tens of rounds on
    power-law graphs regardless of scale; exhausting max_iters warns that
    the core may still hold nodes under k."""
    fp = Fixpoint("k_core")
    e = fp.cut(_symmetric(_loop_free(edges, src, dst)))
    deg = fp.cut(e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("_deg")))
    for _ in fp.rounds(max_iters):
        drop, n = fp.count(deg.filter(F.col("_deg") < k).select("node"))
        if n == 0:
            break
        dec = (
            e.join(drop.withColumnRenamed("node", "src"), "src", "left_semi")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.count("*").alias("_dec"))
        )
        deg = fp.cut(
            deg.join(drop, "node", "left_anti")
            .join(dec, "node", "left")
            .select(
                "node",
                (F.col("_deg") - F.coalesce("_dec", F.lit(0))).alias("_deg"),
            )
        )
    return fp.result(deg.select("node", F.col("_deg").cast("int").alias("degree")))


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    community: str = "community",
) -> DataFrame:
    """Newman modularity Q of a node partition -> one row (n_communities,
    intra_edges, total_edges, modularity): the quality score for the
    community stage's output (the reference's graspologic partition has
    exactly this figure of merit; wbkg/communities.py label propagation
    needs it to be auditable rather than taken on faith).

    Undirected simple-graph semantics (symmetrize + dedup, self-loops
    dropped). Q = sum_c [ e_c/m - (d_c/(2m))^2 ] with e_c the intra-
    community edge count, d_c the total degree of community c, m the
    undirected edge count.

    Plan: two broadcast-or-hash joins tag each directed half-edge with
    its endpoint communities (node -> community is the small side — the
    community map is vocabulary-sized, Catalyst broadcasts it), then ONE
    partial-agg groupBy per community folds e_c and d_c, and a one-row
    final aggregate closes Q. Integer counts throughout; the divisions
    are the only floating ops (round 8, the shared ulp convention).
    Nodes absent from the community map form singleton communities of
    their own (labelled by the node id) — standard convention, keeps Q
    well-defined on partial partitions."""
    und = _symmetric(_loop_free(edges, src, dst))
    cmap = communities.select(
        F.col(node).alias("_n"), F.col(community).cast("string").alias("_c")
    )
    tagged = (
        und.join(cmap.withColumnRenamed("_n", "src"), "src", "left")
        .withColumnRenamed("_c", "c_src")
        .join(
            cmap.select(F.col("_n").alias("dst"), F.col("_c").alias("c_dst")),
            "dst",
            "left",
        )
        .select(
            F.coalesce("c_src", F.concat(F.lit("_singleton:"), F.col("src"))).alias("c_src"),
            F.coalesce("c_dst", F.concat(F.lit("_singleton:"), F.col("dst"))).alias("c_dst"),
        )
    )
    per_c = tagged.groupBy(F.col("c_src").alias("c")).agg(
        F.count("*").alias("d_c"),
        F.sum(F.when(F.col("c_src") == F.col("c_dst"), 1).otherwise(0)).alias(
            "intra_half"
        ),
    )
    # one-row broadcast of 2m (the crossJoin(broadcast(1-row agg)) scalar
    # fold — shows as BroadcastNestedLoopJoin in explain, intended)
    tot = per_c.agg(F.sum("d_c").alias("_two_m"))
    frac = F.col("d_c") / F.col("_two_m")
    return (
        per_c.crossJoin(F.broadcast(tot))
        .agg(
            F.count("*").cast("int").alias("n_communities"),
            (F.sum("intra_half") / 2).cast("bigint").alias("intra_edges"),
            (F.min("_two_m") / 2).cast("bigint").alias("total_edges"),
            F.round(
                F.sum(F.col("intra_half") / F.col("_two_m") - frac * frac),
                8,
            ).alias("modularity"),
        )
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 2,
    max_center_degree: int | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Missing-link candidates -> (u, v, common, adamic_adar): node pairs
    NOT currently connected, scored by shared-neighbor evidence — the
    classic link-prediction primitives (common-neighbor count and
    Adamic-Adar, which discounts each shared neighbor by 1/ln(degree) so
    promiscuous hubs vouch for less). On the KG this proposes edges the
    extraction stage missed; on a co-purchase graph it is "customers also
    bought".

    Undirected simple-graph semantics (symmetrize + dedup, self-loops
    dropped). Plan: the same Schank-Wagner wedge enumeration as
    neighbor_jaccard — adjacency self-join through the shared CENTER with
    u < v, partial-agg fold of count and sum(1/ln(center_degree)) in ONE
    groupBy — then one LEFT ANTI join against the (undirected) edge list
    removes already-connected pairs. `max_center_degree` caps wedge
    volume at hubs exactly like neighbor_jaccard (candidate generation
    only; degrees in the score stay true). Scores: integer count + a sum
    of 1/ln(integer) terms, rounded to 8 (the shared ulp convention);
    top_k (if set) cuts on the total order (adamic_adar DESC, common
    DESC, u, v) so the LIMIT is engine-independent."""
    und = _symmetric(_loop_free(edges, src, dst))
    deg = und.groupBy(F.col("src").alias("center")).agg(
        F.count("*").alias("cdeg")
    )
    adj = und.select(F.col("dst").alias("center"), F.col("src").alias("node"))
    if max_center_degree is not None:
        adj = adj.join(
            deg.filter(F.col("cdeg") > max_center_degree).select("center"),
            "center",
            "left_anti",
        )
    # wedge pairs generated MAP-SIDE from each center's sorted adjacency
    # array (posexplode + slice — same rewrite as neighbor_jaccard): the
    # r06 adjacency self-join materialized Σ deg² wedge rows through a
    # sort-merge join; here the pairs stream out of two Generate operators
    # with the per-center 1/ln(cdeg) weight attached, and the (u, v) fold
    # is partial-aggregated before its one shuffle
    grouped = (
        adj.groupBy("center")
        .agg(F.sort_array(F.collect_list("node")).alias("_ns"))
        # single-neighbor centers generate no pairs; dropping them first
        # also keeps 1/ln(cdeg) well-defined (cdeg >= |_ns| >= 2)
        .filter(F.size("_ns") >= 2)
        .join(deg, "center")
        .select("_ns", (1.0 / F.log(F.col("cdeg"))).alias("_w"))
    )
    lhs = grouped.select("_ns", "_w", F.posexplode("_ns").alias("_i", "u"))
    scored = (
        lhs.select(
            "u",
            "_w",
            F.explode(F.slice("_ns", F.col("_i") + 2, F.size("_ns"))).alias("v"),
        )
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("common"),
            F.round(F.sum("_w"), 8).alias("adamic_adar"),
        )
        .filter(F.col("common") >= min_common)
    )
    existing = und.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    out = scored.join(existing, ["u", "v"], "left_anti")
    if top_k is not None:
        out = out.orderBy(
            F.desc("adamic_adar"), F.desc("common"), "u", "v"
        ).limit(top_k)
    return out


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """k-truss -> (a, b, support): the maximal subgraph in which every
    edge participates in >= k-2 triangles (within the truss), with each
    surviving edge's final support. Strictly stronger cohesion than the
    k-core (every k-truss edge lies in a (k-1)-core) — the community-core
    extractor that ignores barely-attached spokes a degree threshold
    keeps.

    Undirected simple-graph semantics: canonical (a < b) edges, deduped,
    self-loops dropped.

    Iterative support peel. Each round counts per-edge triangle support
    with the SAME degree-ordered orientation triangle_count uses, via
    adjacency-array intersection (orient by (degree, id), collect
    out-neighbor arrays, explode N+(u) ∩ N+(v) per oriented edge — each
    triangle materializes ONCE, never Σ outdeg² wedge rows), then credit
    all three canonical edges of each triangle (one explode of a
    3-element array) and fold support in one partial-agg groupBy. Edges
    under k-2 drop; repeat until the edge count is stable. The observed
    count of the surviving edges is the one probe job per round; the
    supports are cut in the same job, so the final join reads them instead of recounting
    triangles. Peel depth is bounded by the triangle-density profile, not
    V — same argument as k_core. If the loop exhausts max_iters without
    converging it warns, and support is recomputed on the FINAL edge set
    so reported supports never count triangles through removed edges."""

    def _support(cur: DataFrame) -> DataFrame:
        _, pairs = _degree_ordered(cur)
        tris = pairs.select(
            "u", "v", F.explode(F.array_intersect("nb", "nb_v")).alias("w")
        )
        credit = tris.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
                    ),
                    F.struct(
                        F.least("u", "w").alias("a"), F.greatest("u", "w").alias("b")
                    ),
                    F.struct(
                        F.least("v", "w").alias("a"), F.greatest("v", "w").alias("b")
                    ),
                )
            ).alias("e")
        ).select("e.a", "e.b")
        return credit.groupBy("a", "b").agg(
            F.count("*").cast("int").alias("support")
        )

    fp = Fixpoint("k_truss")
    cur, n_edges = fp.count(_canonical_edges(edges, src, dst))
    for _ in fp.rounds(max_iters):
        support = fp.cut(_support(cur))
        nxt, n_next = fp.count(
            cur.join(
                support.filter(F.col("support") >= k - 2).select("a", "b"),
                ["a", "b"],
                "left_semi",
            )
        )
        if n_next == n_edges:
            break
        cur, n_edges = nxt, n_next
    else:
        # supports from the last in-loop round could count triangles
        # through edges no longer present — recompute on the final edge set
        support = _support(cur)
    return fp.result(
        cur.join(support, ["a", "b"], "left").select(
            "a", "b", F.coalesce("support", F.lit(0)).cast("int").alias("support")
        )
    )


def hits(
    edges: DataFrame,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg) -> (node, authority, hub),
    L2-normalized each half-step, both rounded to 8 — the OTHER classic
    link-analysis scorer next to pagerank: an authority is pointed at by
    good hubs, a hub points at good authorities (on a KG: widely-cited
    entities vs survey-ish documents).

    Simple-digraph semantics (edges deduped). Per iteration: one
    edge-keyed join + partial-agg sum per direction (the pagerank shuffle
    shape, twice) and a one-row broadcast L2 norm (the crossJoin(
    broadcast(1-row agg)) scalar fold — BroadcastNestedLoopJoin in
    explain, intended). Zero-score nodes (no in-/out-edges) contribute
    nothing to the sums OR the norms, so the loop carries only the
    NONZERO rows and the all-node zero-fill happens once at the end —
    that drops two outer joins per iteration from the r06 shape.
    Cuts are lazy (plan truncated, no per-round job); fp.result runs the
    whole chain once and releases the intermediates. The norm's sum
    order is engine/partition dependent — the shared round-8 convention
    absorbs it (ulp-scale per round, linear growth across rounds)."""
    fp = Fixpoint("hits")
    e = fp.cut(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct())
    nodes = fp.cut(_nodes(e))
    if iterations <= 0:
        return fp.result(
            nodes.select("node", F.lit(1.0).alias("authority"), F.lit(1.0).alias("hub"))
        )
    # hub scores start at 1.0 on every node; only rows that stay nonzero
    # matter inside the loop (see docstring)
    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    for i in range(iterations):
        # the RAW half-step sums are cut (lazily) BEFORE the norm scalar:
        # the norm's broadcast sub-job then materializes exactly one
        # join+agg from persisted input, and the normalized scores are a
        # map-side projection over the same persisted blocks — without
        # this, every norm broadcast re-executed the whole chain since the
        # last cut (quadratic within the window; profiled as ~10s of
        # scheduler-and-recompute on a 25-node fixture)
        raw_a = fp.cut(
            hub.join(e, hub["node"] == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("ra"))
        )
        norm_a = raw_a.agg(F.sqrt(F.sum(F.col("ra") * F.col("ra"))).alias("_n"))
        auth = raw_a.crossJoin(F.broadcast(norm_a)).select(
            "node",
            F.when(F.col("_n") > 0, F.col("ra") / F.col("_n"))
            .otherwise(F.lit(0.0))
            .alias("authority"),
        )
        raw_h = fp.cut(
            auth.join(e, auth["node"] == e["dst"])
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("rh"))
        )
        norm_h = raw_h.agg(F.sqrt(F.sum(F.col("rh") * F.col("rh"))).alias("_n"))
        hub = raw_h.crossJoin(F.broadcast(norm_h)).select(
            "node",
            F.when(F.col("_n") > 0, F.col("rh") / F.col("_n"))
            .otherwise(F.lit(0.0))
            .alias("hub"),
        )
    return fp.result(
        nodes.join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.round(F.coalesce("authority", F.lit(0.0)), 8).alias("authority"),
            F.round(F.coalesce("hub", F.lit(0.0)), 8).alias("hub"),
        )
    )


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_node: int = 2,
    src: str = "src",
    dst: str = "dst",
    salt: str = "rw",
) -> DataFrame:
    """Deterministic random-walk corpus -> (walk_id, step, node): the walk
    generation step of DeepWalk/node2vec-style graph-embedding pipelines
    (walks become "sentences" for a skip-gram trainer). `walks_per_node`
    walks start at every node with out-edges; each advances `walk_len`
    steps, stopping early at dead ends.

    There is NO RNG: step t of walk w picks out-edge number
    md5(walk_id:t) % outdeg, so re-runs, re-partitions and any engine
    with md5 reproduce the identical corpus (the same no-RNG contract as
    every sampler here). Neighbor slots are row_number over (src ORDER BY
    dst) — a deterministic total order.

    Plan: the slotted neighbor table and out-degrees build once (one
    window + one partial agg on src, co-partitioned) and are cut;
    each step is an equi-join of the live frontier on (node, slot) —
    the slot is computed BEFORE the join so there is no outdeg fan-out —
    shuffle volume O(live walks), never O(E). Skew bound: walks are keyed
    by (start, idx) so hot nodes spread across walk ids; the neighbor
    join key is the current node — AQE skew-split is the second line on
    power-law graphs."""
    from pyspark.sql import Window

    if walk_len < 1 or walks_per_node < 1:
        # sequence(0, walks_per_node-1) would COUNT DOWN for 0 (Spark's
        # default step is -1 when start > stop) — reject instead
        raise ValueError("walk_len and walks_per_node must be >= 1")
    fp = Fixpoint("random_walks")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    w = Window.partitionBy("src").orderBy("dst")
    nbr = fp.cut(
        e.withColumn("rn", (F.row_number().over(w) - 1).cast("long"))
        .withColumn("outdeg", F.count("*").over(Window.partitionBy("src")))
    )
    starts = (
        nbr.select("src")
        .distinct()
        .select(
            F.col("src").alias("node"),
            F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("i"),
        )
        .select(
            F.concat(F.col("node"), F.lit("#"), F.col("i").cast("string")).alias(
                "walk_id"
            ),
            F.lit(0).alias("step"),
            F.col("node"),
        )
    )
    deg = fp.cut(nbr.select(F.col("src").alias("node"), "outdeg").distinct())
    slots = fp.cut(
        nbr.select(F.col("src").alias("_s"), F.col("rn").alias("_rn"), F.col("dst").alias("_d"))
    )
    out = starts
    frontier = fp.cut(starts)
    for t in range(1, walk_len + 1):
        stepped = frontier.join(deg, "node").select(
            "walk_id",
            "node",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("walk_id"), F.lit(f":{salt}:{t}"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("outdeg")
            ).alias("slot"),
        )
        nxt, n = fp.count(
            stepped.join(
                slots,
                (stepped["node"] == slots["_s"]) & (stepped["slot"] == slots["_rn"]),
            ).select(
                "walk_id",
                F.lit(t).alias("step"),
                F.col("_d").alias("node"),
            )
        )
        if n == 0:
            break
        out = out.unionByName(nxt)
        frontier = nxt
    return fp.result(out)


def harmonic_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Seed-set harmonic closeness -> (node, n_reaching, harmonic):
    for every node reached from the seed set, harmonic(v) =
    sum over seeds s != v of 1/d(s, v), within `max_hops` — the standard
    sampled-centrality estimator (exact all-pairs closeness is O(V*E);
    production practice is a seed sample, which this IS).

    Per-seed labeled BFS: the frontier carries (seed, node) pairs so each
    seed's distances stay separate (bfs_distances collapses to the
    nearest seed; this op cannot): _expand_frontier keyed on (seed, node).
    State is O(|seeds| * V) — the caller controls |seeds|, that is the
    sampling knob. The 1/d fold is one partial-agg sum per node (round 8
    absorbs sum-order ulps, the shared convention)."""
    fp = Fixpoint("harmonic_centrality")
    start = (
        sources.select(F.col(sources.columns[0]).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"), F.lit(0).alias("dist"))
    )
    e = _hop_edges(fp, edges, src, dst, directed)
    settled = _expand_frontier(fp, e, start, ["seed", "node"], max_hops)
    return fp.result(
        settled.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.count("*").cast("int").alias("n_reaching"),
            F.round(F.sum(F.lit(1.0) / F.col("dist")), 8).alias("harmonic"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Personalized PageRank -> (node, rank): random walk with restart to
    a SEED set instead of the uniform teleport — "importance relative to
    these entities", the recommendation / related-entity scorer (on a KG:
    rank everything w.r.t. one document's entities).

    rank_{t+1}(n) = (1-d) * 1{n in S}/|S|
                    + d * (sum_{m->n} rank_t(m) * w(m,n)/out_w(m)
                           + dangling_t/|S| * 1{n in S})

    Initial mass 1/|S| on seeds, 0 elsewhere; dangling mass restarts to
    the seeds (the standard PPR convention — mass conservation holds, so
    ranks always sum to 1). With S = all nodes this reduces float-exactly
    to pagerank (the unit test pins it): both run _power_iteration, with
    the seed indicator joined onto the node table here."""
    fp = Fixpoint("personalized_pagerank")
    e = _weighted_edges(fp, edges, src, dst, weight)
    seed_set = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    n_seeds = seed_set.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    nodes = fp.cut(
        _nodes(e)
        .join(seed_set.withColumn("is_seed", F.lit(1.0)), "node", "left")
        .select("node", F.coalesce("is_seed", F.lit(0.0)).alias("is_seed"))
    )
    return _power_iteration(fp, e, nodes, n_seeds, iterations, damping)


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient -> (node, deg, triangles, coeff) for
    every node with degree >= 2: coeff = 2*T_v / (deg_v*(deg_v-1)) — how
    close each node's neighborhood is to a clique (the per-node companion
    to triangle_count's global number; on a KG it separates hub entities
    whose neighbors interconnect from pure star centers).

    Same degree-ordered orientation as triangle_count, and the same
    adjacency-array intersection instead of a wedge self-join: each
    oriented edge (u, v) intersects N+(u) with N+(v); EXPLODING the
    intersection materializes each triangle once as (u, v, w), a 3-way
    explode attributes it to each corner, and one partial-agg groupBy
    counts per node. Triangle volume (not Σ outdeg² wedge volume) is the
    only row population beyond the edge list."""
    deg, pairs = _degree_ordered(_canonical_edges(edges, src, dst))
    tri = pairs.select(
        "u", "v", F.explode(F.array_intersect("nb", "nb_v")).alias("w")
    )
    per_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(per_node, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.round(
                F.coalesce("triangles", F.lit(0))
                * 2
                / (F.col("deg") * (F.col("deg") - 1)),
                8,
            ).alias("coeff"),
        )
    )


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph -> (member,
    scc_id) with scc_id = the minimum node id of the component — the
    directed counterpart of g4's connected components (mutual
    reachability: cycles collapse, DAG edges don't).

    Orzan-style coloring, the standard distributed SCC scheme: each round
    (1) colors every remaining node with the MINIMUM id that can reach it
    (forward min-label propagation to fixpoint), (2) inside each color
    class, propagates the minimum within-class id reachable FROM each
    node (backward propagation on color-matched edges — correctness: any
    v->*c path stays inside c's class, provable from color minimality);
    nodes where the two labels agree are exactly the SCC of their class's
    minimal node, get labeled, and leave the graph. Every round removes
    at least each minimal color's SCC, so rounds <= #SCC (in practice a
    handful: every singleton whose color is itself peels immediately).

    Plan shape per fixpoint iteration: one edge-keyed join + one
    partial-agg min groupBy on the node key (the pagerank family). Both
    passes are canonicalize.propagate_min_label run to CONVERGENCE (the
    connected-components propagation: an observed changed count per two
    steps) — iteration count tracks the remaining subgraph's diameter,
    not V — and the rounds run until no node remains (each round's
    emptiness probe on the remaining set). State is (node, label) pairs
    only."""
    fp = Fixpoint("strongly_connected_components")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes, n_remaining = fp.count(_nodes(e))
    remaining = nodes
    out = None
    while n_remaining:
        # every round peels at least the minimal color's SCC, so this
        # terminates; it runs to FIXPOINT rather than dropping
        # still-unlabeled nodes after a round limit
        re = fp.cut(
            e.join(remaining.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(remaining.withColumnRenamed("node", "dst"), "dst", "left_semi")
        )
        # (Considered and rejected: an FW-BW-style TRIM prefilter for
        # trivial SCCs — on cycle-dominated graphs like the bench fixture
        # it never fires and costs an extra probe job per round; measured
        # 7.2s -> 8.7s. The coloring rounds already peel singletons.)
        # (1) color(v) = min id reaching v: propagate src's color to dst
        color = propagate_min_label(fp, remaining, re).withColumnRenamed(
            "label", "color"
        )
        # (2) within each color class, f(v) = min same-class id reachable
        # FROM v: propagate dst's label to src on color-matched edges
        ec = fp.cut(
            re.join(color.withColumnRenamed("node", "src").withColumnRenamed("color", "cs"), "src")
            .join(color.withColumnRenamed("node", "dst").withColumnRenamed("color", "cd"), "dst")
            .filter(F.col("cs") == F.col("cd"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        f = propagate_min_label(fp, remaining, ec).withColumnRenamed("label", "f")
        labeled = fp.cut(
            color.join(f, "node")
            .filter(F.col("color") == F.col("f"))
            .select(F.col("node").alias("member"), F.col("color").alias("scc_id"))
        )
        out = labeled if out is None else fp.cut(out.unionByName(labeled))
        remaining, n_remaining = fp.count(
            remaining.join(
                labeled.select(F.col("member").alias("node")), "node", "left_anti"
            )
        )
    if out is None:
        out = nodes.select(F.col("node").alias("member"), F.col("node").alias("scc_id"))
    return fp.result(out)


def katz_centrality(
    edges: DataFrame,
    iterations: int = 10,
    alpha: float = 0.1,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Katz centrality -> (node, katz): k_{t+1}(v) = 1 + alpha * sum over
    in-edges u->v of k_t(u), truncated at `iterations` — counts walks of
    every length into v, geometrically damped. The third classic
    link-analysis scorer next to pagerank (no out-degree normalization:
    prolific linkers contribute fully) and hits (no mutual reinforcement
    split); alpha must be < 1/lambda_max for the series to converge —
    the fixed-iteration truncation keeps it finite regardless.

    Simple-digraph semantics (edges deduped). Per iteration: ONE
    edge-keyed join + one partial-agg sum on the node key — the pagerank
    shuffle shape minus the degree join and the dangling fold (Katz needs
    neither). Fully lazy between cuts; the deduped edge list is cut once
    (static across iterations)."""
    fp = Fixpoint("katz_centrality")
    e = fp.cut(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct())
    nodes = fp.cut(_nodes(e))
    a = F.lit(float(alpha))
    katz = nodes.select("node", F.lit(1.0).alias("katz"))
    for i in range(iterations):
        contrib = (
            katz.join(e, katz["node"] == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("katz").alias("s"))
        )
        katz = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(1.0) + a * F.coalesce("s", F.lit(0.0))).alias("katz"),
        )
        last = i == iterations - 1
        if (i + 1) % POWER_CUT_EVERY == 0 or last:
            katz = fp.cut(katz, eager=last)
    return fp.result(katz)

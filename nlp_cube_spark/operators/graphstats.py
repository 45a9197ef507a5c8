"""Graph analytics over the materialized KG (degree views exist as plain
aggregations; this adds PageRank).

pagerank() is classic synchronous power iteration, expressed so every
step is a uniform-key shuffle:

  contrib(v) = sum over edges u->v of rank(u) / out_deg(u)   (join + agg)
  rank'(v)   = (1-d)/N + d * (contrib(v) + dangling_mass/N)

Dangling nodes (no out-edges) redistribute their mass uniformly — the
standard stochastic-matrix completion, so total rank stays 1 every
iteration (asserted in tests). The iteration count is FIXED (default 3)
rather than convergence-tested: deterministic output, oracle-replayable
by an unrolled SQL CTE chain, and each iteration localCheckpoints so
the plan stays iteration-sized instead of growing exponentially (same
discipline as canonicalize.connected_components).

100 TB shape: ranks and degrees are node-dimension tables, edges shuffle
on src/dst (uniform unless the graph is skewed — salt hot entities with
operators/salting first); the two scalar aggregates per iteration
(node count, dangling mass) attach via broadcast cross join, never a
driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """(node, pagerank) after `iters` synchronous iterations over the
    DISTINCT edge set: rank' = (1 - d)/N + d * (contrib + dangling/N).

    The trajectory is integer NANO-units end-to-end (r7 — the same
    discipline as the LR/DSIR/k-means trainers): ranks are BIGINT
    nano; per-edge contributions are `rank div deg` (integer division
    — exact and order-free, truncating < 1 nano per edge, so total
    mass decays by < |E| * iters nano — a harmless, DEFINED part of
    the algorithm); the dangling share is `dang div N`; and the only
    float ops are two floor(x + 0.5) constants per iteration shared
    bit-for-bit with the DuckDB replay.  The previous form summed raw
    double contributions — a summation-order flake surface that 6dp
    output rounding merely masked."""
    # lazy checkpoint: e is referenced by nodes/deg AND by every
    # iteration's contrib join — unmaterialized, an expensive upstream
    # plan (e.g. the fused triple kernel) would re-run once per iteration
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nd = (
        nodes.join(deg, nodes["node"] == deg["src"], "left")
        .select("node", F.coalesce("deg", F.lit(0)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    nc = nd.agg(F.count(F.lit(1)).alias("n"))
    ranks = nd.crossJoin(F.broadcast(nc)).select(
        "node", "deg", F.expr("1000000000 div n").alias("_rn")
    )
    base = F.floor(F.lit(1.0 - damping) * F.lit(1e9) / F.col("n") + F.lit(0.5)).cast(
        "bigint"
    )
    for _ in range(iters):
        dang = ranks.where(F.col("deg") == 0).agg(
            F.coalesce(F.sum("_rn"), F.lit(0)).cast("bigint").alias("dm")
        )
        contrib = (
            ranks.join(e, ranks["node"] == e["src"])
            .select("dst", F.expr("_rn div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nd.crossJoin(F.broadcast(nc))
            .crossJoin(F.broadcast(dang))
            .join(contrib, nd["node"] == contrib["dst"], "left")
            .select(
                "node",
                "deg",
                (
                    base
                    + F.floor(
                        F.lit(damping)
                        * (
                            F.coalesce(F.col("c"), F.lit(0))
                            + F.expr("dm div n")
                        )
                        + F.lit(0.5)
                    ).cast("bigint")
                ).alias("_rn"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        "node", (F.col("_rn").cast("double") / F.lit(1e9)).alias("rank")
    )

def _directed_simple_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Simple undirected edge set, each edge directed low->high under the
    (degree, id) total order — the classic power-law refinement that
    pivots every triangle on its lowest-DEGREE vertex so a web-scale hub
    never anchors O(deg^2) wedges. Returns (s, t, kt) where kt is t's
    (deg, id) sort key struct.
    """
    e0 = (
        edges.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
    )
    deg = (
        e0.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da, db = deg.select(F.col("node").alias("a"), F.col("d").alias("da")), deg.select(
        F.col("node").alias("b"), F.col("d").alias("db")
    )
    ka = F.struct(F.col("da").alias("d"), F.col("a").alias("i"))
    kb = F.struct(F.col("db").alias("d"), F.col("b").alias("i"))
    return (
        e0.join(da, "a")
        .join(db, "b")
        .select(
            F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("s"),
            F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("t"),
            F.when(ka < kb, kb).otherwise(ka).alias("kt"),
        )
    )


def _wedges(d: DataFrame) -> DataFrame:
    """(x, y, z) wedges y<-x->z with y strictly before z in the edge
    order — each candidate triangle generated exactly once, anchored at
    its order-minimal vertex."""
    left = d.select(F.col("s").alias("x"), F.col("t").alias("y"), F.col("kt").alias("ky"))
    right = d.select(F.col("s").alias("x"), F.col("t").alias("z"), F.col("kt").alias("kz"))
    return (
        left.join(right, "x")
        .where(F.col("ky") < F.col("kz"))
        .select("x", "y", "z")
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED simple graph induced
    by `edges` (direction dropped, self-loops and duplicate/reversed
    edges collapsed) — GraphFrames' triangleCount semantics.

    Plan: canonical directed simple edge set -> wedge join (second
    endpoint strictly ordered, so each triangle is enumerated exactly
    once) -> closing-edge join -> explode the 3 corners -> one hash agg.
    Two equi-joins on node keys. Edges are directed by (degree, id) so
    every triangle pivots on its lowest-degree vertex: on power-law
    graphs a hub with degree D anchors ZERO wedges instead of O(D^2)
    (its neighbours point AT it), at the cost of one degree aggregation
    + two node-dimension joins — the standard web-graph formulation.
    Returns (node, triangles) for EVERY node incident to an edge.
    NULL-endpoint edges are dropped entirely up front
    (least/greatest would otherwise skip the NULL and collapse such an
    edge to a self-loop while its NULL node still appeared in the
    output)."""
    # lazy checkpoint: edges feeds the directed-edge derivation AND both
    # node-listing branches — without it a mapInPandas upstream (fused
    # triple kernel) re-runs once per reference (CLAUDE.md)
    edges = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull()).localCheckpoint(
        eager=False
    )
    d = _directed_simple_edges(edges, src, dst).localCheckpoint(
        eager=False
    )  # referenced by the wedge join (2x) and the closing-edge join
    tri = _wedges(d).join(
        d.select(F.col("s").alias("y"), F.col("t").alias("z")), ["y", "z"]
    )
    corners = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .dropDuplicates()
    )
    return nodes.join(corners, "node", "left").select(
        "node", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst", iters: int = 3
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    UNDIRECTED simple graph (Raghavan et al. 2007, public knowledge),
    made deterministic the same way GraphFrames' LPA is: every node
    starts as its own label; each round a node adopts the most frequent
    label among its neighbours (ties -> smallest label; a node whose
    only edges are self-loops has no neighbours to out-vote it and keeps
    its own label). The iteration count is FIXED so the output is a pure
    function of the graph — oracle-replayable by an unrolled CTE chain
    like pagerank, rather than convergence-tested. Returns (node, label)
    for EVERY node with a non-NULL edge endpoint, self-loop-only nodes
    included.

    100 TB shape: one (edge x label) join + one (dst, label) hash agg +
    one per-node argmax per round — all uniform-key shuffles, labels are
    a node-dimension table, and each round localCheckpoints so the plan
    stays round-sized (pagerank's discipline). Skewed hubs salt like any
    other hot key (operators/salting)."""
    # lazy checkpoint BEFORE the multiple references below: clean feeds
    # und plus both node-derivation branches, and Spark re-runs a shared
    # mapInPandas subtree (e.g. the fused triple kernel) once per
    # reference (CLAUDE.md)
    clean = (
        edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .localCheckpoint(eager=False)
    )
    und = clean.where(F.col("a") != F.col("b"))
    e = (
        und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .dropDuplicates()
        .localCheckpoint(eager=False)  # both directions: neighbour = any endpoint
    )
    # every non-NULL endpoint is a node — self-loop-only nodes carry no
    # votes but must not vanish from the output
    nodes = (
        clean.select(F.col("a").alias("node"))
        .unionByName(clean.select(F.col("b").alias("node")))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(eager=False)
    for _ in range(iters):
        votes = (
            e.join(labels, e["a"] == labels["node"])
            .select(F.col("b").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # most frequent neighbour label, ties to the SMALLEST label:
        # max_by on (count, reversed-label) — label is a string, so the
        # tie-break key is monotone-decreasing via a struct comparison
        # trick: max over (c, -rank) is not expressible for strings, so
        # rank labels per node with a min over candidates of max count
        top = votes.groupBy("node").agg(F.max("c").alias("cmax"))
        new = (
            votes.join(top, "node")
            .where(F.col("c") == F.col("cmax"))
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        labels = (
            labels.select("node").join(new, "node", "left")
            .select("node", F.coalesce("label", F.col("node")).alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels


class Graph:
    """GraphFrames-style facade over plain DataFrames (the north-star's
    "GraphFrames-style edge DataFrame" without the external package):
    `edges` must carry (src, dst); `vertices` (id, ...) is derived from
    the edge endpoints when not supplied. Every method returns a
    DataFrame and composes with the rest of the engine."""

    def __init__(self, edges: DataFrame, vertices: DataFrame | None = None):
        if "src" not in edges.columns or "dst" not in edges.columns:
            raise ValueError("edges must have src and dst columns")
        self.edges = edges
        self._vertices = vertices

    @property
    def vertices(self) -> DataFrame:
        if self._vertices is not None:
            return self._vertices
        return (
            self.edges.select(F.col("src").alias("id"))
            .union(self.edges.select(F.col("dst").alias("id")))
            .dropDuplicates()
        )

    def out_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("out_degree")
        )

    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("in_degree")
        )

    def degrees(self) -> DataFrame:
        both = self.edges.select(F.col("src").alias("id")).union(
            self.edges.select(F.col("dst").alias("id"))
        )
        return both.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))

    def page_rank(self, iters: int = 3, damping: float = 0.85) -> DataFrame:
        return pagerank(self.edges, iters=iters, damping=damping)

    def connected_components(self, max_iter: int = 15) -> DataFrame:
        from .canonicalize import connected_components

        return connected_components(self.edges, max_iter=max_iter)

    def triangle_count(self) -> DataFrame:
        return triangle_count(self.edges)

    def label_propagation(self, iters: int = 3) -> DataFrame:
        return label_propagation(self.edges, iters=iters)


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 8,
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983; the
    standard KG-pruning pass for dropping tendrils before community /
    centrality analysis — no counterpart in the reference).

    Undirected simple graph (NULLs and self-loops dropped, edges
    canonicalized a<b and deduped, same normalization as
    triangle_count). Each round removes every node whose current degree
    is < k together with its edges, until a fixpoint or `max_iter`.
    Returns (node, deg): the surviving subgraph's nodes with their
    in-core degrees — the maximal subgraph of minimum degree >= k.

    Scale shape: one degree agg (node-keyed shuffle with map-side
    combine — a hub's rows partial-aggregate before the exchange, the
    connected_components skew argument) + two semi-joins per round;
    edges localCheckpoint per round so plans stay round-sized. Peeling
    is IDEMPOTENT at the fixpoint, so a DuckDB oracle unrolling exactly
    `max_iter` rounds replays the result whether convergence came early
    or not. The convergence check rides the checkpoint job as an
    Observation (one job per round, canonicalize.connected_components
    discipline); the peel count per round is data-dependent, but rounds
    needed = longest chain of cascading removals (the star graph peels
    in 2; real web KGs in a handful)."""
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull() & (F.col("s") != F.col("d")))
        .select(F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    from pyspark.sql import Observation

    for i in range(max_iter):
        deg = (
            e.select(F.col("a").alias("node"))
            .union(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node").localCheckpoint(eager=False)
        obs = Observation(f"kcore_removed_{i}_{id(e)}")
        pruned = (
            e.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .select("a", "b")
            .observe(obs, F.count(F.lit(1)).alias("n_edges"))
            .localCheckpoint()  # eager: materializes AND fills the observation
        )
        try:
            n_before = e.count() if i == 0 else n_after  # noqa: F821
            n_after = int(obs.get["n_edges"] or 0)
        except Exception:
            # AQE empty-relation pruning can drop CollectMetrics
            # (CLAUDE.md) — fall back to an explicit count, never assume
            n_before = e.count()
            n_after = pruned.count()
        converged = n_after == n_before
        e = pruned
        if converged:
            break
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return deg.where(F.col("deg") >= k)


def k_truss(
    edges: DataFrame,
    t: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 3,
) -> DataFrame:
    """k-truss decomposition (Cohen 2008, public knowledge): the
    subgraph where every edge participates in >= t-2 triangles, by
    iterative support peeling — the edge-level sharpening of k_core
    (every k-truss is inside the (k-1)-core), standard for extracting
    cohesive KG neighborhoods that survive tendril pruning.

    Per round, over the canonical a<b simple edge set: enumerate each
    triangle ONCE with the same wedge + closing-edge equi-join pair as
    triangle_count (no cartesian), credit its three edges, drop edges
    below t-2, repeat. Returns the surviving edges as (src, dst,
    support) with the support computed in the final evaluated round —
    at the fixpoint that IS the stable subgraph's support. Peeling is
    idempotent at the fixpoint, so a DuckDB oracle unrolling exactly
    `max_iter` rounds replays the result whether convergence came early
    or not (the k_core contract). The convergence check rides the
    round's checkpoint job as an Observation.

    Scale shape: each round is two edge-keyed equi-joins (the triangle
    enumeration — the dominant cost, O(sum deg(u)*deg(v)) wedge work)
    + one uniform (a,b)-keyed hash agg + one edge-keyed left join;
    plans stay round-sized via localCheckpoint. Power-law hubs: the
    degree-pivot ordering documented on triangle_count is the drop-in
    refinement if wedge skew bites."""
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull() & (F.col("s") != F.col("d")))
        .select(F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    from pyspark.sql import Observation

    out = e.withColumn("support", F.lit(0).cast("bigint")).where(F.lit(False))
    n_before = None
    for i in range(max_iter):
        e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
        e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
        tri = e1.join(e2, "y").join(e3, ["x", "z"])
        corners = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionByName(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
            .unionByName(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
        )
        sup = corners.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
        obs = Observation(f"ktruss_{i}_{id(e)}")
        kept = (
            e.join(sup, ["a", "b"], "left")
            .select("a", "b", F.coalesce("support", F.lit(0)).alias("support"))
            .where(F.col("support") >= t - 2)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()  # eager: materializes AND fills the observation
        )
        try:
            n_after = int(obs.get["n"] or 0)
        except Exception:  # AQE empty-relation pruning (CLAUDE.md)
            n_after = kept.count()
        if n_before is None:
            n_before = e.count()
        out = kept
        e = kept.select("a", "b").localCheckpoint(eager=False)
        if n_after == n_before:
            break
        n_before = n_after
    return out.select(F.col("a").alias(src), F.col("b").alias(dst), "support")


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, public knowledge) by
    synchronous power iteration over the DISTINCT directed edge set:
    auth(v) = sum of hub over in-neighbors, hub(u) = sum of auth over
    out-neighbors, each L2-normalized per half-step. Complements
    pagerank with the directed-endorsement view (who aggregates vs who
    is cited) over the same entity graph.

    Determinism (r7, the nano-trajectory discipline — previously each
    half-step ROUNDED a double sum, the straddle class): scores live as
    integer MICRO-units (1e-6); the neighbor sum is an exact BIGINT agg
    (any order); the squared-norm sum runs in DECIMAL(38,0) (exact —
    BIGINT would overflow at raw^2 ~ 1e22); the only double ops per
    half-step are one cast of that exact integer (IEEE int->double is
    correctly rounded on both engines — the DuckDB side casts the same
    integer from HUGEINT), one sqrt, and one floor(r / nz * 1e6 + 0.5)
    re-quantization.  The L2 norm is a 1-row broadcast, never a driver
    collect. Fixed `iters` keeps the trajectory oracle-replayable;
    plans stay iteration-sized via localCheckpoint. Returns (node, hub,
    authority) for every node incident to an edge; a side with zero
    mass (no in-edges anywhere) yields NULL via the nullif'd norm
    rather than an ANSI /0 throw."""
    if iters < 1:
        raise ValueError("hits: iters must be >= 1")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    h = nodes.select("node", F.lit(1_000_000).cast("bigint").alias("hub"))

    def _half(scores: DataFrame, score_col: str, join_on: str, group_to: str, out: str) -> DataFrame:
        raw = (
            e.join(scores.withColumnRenamed("node", join_on), join_on)
            .groupBy(group_to)
            .agg(F.sum(score_col).alias("_r"))  # exact BIGINT, order-free
            # raw feeds the norm agg AND the node join — checkpoint or the
            # edge-join+agg subtree re-runs per reference (CLAUDE.md)
            .localCheckpoint(eager=False)
        )
        norm = raw.agg(
            F.sqrt(
                F.sum(F.col("_r").cast("decimal(38,0)") * F.col("_r")).cast("double")
            ).alias("_nz")
        )
        return (
            nodes.join(raw.withColumnRenamed(group_to, "node"), "node", "left")
            .crossJoin(F.broadcast(norm))
            .select(
                "node",
                F.floor(
                    F.coalesce(F.col("_r"), F.lit(0)).cast("double")
                    / F.nullif(F.col("_nz"), F.lit(0.0))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                .cast("bigint")
                .alias(out),
            )
            .localCheckpoint(eager=False)
        )

    for _ in range(iters):
        a = _half(h, "hub", "src", "dst", "authority")
        h = _half(a, "authority", "dst", "src", "hub")
    return h.join(a, "node").select(
        "node",
        (F.col("hub").cast("double") / F.lit(1e6)).alias("hub"),
        (F.col("authority").cast("double") / F.lit(1e6)).alias("authority"),
    )


def neighborhood_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node neighborhood degree features over the undirected simple
    graph — the standard structural feature block (degree, mean/max
    neighbor degree, 2-hop walk count) feeding assortativity analysis
    and GraphSAGE/SIGN-style precomputed aggregations (public
    knowledge).

    Returns (node, deg, avg_nbr_deg (6dp), max_nbr_deg, n_two_hop_walks)
    where n_two_hop_walks = sum over neighbors of (deg(nbr) - 1) — walks
    of length 2 that do not immediately backtrack (an upper bound on
    distinct 2-hop NEIGHBORS; exact distinctness would need the
    pair-join k_truss already pays for).

    Plan: degree = one node-keyed agg; the neighbor-degree join is
    edge-keyed against the node-dimension degree table; one final
    node agg. A hub's rows partial-aggregate map-side (the
    connected_components skew argument)."""
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull() & (F.col("s") != F.col("d")))
        .select(F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b"))
        .dropDuplicates()
    )
    sym = e.select(F.col("a").alias("node"), F.col("b").alias("nbr")).union(
        e.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    ).localCheckpoint(eager=False)
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(
        eager=False
    )
    nbr_deg = sym.join(
        deg.select(F.col("node").alias("nbr"), F.col("deg").alias("_nd")), "nbr"
    )
    agg = nbr_deg.groupBy("node").agg(
        F.round(F.avg(F.col("_nd").cast("double")), 6).alias("avg_nbr_deg"),
        F.max("_nd").alias("max_nbr_deg"),
        F.sum(F.col("_nd") - 1).alias("n_two_hop_walks"),
    )
    return deg.join(agg, "node").select(
        "node", "deg", "avg_nbr_deg", "max_nbr_deg", "n_two_hop_walks"
    )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Breadth-first reachability levels from a seed set (public
    textbook algorithm): (node, level) with level = hop distance to the
    NEAREST seed, bounded by `max_hops`; unreached nodes are absent.
    The KG neighborhood-expansion primitive (entity context windows,
    blast-radius queries).

    seeds: DataFrame with a `node` column (level 0). Each hop is one
    frontier-keyed equi-join + one anti-join against the settled set —
    frontier-sized work, never corpus-times-hops; plans stay hop-sized
    via localCheckpoint, and an empty frontier stops early (extra hops
    are no-ops, so a DuckDB oracle unrolling exactly `max_hops` rounds
    replays the result regardless — the k_core contract)."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).where(
        F.col("s").isNotNull() & F.col("d").isNotNull()
    )
    sym = e if directed else e.union(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    sym = sym.dropDuplicates().localCheckpoint(eager=False)
    lvl = seeds.select(F.col("node")).dropDuplicates().select(
        "node", F.lit(0).alias("level")
    ).localCheckpoint()
    frontier = lvl.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            sym.join(frontier.withColumnRenamed("node", "s"), "s")
            .select(F.col("d").alias("node"))
            .dropDuplicates()
            .join(lvl.select("node"), "node", "left_anti")
            .select("node", F.lit(h).alias("level"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        lvl = lvl.union(nxt).localCheckpoint()
        frontier = nxt.select("node")
    return lvl


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    metric: str = "adamic_adar",
    max_mid_degree: int | None = None,
) -> DataFrame:
    """Neighborhood-overlap link prediction over the UNDIRECTED simple
    graph (Liben-Nowell & Kleinberg 2003; Adamic & Adar 2003 — the
    standard entity-resolution / KG-completion candidate scorer; no
    counterpart in the reference): score every non-adjacent pair that
    shares at least one neighbor.

      common_neighbors  |N(u) n N(w)|
      jaccard           |N(u) n N(w)| / |N(u) u N(w)|
      adamic_adar       sum over shared z of 1 / ln(deg(z))

    Returns (node_a, node_b, n_common, score), node_a < node_b.  The
    Adamic-Adar sum accumulates integer NANO-UNITS per shared neighbor
    (floor(1/ln(deg)*1e9+0.5) as BIGINT — the similarity._nano_mean
    discipline), so the score is summation-order- and engine-exact;
    jaccard is one IEEE division of exact integers.  deg(z) >= 2 by
    construction (z has two distinct neighbors in any wedge) so ln is
    never 0; the nullif guard stays for ANSI safety.

    Scale shape: the ONLY pair generator is the wedge self-join keyed on
    the mid node z — pair volume is sum_z deg(z)^2, NEVER all-pairs.
    `max_mid_degree` is the hub knob: mids hotter than the cap are
    dropped before the join (their per-pair AA weight 1/ln(deg) is the
    smallest in the graph, so truncation hits the least-informative
    evidence first — the standard mitigation). The existing-edge
    exclusion is one anti-join on the canonical pair."""
    if metric not in ("adamic_adar", "common_neighbors", "jaccard"):
        raise ValueError(f"link_prediction: unknown metric {metric!r}")
    e0 = (
        edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
        .localCheckpoint(eager=False)  # feeds sym (2x), deg, and the anti-join
    )
    sym = e0.select(F.col("a").alias("z"), F.col("b").alias("n")).unionByName(
        e0.select(F.col("b").alias("z"), F.col("a").alias("n"))
    )
    deg = sym.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    mids = sym.join(deg, "z")
    if max_mid_degree is not None:
        mids = mids.where(F.col("d") <= max_mid_degree)
    w_nano = F.floor(
        F.lit(1.0) / F.nullif(F.log(F.col("d").cast("double")), F.lit(0.0)) * 1e9
        + F.lit(0.5)
    ).cast("bigint")
    left = mids.select("z", F.col("n").alias("u"), w_nano.alias("_w"))
    right = mids.select("z", F.col("n").alias("w"))
    pairs = (
        left.join(right, "z")
        .where(F.col("u") < F.col("w"))
        .groupBy(F.col("u").alias("node_a"), F.col("w").alias("node_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("_w").alias("_aa_nano"),
        )
        .join(
            e0.select(F.col("a").alias("node_a"), F.col("b").alias("node_b")),
            ["node_a", "node_b"],
            "left_anti",
        )
    )
    if metric == "common_neighbors":
        score = F.col("n_common").cast("double")
    elif metric == "adamic_adar":
        score = F.col("_aa_nano").cast("double") / F.lit(1e9)
    else:
        da = deg.select(F.col("z").alias("node_a"), F.col("d").alias("_da"))
        db = deg.select(F.col("z").alias("node_b"), F.col("d").alias("_db"))
        pairs = pairs.join(da, "node_a").join(db, "node_b")
        score = F.col("n_common").cast("double") / (
            F.col("_da") + F.col("_db") - F.col("n_common")
        ).cast("double")
    return pairs.select(
        "node_a",
        "node_b",
        "n_common",
        (F.floor(score * 1e6 + F.lit(0.5)) / 1e6).alias("score"),
    )

"""PageRank over the entity graph: hand-verified values, mass
conservation, dangling redistribution."""

import pytest

from nlp_cube_spark.operators.graphstats import pagerank


def _pr_eager(edges, iters=3, d=0.85):
    """Independent driver-side power iteration mirroring the engine's
    integer nano-unit trajectory (r7): BIGINT ranks, truncating integer
    divisions for edge contributions and dangling redistribution, two
    floor(x + 0.5) constants per round. Exact-equality comparable."""
    import math

    e = sorted(set(edges))
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    deg = {u: sum(1 for a, _ in e if a == u) for u in nodes}
    n = len(nodes)
    r = {u: 1_000_000_000 // n for u in nodes}
    base = math.floor((1.0 - d) * 1e9 / n + 0.5)
    for _ in range(iters):
        dm = sum(r[u] for u in nodes if deg[u] == 0)
        c = {u: 0 for u in nodes}
        for u, v in e:
            c[v] += r[u] // deg[u]
        r = {u: base + math.floor(d * (c[u] + dm // n) + 0.5) for u in nodes}
    return {u: rn / 1e9 for u, rn in r.items()}


@pytest.mark.parametrize(
    "edges",
    [
        [("a", "b"), ("b", "c"), ("c", "a")],                    # cycle: uniform
        [("a", "b"), ("a", "c"), ("b", "c")],                    # c is a dangling sink
        [("h", f"l{i}") for i in range(20)]                      # star hub
        + [(f"l{i}", "h") for i in range(10)],
    ],
)
def test_pagerank_matches_eager(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(df).collect()}
    want = _pr_eager(edges)
    assert set(got) == set(want)
    assert got == want  # EXACT: both sides run the same integer trajectory
    # mass conserved up to the documented truncation (< (|E|+N)*iters nano)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


def test_pagerank_cycle_is_uniform(spark):
    df = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    got = {r.node: r.rank for r in pagerank(df, iters=5).collect()}
    # nano quantization: 1/3 lands on 0.333333333 exactly (fixpoint)
    assert all(v == 333333333 / 1e9 for v in got.values())


def test_pagerank_duplicate_edges_ignored(spark):
    df = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {r.node: r.rank for r in pagerank(df).collect()}
    assert got == _pr_eager([("a", "b"), ("b", "a")])


def test_graph_facade(spark):
    from nlp_cube_spark.operators.graphstats import Graph

    g = Graph(spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("x", "y")], "src string, dst string"
    ))
    assert {r.id for r in g.vertices.collect()} == {"a", "b", "c", "x", "y"}
    assert {(r.id, r.out_degree) for r in g.out_degrees().collect()} == {("a", 2), ("b", 1), ("x", 1)}
    assert {(r.id, r.in_degree) for r in g.in_degrees().collect()} == {("b", 1), ("c", 2), ("y", 1)}
    assert {(r.id, r.degree) for r in g.degrees().collect()} == {
        ("a", 2), ("b", 2), ("c", 2), ("x", 1), ("y", 1)}
    comp = {r.node: r.component for r in g.connected_components().collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    pr = {r.node: r.rank for r in g.page_rank().collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    import pytest as _pt
    with _pt.raises(ValueError):
        Graph(spark.createDataFrame([(1, 2)], "a long, b long"))


def test_triangle_count_hand_graph(spark):
    """Known graph: K4 minus one edge has 2 triangles; duplicate,
    reversed, and self-loop edges must not change counts."""
    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("a", "c"),          # triangle abc
            ("b", "d"), ("c", "d"),                      # triangle bcd
            ("c", "b"),                                   # reversed dup
            ("a", "b"),                                   # exact dup
            ("d", "d"),                                   # self-loop
            ("e", "f"),                                   # no triangle
        ],
        "src string, dst string",
    )
    from nlp_cube_spark.operators.graphstats import Graph, triangle_count

    got = {r.node: r.triangles for r in triangle_count(edges).collect()}
    assert got == {"a": 1, "b": 2, "c": 2, "d": 1, "e": 0, "f": 0}
    # global triangle identity: sum of per-node counts == 3 * n_triangles
    assert sum(got.values()) == 3 * 2
    # facade parity
    via_graph = {r.node: r.triangles for r in Graph(edges).triangle_count().collect()}
    assert via_graph == got


def test_triangle_count_no_cartesian(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    from nlp_cube_spark.operators.graphstats import triangle_count

    plan = triangle_count(edges)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_triangle_count_equals_brute_force(spark):
    """The (degree, id)-pivoted wedge plan counts exactly the triangles a
    brute-force enumeration of every node triple finds, on a random graph
    with shared corners, hubs, and degree ties."""
    import itertools
    import random

    from nlp_cube_spark.operators.graphstats import triangle_count

    rng = random.Random(7)
    nodes = [f"n{i:02d}" for i in range(18)]
    pairs = {tuple(sorted(rng.sample(nodes, 2))) for _ in range(60)}
    edges = spark.createDataFrame(sorted(pairs), "src string, dst string")
    got = {r.node: r.triangles for r in triangle_count(edges).collect()}

    want = {u: 0 for p in pairs for u in p}
    for x, y, z in itertools.combinations(sorted(want), 3):
        if {(x, y), (x, z), (y, z)} <= pairs:
            for u in (x, y, z):
                want[u] += 1
    assert got == want and sum(want.values()) > 0


def test_degree_pivot_star_hub_anchors_no_wedges(spark):
    """On a star the hub has degree D; id-ordering (hub id minimal) would
    anchor C(D,2) wedges at the hub, degree-ordering anchors ZERO — every
    edge points leaf->hub, so no node has two out-edges. This is the
    O(deg^2) hub blowup the (degree, id) order removes."""
    from nlp_cube_spark.operators.graphstats import (
        _directed_simple_edges,
        _wedges,
        triangle_count,
    )

    n = 100
    edges = spark.createDataFrame(
        [("hub", f"leaf{i:03d}") for i in range(n)], "src string, dst string"
    )
    d = _directed_simple_edges(edges, "src", "dst")
    assert {r.t for r in d.select("t").distinct().collect()} == {"hub"}
    assert _wedges(d).count() == 0
    got = {r.triangles for r in triangle_count(edges).collect()}
    assert got == {0}


def test_triangle_count_null_edges_dropped(spark):
    """A NULL-endpoint edge is dropped entirely: it must neither collapse
    to a self-loop nor surface a NULL node row (ADVICE r5)."""
    from nlp_cube_spark.operators.graphstats import triangle_count

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), (None, "a"), ("b", None)],
        "src string, dst string",
    )
    rows = triangle_count(edges).collect()
    assert all(r.node is not None for r in rows)
    assert {r.node: r.triangles for r in rows} == {"a": 1, "b": 1, "c": 1}


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: LPA collapses each
    clique to one community; the deterministic min tie-break makes the
    result reproducible. Duplicate/reversed/self-loop edges and NULLs
    must not change anything."""
    from nlp_cube_spark.operators.graphstats import Graph, label_propagation

    edges = spark.createDataFrame(
        [
            ("a1", "a2"), ("a2", "a3"), ("a1", "a3"),    # clique A
            ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),    # clique B
            ("a3", "b1"),                                 # bridge
            ("a2", "a1"), ("a1", "a1"), (None, "a2"),     # noise
        ],
        "src string, dst string",
    )
    got = {r.node: r.label for r in label_propagation(edges, iters=3).collect()}
    assert set(got) == {"a1", "a2", "a3", "b1", "b2", "b3"}
    assert len({got["a1"], got["a2"], got["a3"]}) == 1
    assert len({got["b1"], got["b2"], got["b3"]}) == 1
    # determinism incl. through the facade
    again = {r.node: r.label for r in Graph(edges).label_propagation(iters=3).collect()}
    assert again == got


def test_label_propagation_star_converges_to_hub_rule(spark):
    """A star: after round 1 every leaf holds the hub's label (their only
    neighbour) and the hub holds the min leaf label; fixed iterations
    keep the sync-LPA oscillation deterministic."""
    from nlp_cube_spark.operators.graphstats import label_propagation

    edges = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(5)], "src string, dst string"
    )
    one = {r.node: r.label for r in label_propagation(edges, iters=1).collect()}
    assert all(one[f"leaf{i}"] == "hub" for i in range(5))
    assert one["hub"] == "leaf0"


def test_lpa_plan_no_cartesian(spark):
    from nlp_cube_spark.operators.graphstats import label_propagation

    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    plan = label_propagation(edges, iters=2)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_k_core_triangle_with_tail(spark):
    """Triangle {a,b,c} + chain c-d-e: the 2-core is exactly the
    triangle, and the chain peels over TWO cascading rounds (e first,
    then d) — exercises the fixpoint loop, not just one pass."""
    from nlp_cube_spark.operators.graphstats import k_core

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    out = {r.node: r.deg for r in k_core(edges, k=2).collect()}
    assert out == {"a": 2, "b": 2, "c": 2}


def test_k_core_star_is_empty_and_dup_edges_ignored(spark):
    """A star has no 2-core (leaves peel, then the bare hub); duplicate
    and reversed edges must not inflate degrees into a fake core."""
    from nlp_cube_spark.operators.graphstats import k_core

    star = [("hub", f"l{i}") for i in range(30)]
    dups = [(f"l{i}", "hub") for i in range(30)] + star
    edges = spark.createDataFrame(star + dups, "src string, dst string")
    assert k_core(edges, k=2).count() == 0
    # 1-core of a star = everything, hub degree = 30
    one = {r.node: r.deg for r in k_core(edges, k=1).collect()}
    assert one["hub"] == 30 and len(one) == 31


def test_k_core_idempotent_at_extra_rounds(spark):
    """Extra rounds past the fixpoint change nothing (the property the
    unrolled DuckDB oracle relies on)."""
    from nlp_cube_spark.operators.graphstats import k_core

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"), ("x", None)],
        "src string, dst string",
    )
    a = sorted((r.node, r.deg) for r in k_core(edges, k=2, max_iter=3).collect())
    b = sorted((r.node, r.deg) for r in k_core(edges, k=2, max_iter=12).collect())
    assert a == b == [("a", 2), ("b", 2), ("c", 2)]


def test_k_truss_triangle_with_tail(spark):
    """Triangle + tail: the 3-truss keeps exactly the triangle's three
    edges with support 1; the tail edges (no triangle) drop in round 1."""
    from nlp_cube_spark.operators.graphstats import k_truss

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    out = {(r.src, r.dst): r.support for r in k_truss(edges, t=3).collect()}
    assert out == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1}


def test_k_truss_cascade(spark):
    """Two triangles sharing edge (a,b): at t=4 the outer edges (support
    1) drop first, which starves the shared edge — the truss empties
    only through the CASCADE, proving multi-round peeling works."""
    from nlp_cube_spark.operators.graphstats import k_truss

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d")],
        "src string, dst string",
    )
    assert k_truss(edges, t=4, max_iter=4).count() == 0
    # t=3 keeps everything: every edge closes at least one triangle
    t3 = {(r.src, r.dst): r.support for r in k_truss(edges, t=3).collect()}
    assert t3[("a", "b")] == 2 and len(t3) == 5


def test_k_truss_idempotent_extra_rounds(spark):
    from nlp_cube_spark.operators.graphstats import k_truss

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    a = sorted(map(tuple, k_truss(edges, t=3, max_iter=2).collect()))
    b = sorted(map(tuple, k_truss(edges, t=3, max_iter=6).collect()))
    assert a == b


def test_hits_star_hand_computed(spark):
    """u -> {v1,v2,v3}: u is the only hub (hub=1), each vi an equal
    authority (1/sqrt(3)), stable across iterations; the v-side hub
    scores and u's authority are exactly 0."""
    import math

    from nlp_cube_spark.operators.graphstats import hits

    edges = spark.createDataFrame(
        [("u", "v1"), ("u", "v2"), ("u", "v3")], "src string, dst string"
    )
    out = {r.node: r for r in hits(edges, iters=3).collect()}
    assert out["u"].hub == 1.0 and out["u"].authority == 0.0
    for v in ("v1", "v2", "v3"):
        # r7 micro-unit trajectory: authority quantizes to 1e-6
        assert out[v].authority == math.floor(1 / math.sqrt(3) * 1e6 + 0.5) / 1e6
        assert out[v].hub == 0.0


def test_hits_chain_directionality(spark):
    """a->b->c: b is both cited and citing; hub mass concentrates on a,b
    (they point at things), authority on b,c. Scores must be finite and
    the two sides must differ — directionality is preserved."""
    from nlp_cube_spark.operators.graphstats import hits

    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    out = {r.node: r for r in hits(edges, iters=3).collect()}
    assert out["a"].authority == 0.0 and out["c"].hub == 0.0
    assert out["b"].hub > 0 and out["b"].authority > 0
    assert all(r.hub is not None and r.authority is not None for r in out.values())


def test_neighborhood_stats_star_and_triangle(spark):
    """Star hub (deg 3, all neighbors deg 1) vs triangle nodes (deg 2,
    neighbors deg 2): hand-checked degree features and 2-hop walks."""
    from nlp_cube_spark.operators.graphstats import neighborhood_stats

    edges = spark.createDataFrame(
        [("h", "l1"), ("h", "l2"), ("h", "l3"),
         ("x", "y"), ("y", "z"), ("z", "x")],
        "src string, dst string",
    )
    out = {r.node: r for r in neighborhood_stats(edges).collect()}
    assert (out["h"].deg, out["h"].avg_nbr_deg, out["h"].n_two_hop_walks) == (3, 1.0, 0)
    assert (out["l1"].deg, out["l1"].avg_nbr_deg, out["l1"].max_nbr_deg) == (1, 3.0, 3)
    assert out["l1"].n_two_hop_walks == 2  # via h to l2, l3
    assert (out["x"].deg, out["x"].avg_nbr_deg, out["x"].n_two_hop_walks) == (2, 2.0, 2)


def test_bfs_levels_chain_and_direction(spark):
    """Chain a-b-c-d plus isolated x-y: undirected levels from a are
    0,1,2,3 and x/y unreached; directed BFS respects edge direction;
    max_hops truncates; a node reachable two ways gets its NEAREST
    level."""
    from nlp_cube_spark.operators.graphstats import bfs_levels

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("a", "c")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    und = {r.node: r.level for r in bfs_levels(edges, seeds, max_hops=4).collect()}
    assert und == {"a": 0, "b": 1, "c": 1, "d": 2}  # a-c shortcut wins
    trunc = {r.node: r.level for r in bfs_levels(edges, seeds, max_hops=1).collect()}
    assert trunc == {"a": 0, "b": 1, "c": 1}
    rev = spark.createDataFrame([("d",)], "node string")
    directed = {r.node: r.level for r in bfs_levels(edges, rev, max_hops=4, directed=True).collect()}
    assert directed == {"d": 0}  # no out-edges from d


def test_new_graph_ops_no_cartesian(spark):
    """k_core, k_truss, hits, neighborhood_stats, bfs_levels: every join
    is keyed — no shuffle CartesianProduct may appear in any plan (the
    triangle_count plan-assert discipline). BroadcastNestedLoop from
    1-row scalar attaches is the accepted pattern and not flagged."""
    from pyspark.sql import functions as F

    from nlp_cube_spark.operators.graphstats import (
        bfs_levels,
        hits,
        k_core,
        k_truss,
        neighborhood_stats,
    )

    edges = spark.range(60).select(
        F.concat(F.lit("n"), (F.col("id") % 20).cast("string")).alias("src"),
        F.concat(F.lit("n"), ((F.col("id") * 7 + 3) % 20).cast("string")).alias("dst"),
    )
    seeds = spark.createDataFrame([("n0",)], "node string")
    plans = {
        "k_core": k_core(edges, k=2, max_iter=2),
        "k_truss": k_truss(edges, t=3, max_iter=2),
        "hits": hits(edges, iters=2),
        "neighborhood": neighborhood_stats(edges),
        "bfs": bfs_levels(edges, seeds, max_hops=2),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name


def test_hits_rejects_zero_iters(spark):
    import pytest as _pytest

    from nlp_cube_spark.operators.graphstats import hits

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pytest.raises(ValueError):
        hits(edges, iters=0)


def test_link_prediction_planted(spark):
    """Path 1-2-3-4 plus 2-5 (hand-computable): every 2-hop pair scored,
    no existing edge re-proposed, AA weight = 1/ln(deg(mid)), jaccard =
    |common| / |union|, and a mid-degree cap drops exactly the pairs
    whose only witness is the hot mid."""
    from nlp_cube_spark.operators.graphstats import link_prediction

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5)], "src long, dst long"
    )
    aa = {(r.node_a, r.node_b): r.score for r in link_prediction(e).collect()}
    import math

    w2 = math.floor(1 / math.log(3) * 1e9 + 0.5) / 1e9  # deg(2) = 3
    w3 = math.floor(1 / math.log(2) * 1e9 + 0.5) / 1e9  # deg(3) = 2
    assert aa == {
        (1, 3): math.floor(w2 * 1e6 + 0.5) / 1e6,
        (1, 5): math.floor(w2 * 1e6 + 0.5) / 1e6,
        (3, 5): math.floor(w2 * 1e6 + 0.5) / 1e6,
        (2, 4): math.floor(w3 * 1e6 + 0.5) / 1e6,
    }
    jc = {(r.node_a, r.node_b): r.score
          for r in link_prediction(e, metric="jaccard").collect()}
    assert jc[(1, 5)] == 1.0 and jc[(1, 3)] == 0.5 and jc[(2, 4)] == 0.333333
    # cap at degree 2: mid 2 (deg 3) is dropped, only (2, 4) survives
    capped = {(r.node_a, r.node_b)
              for r in link_prediction(e, max_mid_degree=2).collect()}
    assert capped == {(2, 4)}
    # no existing edge is ever proposed; determinism across partitionings
    assert not ({(1, 2), (2, 3), (3, 4), (2, 5)} & set(aa))
    again = {(r.node_a, r.node_b): r.score
             for r in link_prediction(e.repartition(7)).collect()}
    assert again == aa


def test_pagerank_partitioning_invariant(spark):
    """The r7 nano trajectory is summation-order independent: identical
    output bits at adversarial partitionings (the clustering-family
    sweep discipline)."""
    edges = [("h", f"l{i}") for i in range(20)] + [(f"l{i}", "h") for i in range(10)]
    df = spark.createDataFrame(edges, "src string, dst string")
    outs = [
        {r.node: r.rank for r in pagerank(df.repartition(n)).collect()}
        for n in (1, 3, 17)
    ]
    assert outs[0] == outs[1] == outs[2]


def test_hits_partitioning_invariant(spark):
    """The r7 micro-unit trajectory is summation-order independent:
    identical output bits at adversarial partitionings."""
    from nlp_cube_spark.operators.graphstats import hits

    edges = [("h", f"l{i}") for i in range(20)] + [(f"l{i}", "h") for i in range(10)]
    df = spark.createDataFrame(edges, "src string, dst string")
    outs = [
        {(r.node): (r.hub, r.authority) for r in hits(df.repartition(n)).collect()}
        for n in (1, 3, 17)
    ]
    assert outs[0] == outs[1] == outs[2]

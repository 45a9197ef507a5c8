"""Entity linking + canonicalization tests."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from nlp_cube_spark.datagen import aliases_df, gen_aliases, pages_df
from nlp_cube_spark.operators import annotate as A, canonicalize as C, linking as LK


@pytest.fixture(scope="module")
def triples(spark):
    pages = pages_df(spark, 40, seed=99)
    return A.fused_triples(pages).localCheckpoint()


@pytest.fixture(scope="module")
def aliases(spark):
    return aliases_df(spark).localCheckpoint()


def test_link_variants_agree(spark, triples, aliases):
    """link_mentions == a plain-Python argmax over the alias rows
    (higher prior, then lower entity_id)."""
    m = LK.mentions_from_triples(triples)
    got = {tuple(r) for r in LK.link_mentions(m, aliases).collect()}
    best = {}
    for row in gen_aliases():
        cur = best.get(row["alias"])
        if cur is None or (row["prior"], -row["entity_id"]) > (cur["prior"], -cur["entity_id"]):
            best[row["alias"]] = row
    want = {
        (r.mention, best[r.mention]["entity_id"], best[r.mention]["prior"])
        for r in m.collect()
        if r.mention in best
    }
    assert got == want and len(got) > 0


def test_link_best_prior_wins(spark, aliases):
    m = spark.createDataFrame([("alice",)], "mention string")
    best = LK.link_mentions(m, aliases).collect()[0]
    cands = aliases.where("alias = 'alice'").orderBy(F.desc("prior"), F.asc("entity_id")).collect()
    assert best.entity_id == cands[0].entity_id


def test_link_triples_attaches_ids(spark, triples, aliases):
    linked = LK.link_triples(triples, aliases)
    assert linked.count() == triples.count()
    assert linked.where(F.col("subj_id").isNotNull()).count() > 0


def test_connected_components_known_graph(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")], "src string, dst string"
    )
    comps = {r.node: r.component for r in C.connected_components(edges).collect()}
    assert comps["a"] == comps["b"] == comps["c"] == "a"
    assert comps["x"] == comps["y"] == "x"
    assert comps["p"] == "p"


def test_connected_components_long_chain(spark, monkeypatch):
    """Pointer doubling: a 120-node chain converges in O(log d) rounds
    (pure min-propagation would need 120). Forced onto the distributed
    loop: the driver path would label it exactly at any max_iter."""
    monkeypatch.setattr(C, "LOCAL_EDGE_BOUND", 0)
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(120)], "src string, dst string"
    )
    comps = C.connected_components(edges, max_iter=10)
    assert {r.component for r in comps.collect()} == {"n000"}


def test_salting_helpers(spark):
    from nlp_cube_spark.operators import salting as S

    df = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", i) for i in range(3)],
        "k string, v int",
    )
    counts = {r.k: r["count"] for r in S.salted_agg_count(df, "k", n_salt=8).collect()}
    assert counts == {"hot": 500, "cold": 3}
    hot = [r.k for r in S.hot_keys(df, "k", min_count=100).collect()]
    assert hot == ["hot"]
    nd = {r.k: r.n_distinct for r in S.salted_distinct_count(df, "k", "v", n_salt=8).collect()}
    assert nd == {"hot": 500, "cold": 3}


def test_canonicalize_appos_cluster(spark, aliases):
    rows = [
        ("u1", 0, "en", "Alice", "appos", "scientist", "appos"),
        ("u1", 0, "en", "Alice", "admire", "Bob", "svo"),
    ]
    t = spark.createDataFrame(
        rows, "url string, sent_id int, lang string, subj string, pred string, obj string, pattern string"
    )
    linked = LK.link_triples(t, aliases)
    canon = C.canonicalize_triples(linked)
    got = {(r.subj, r.subj_canon) for r in canon.collect()}
    # alice and scientist share a component -> same canonical surface
    ents = {r.mention: r.canonical for r in C.canonical_entities(linked).collect()}
    assert ents["alice"] == ents["scientist"]


def test_connected_components_unconverged_raises(spark, monkeypatch):
    """A distributed loop that exhausts max_iter without a zero-change
    round raises instead of returning unconverged labels (the 120-chain
    needs 4 rounds; max_iter=4 allows 2)."""
    monkeypatch.setattr(C, "LOCAL_EDGE_BOUND", 0)
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(120)], "src string, dst string"
    )
    with pytest.raises(ValueError, match="max_iter=4"):
        C.connected_components(edges, max_iter=4)


def _star(spark, n_leaves):
    return spark.range(1, n_leaves + 1).select(
        F.lit("hub").alias("src"), F.concat(F.lit("leaf"), F.col("id")).alias("dst")
    )


def test_connected_components_star_local(spark):
    """The 20k-leaf star is under LOCAL_EDGE_BOUND: the driver path labels
    it exactly."""
    assert 2 * 20000 <= C.LOCAL_EDGE_BOUND
    comps = C.connected_components(_star(spark, 20000), max_iter=4)
    assert comps.count() == 20001
    assert comps.select("component").dropDuplicates().count() == 1
    assert comps.agg(F.min("component")).collect()[0][0] == "hub"


def test_connected_components_star_skew(spark, monkeypatch):
    """Adversarial mega-component: one hub with 20k leaves (the Zipf-head
    entity every doc mentions). Min-label propagation + pointer doubling
    must converge in ONE round (star diameter 2) — per-round work is O(E)
    shuffled on node id, and no single key concentrates rows because the
    groupBy key is the NODE, not the hub: each leaf is its own group; the
    hub's group has deg(hub) rows, which partial aggregation (min) combines
    map-side before the shuffle. Forced onto the distributed loop (the
    star is under LOCAL_EDGE_BOUND)."""
    monkeypatch.setattr(C, "LOCAL_EDGE_BOUND", 0)
    leaves = _star(spark, 20000)
    comps = C.connected_components(leaves, max_iter=4)
    assert comps.count() == 20001
    assert comps.select("component").dropDuplicates().count() == 1
    assert comps.agg(F.min("component")).collect()[0][0] == "hub"


# Node names whose order stresses the driver/Spark agreement: code-point
# order (Python) must equal UTF-8 binary order (Spark) — mixed case, Latin-1
# vs. BMP vs. astral-plane characters, eid: pivots, prefixes, the empty string.
_NAMES = ["a", "A", "Z", "z", "ab", "a b", "", "é", "É", "e\u0301", "€", "\U0001F600", "\U0001D518",
          "eid:1", "eid:2", "eid:10", "n0", "n1", "n2", "n3", "n4", "n5", "n6", "n7"]


@st.composite
def _edge_lists(draw):
    node = st.sampled_from(_NAMES)
    edges = []
    for _ in range(draw(st.integers(0, 4))):
        kind = draw(st.sampled_from(["chain", "star", "cycle", "loops"]))
        vs = draw(st.lists(node, min_size=1, max_size=8))
        edges += {
            "chain": list(zip(vs, vs[1:])),
            "star": [(vs[0], v) for v in vs[1:]],
            "cycle": list(zip(vs, vs[1:] + vs[:1])),
            "loops": [(v, v) for v in vs],
        }[kind]
    edges += draw(st.lists(st.tuples(st.none() | node, st.none() | node), max_size=6))
    again = draw(st.lists(st.sampled_from(edges), max_size=4)) if edges else []
    return edges + again + [(b, a) for a, b in again]


def _both_paths(fn):
    """fn() collected on the distributed loop and on the driver path."""
    out = []
    for bound in (0, 10**9):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(C, "LOCAL_EDGE_BOUND", bound)
            out.append(sorted(fn().collect()))
    return out


@given(edges=_edge_lists())
@settings(max_examples=25, deadline=None)
def test_connected_components_paths_agree(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    distributed, local = _both_paths(lambda: C.connected_components(df))
    assert local == distributed
    assert {n for n, _ in local} == {v for e in edges if None not in e for v in e}


@given(rows=st.lists(
    st.tuples(st.sampled_from(_NAMES + ["Alice", "ALICE", "Bob"]), st.sampled_from(_NAMES + ["alice"]),
              st.sampled_from(["appos", "svo"]), st.none() | st.integers(1, 4), st.none() | st.integers(1, 4)),
    max_size=12,
))
@settings(max_examples=15, deadline=None)
def test_canonical_entities_paths_agree(spark, rows):
    t = spark.createDataFrame(rows, "subj string, obj string, pattern string, subj_id long, obj_id long")
    distributed, local = _both_paths(lambda: C.canonical_entities(t))
    assert local == distributed

"""Entity linking + canonicalization tests."""

import pytest
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


def test_connected_components_long_chain(spark):
    """Pointer doubling: a 120-node chain converges in O(log d) rounds
    (pure min-propagation would need 120)."""
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


def test_connected_components_star_skew(spark):
    """Adversarial mega-component: one hub with 20k leaves (the Zipf-head
    entity every doc mentions). Min-label propagation + pointer doubling
    must converge in ONE round (star diameter 2) — per-round work is O(E)
    shuffled on node id, and no single key concentrates rows because the
    groupBy key is the NODE, not the hub: each leaf is its own group; the
    hub's group has deg(hub) rows, which partial aggregation (min) combines
    map-side before the shuffle."""
    from pyspark.sql import functions as F

    leaves = spark.range(1, 20001).select(
        F.lit("hub").alias("src"), F.concat(F.lit("leaf"), F.col("id")).alias("dst")
    )
    comps = C.connected_components(leaves, max_iter=4)
    assert comps.count() == 20001
    assert comps.select("component").dropDuplicates().count() == 1
    assert comps.agg(F.min("component")).collect()[0][0] == "hub"

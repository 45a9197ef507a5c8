"""Canonicalization: lemma-normalized surface forms + connected components.

Co-referring node clustering over an equivalence-edge DataFrame
(north rule / SURVEY.md §2c): edges come from (a) apposition triples
("Alice, the scientist" => alice ~ scientist-alias-of-alice) and (b)
mentions linked to the same entity_id. Components are computed without a
GraphFrames dependency; deterministic: canonical id = min node id in the
component.

Two physical paths over ONE materialized edge set. The symmetric,
deduplicated, null-free edge table is localCheckpointed once, and its row
count rides that checkpoint job as an Observation (no extra job):
- at or under LOCAL_EDGE_BOUND rows (the usual case: the alias/coref
  graph is a vocabulary-sized dimension, ~10^2 edges on the fixture,
  ~10^3 at sf1.0) it is collected and labeled on the driver by a
  path-halving union-find whose root is always the lexicographic minimum
  — exactly the converged labeling of the loop below, since Python's
  code-point order equals Spark's UTF-8 binary string order. A loop over
  such a dimension spends its time scheduling jobs, not moving data
  (cf. SparkER, EDBT 2019: after blocking the resolution graph is
  dimension-sized). The bound guards driver memory; it is not a speed
  crossover (see LOCAL_EDGE_BOUND);
- over the bound, a pure DataFrame iterative min-label propagation runs
  on the same checkpoint, so the (possibly costly) edge input is never
  recomputed. Each round is one shuffle on node id; lineage is cut with
  localCheckpoint() per round (SURVEY.md §4 item 3) so plans don't grow.
  Pointer doubling settles chains and stars in O(log diameter) steps;
  random graphs can need about O(diameter) (CHANGES.md, FOUND). A loop
  that reaches max_iter without a zero-change round raises ValueError
  instead of returning unconverged labels, so both paths return the
  exact components or an error.

Skew note (tested: test_connected_components_star_skew, 20k-leaf hub, on
both paths): on the distributed path a mega-component does NOT
concentrate on one reducer — the per-round groupBy key is the NODE, so
each leaf is its own group and the hub's deg(hub)-row group is collapsed
map-side by partial min() before the shuffle. The residual cost of a
mega-component is edge-table size, not key skew.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import StructField, StructType

# Symmetric edge rows (both directions of every distinct non-self edge,
# plus self-loops) at or under which components are labeled on the
# driver: ~4*10^5 input edges, whose union-find peaked at ~210 MB of
# driver Python memory (tracemalloc, CHANGES.md). A driver-memory guard,
# not a speed crossover: on 4 vCPU the driver path beat the loop at every
# size measured, up to 1.6*10^6 edges.
LOCAL_EDGE_BOUND = 800_000


def _union_find(pairs) -> list[tuple]:
    """Exact [(node, component)] for an edge list: path-halving union-find
    whose every root is the lexicographic minimum of its set."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        a, b = find(a), find(b)
        if a != b:
            if a < b:
                parent[b] = a
            else:
                parent[a] = b
    return [(x, find(x)) for x in parent]


def connected_components(edges: DataFrame, max_iter: int = 15) -> DataFrame:
    """edges (src, dst) -> (node, component), both of the src/dst type.

    component = lexicographic min node reachable; undirected. max_iter
    bounds the distributed loop's propagation steps (the driver path is
    exact regardless); ValueError when the loop has not converged."""
    sym = edges.select("src", "dst").union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    obs = Observation("cc_edges")
    sym = (
        sym.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()  # eager: materializes AND fills the observation
    )
    try:
        n = int(obs.get["n"])
    except Exception:
        # AQE empty-relation pruning can drop CollectMetrics on an empty
        # plan (as in _propagate); count the checkpoint, never assume a size
        n = sym.count()
    if n > LOCAL_EDGE_BOUND:
        return _propagate(sym, max_iter)
    # one direction of each edge suffices (self-loops kept via <=): every
    # node of sym still occurs as src or dst
    labels = _union_find(sym.where(F.col("src") <= F.col("dst")).collect())
    # shipped as Arrow: a local list is pickled through a Python worker
    # (~0.8 s even for 150 rows); one partition keeps downstream writes
    # from fanning out into one file per slice
    cols = list(zip(*labels)) or [(), ()]
    t = sym.schema["src"].dataType
    return sym.sparkSession.createDataFrame(
        pa.table({"node": pa.array(cols[0]), "component": pa.array(cols[1])}),
        StructType([StructField("node", t), StructField("component", t)]),
    ).coalesce(1)


def _propagate(sym: DataFrame, max_iter: int) -> DataFrame:
    """Distributed min-label propagation over the checkpointed symmetric
    edge set.

    ONE job per round: the convergence check rides the checkpoint job as
    an Observation instead of a second count() job (two tiny jobs per
    round doubled the canonicalize phase of kg_build_graph)."""
    nodes = sym.select(F.col("src").alias("node")).dropDuplicates()
    labels = nodes.withColumn("component", F.col("node"))

    def _step(lbl: DataFrame) -> DataFrame:
        # hop: min label over neighbors + self, then pointer-doubling:
        # component <- component(component) — O(log diameter) steps on
        # chains and stars; random graphs can still need about
        # O(diameter) (module docstring)
        nbr = (
            sym.join(lbl, sym["src"] == lbl["node"])
            .select(F.col("dst").alias("node"), "component")
        )
        hop = (
            nbr.unionByName(lbl.select("node", "component"))
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        parent = hop.select(F.col("node").alias("_p"), F.col("component").alias("_pc"))
        return hop.join(parent, hop["component"] == parent["_p"], "left").select(
            "node", F.least(F.col("component"), F.coalesce("_pc", "component")).alias("component")
        )

    # TWO propagation steps per materialized round: the loop runs on a
    # vocab-sized dimension where per-round cost is job scheduling + the
    # checkpoint, not data (docstring above) — pairing steps halves the
    # job count while the label evolution stays the exact same function
    # sequence (a converged labeling is a fixed point of _step, so the
    # extra step of a pair never changes anything after convergence).
    for i in range(0, max_iter, 2):
        stepped = _step(labels)
        if i + 1 < max_iter:
            stepped = _step(stepped)
        old = labels.select("node", F.col("component").alias("_old"))
        merged = stepped.join(old, "node")  # node-keyed like everything else
        obs = Observation(f"cc_changed_{i}")
        new_labels = (
            merged.observe(
                obs,
                F.sum(
                    F.when(F.col("component") != F.col("_old"), 1).otherwise(0)
                ).alias("n"),
            )
            .select("node", "component")
            .localCheckpoint()  # eager: materializes AND fills the observation
        )
        try:
            changed = int(obs.get["n"] or 0)
        except Exception:
            # AQE empty-relation pruning drops CollectMetrics on an empty
            # plan (CLAUDE.md) — but NEVER assume convergence on an
            # arbitrary failure: an explicit comparison job is the
            # fallback (it reads the already-checkpointed tables, so this
            # path costs one small job only when the observation is lost)
            changed = (
                new_labels.join(old, "node")
                .where(F.col("component") != F.col("_old"))
                .limit(1)
                .count()
            )
        labels = new_labels
        if changed == 0:
            return labels
    raise ValueError(
        f"connected_components: no zero-change round within max_iter={max_iter} "
        "propagation steps; labels would be unconverged — raise max_iter"
    )


def canonical_entities(linked_triples: DataFrame) -> DataFrame:
    """linked triples -> (mention, canonical_id STRING, canonical STRING).

    Equivalence edges:
      - appos pattern: subj ~ obj
      - same linked entity_id: mention ~ mention (via entity pivot node)
    Canonical surface = min mention in component (deterministic).
    """
    # distinct before the union: appos triples repeat the same surface
    # pair millions of times at scale (1.46M rows -> ~10^3 distinct at
    # sf1.0); partial (map-side) aggregation collapses them here, so the
    # cc sym-build dedups a dimension instead of re-scanning the corpus
    # volume twice (once per union direction)
    appos_edges = (
        linked_triples.where(F.col("pattern") == "appos")
        .select(F.lower("subj").alias("src"), F.lower("obj").alias("dst"))
        .dropDuplicates()
    )
    ent_edges = (
        linked_triples.select(F.lower("subj").alias("m"), F.col("subj_id").alias("eid"))
        .unionByName(linked_triples.select(F.lower("obj").alias("m"), F.col("obj_id").alias("eid")))
        .where(F.col("eid").isNotNull())
        .dropDuplicates()
        .select(F.col("m").alias("src"), F.concat(F.lit("eid:"), F.col("eid")).alias("dst"))
    )
    edges = appos_edges.unionByName(ent_edges)
    comps = connected_components(edges)
    mention_comps = comps.where(~F.col("node").startswith("eid:"))
    canon = mention_comps.groupBy("component").agg(F.min("node").alias("canonical"))
    return (
        mention_comps.join(canon, "component")
        .select(F.col("node").alias("mention"), F.col("component").alias("canonical_id"), "canonical")
    )


def attach_canon(triples: DataFrame, entities: DataFrame) -> DataFrame:
    """triples + subj_canon/obj_canon from an entities dimension (mention,
    canonical): two broadcast joins on lower(subj|obj) — the dimension is
    vocab-sized — and a mention outside it is its own lower() canon."""
    csub = F.broadcast(entities.select(F.col("mention").alias("_cs"), F.col("canonical").alias("subj_canon")))
    cobj = F.broadcast(entities.select(F.col("mention").alias("_co"), F.col("canonical").alias("obj_canon")))
    return (
        triples.join(csub, F.lower(triples["subj"]) == F.col("_cs"), "left")
        .join(cobj, F.lower(triples["obj"]) == F.col("_co"), "left")
        .withColumn("subj_canon", F.coalesce("subj_canon", F.lower("subj")))
        .withColumn("obj_canon", F.coalesce("obj_canon", F.lower("obj")))
        .drop("_cs", "_co")
    )


def canonicalize_triples(linked_triples: DataFrame) -> DataFrame:
    """Rewrite subj/obj to canonical surfaces; keep originals."""
    return attach_canon(linked_triples, canonical_entities(linked_triples))

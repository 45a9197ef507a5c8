"""KG-embedding training-data preparation: deterministic negative
sampling over the triple store.

The corruption protocol is TransE's (Bordes et al. 2013, "Translating
Embeddings for Modeling Multi-relational Data", NeurIPS — public
knowledge; no counterpart in the reference): for every true triple
(s, p, o) draw k negatives by replacing EITHER the subject or the
object with an entity sampled uniformly from the entity vocabulary,
and (the 'filtered' setting, Bordes §4) discard corruptions that
happen to be true triples.

Randomness is hash-derived (the repo's no-RNG discipline): the side
choice and the replacement entity index are md5 functions of
(s, p, o, sample_id), so the sample set is a pure function of the
triple store — reproducible on any engine / partitioning, and fully
DuckDB-oracle-replayable.

Scale shape: the entity vocabulary gets a dense rank once (a
dimension-sized window — at web scale swap in the range-partitioned
rank of vocab._rank_ids, same contract) and is joined back by rank
(broadcast at dimension size); the k-fold expansion is a posexplode of
sequence(1, k) — map-side; the filtered-setting check is one anti-join
on the triple key.  Nothing shuffles wider than k x |triples|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# 60-bit md5 prefix as BIGINT — the oracle-portable hash used across the
# dedup/sampling family (dedup.H60's expression shape)
_H60 = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"


def corrupt_triples(
    triples: DataFrame,
    k: int = 2,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """k hash-derived negatives per true triple, filtered setting.

    Returns (subj, pred, obj, sample_id, corrupted, neg_subj, neg_obj):
    the original triple, which side was corrupted ('subj'|'obj'), and
    the corrupted pair.  Negatives whose replacement equals the original
    entity, or which reconstruct a TRUE triple (filtered setting), are
    dropped — so a triple can yield fewer than k rows; the drop is the
    protocol, not a cap.  k < 1 raises ValueError."""
    if k < 1:
        raise ValueError(f"corrupt_triples needs k >= 1, got {k}")
    trips = (
        triples.select(subj_col, pred_col, obj_col)
        .where(
            F.col(subj_col).isNotNull()
            & F.col(pred_col).isNotNull()
            & F.col(obj_col).isNotNull()
        )
        .dropDuplicates()
        .localCheckpoint(eager=False)  # feeds entities, expansion, anti-join
    )
    ents = (
        trips.select(F.col(subj_col).alias("entity"))
        .unionByName(trips.select(F.col(obj_col).alias("entity")))
        .dropDuplicates()
    )
    # dense 0-based rank over the entity dimension; vocab._rank_ids is
    # the range-partitioned form of this when the dimension outgrows one
    # window partition
    ents = ents.select(
        "entity",
        (F.row_number().over(Window.orderBy("entity")) - 1).alias("_rank"),
    )
    n_ents = ents.groupBy().agg(F.count(F.lit(1)).alias("_n"))

    h = _H60.format(
        x=f"concat({subj_col}, chr(1), {pred_col}, chr(1), {obj_col}, chr(1), sample_id)"
    )
    exp = (
        trips.select(
            subj_col,
            pred_col,
            obj_col,
            F.explode(F.expr(f"sequence(1, {int(k)})")).alias("sample_id"),
        )
        .crossJoin(F.broadcast(n_ents))
        .select(
            subj_col,
            pred_col,
            obj_col,
            "sample_id",
            F.expr(f"{h} % 2 = 0").alias("_corrupt_subj"),
            F.expr(f"({h} div 2) % _n").alias("_rank"),
        )
    )
    repl = exp.join(F.broadcast(ents), "_rank").select(
        subj_col,
        pred_col,
        obj_col,
        "sample_id",
        F.when(F.col("_corrupt_subj"), F.lit("subj")).otherwise(F.lit("obj")).alias(
            "corrupted"
        ),
        F.when(F.col("_corrupt_subj"), F.col("entity"))
        .otherwise(F.col(subj_col))
        .alias("neg_subj"),
        F.when(F.col("_corrupt_subj"), F.col(obj_col))
        .otherwise(F.col("entity"))
        .alias("neg_obj"),
    )
    # no-op corruptions out, then the filtered setting: a negative that
    # IS a true triple teaches nothing
    repl = repl.where(
        (F.col("neg_subj") != F.col(subj_col)) | (F.col("neg_obj") != F.col(obj_col))
    )
    truth = trips.select(
        F.col(subj_col).alias("neg_subj"),
        F.col(pred_col).alias(pred_col),
        F.col(obj_col).alias("neg_obj"),
    )
    return repl.join(truth, ["neg_subj", pred_col, "neg_obj"], "left_anti").select(
        subj_col, pred_col, obj_col, "sample_id", "corrupted", "neg_subj", "neg_obj"
    )


# 52-bit md5 prefix: an EXACT double (the repo's hash-uniform discipline)
_H52 = "cast(conv(substr(md5({x}), 1, 13), 16, 10) as bigint)"


def transe_train(
    triples: DataFrame,
    dim: int = 4,
    iters: int = 2,
    lr: float = 0.01,
    margin: float = 1.0,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Full-batch TransE training (Bordes et al. 2013) over the triple
    store — KG embeddings ON Spark, the step after corrupt_triples in an
    embedding-training pipeline.  No counterpart in the reference.

    Model: entity/relation vectors e in R^dim, dissimilarity
    d(s, p, o) = ||s + p - o||^2 (the paper's L2 flavour, squared —
    equivalent subgradients), margin ranking loss over (positive,
    hash-corrupted negative) pairs from corrupt_triples(k=1), full-batch
    subgradient descent (the deterministic batch form of the paper's
    SGD; negatives fixed across iterations, the paper's per-epoch
    resampling being an RNG device this engine replaces with hashing).
    The paper's unit-norm projection is deliberately dropped (it would
    put a sqrt on the trajectory); at 2-3 demo iterations the margin
    term keeps the geometry — document-level consumers wanting the
    constraint can normalize the OUTPUT once.

    Determinism (the LR/DSIR integer-trajectory discipline): embeddings
    live as integer MICRO-units (1e-6).  Residuals r = s + p - o are
    exact integers; squared distances sum r^2 exactly (|r| <= ~4e6, dim
    small => < 2^53 and < 2^63); the margin test compares integers; the
    per-parameter gradient is an exact BIGINT sum over violated pairs
    (any summation order); the update v -= floor(lr * G + 0.5) is one
    double multiply + floor, bit-identical on any engine.  The whole
    iters-step trajectory is therefore hash-certifiable by an unrolled
    DuckDB CTE chain.

    Returns (kind 'entity'|'relation', name, pos, val DOUBLE) — the
    trained vectors, val = micro / 1e6 (one exact division).

    Scale shape: per iteration the pair table joins the embedding
    dimension 5 times on (name, pos) equi-keys (broadcast at fixture
    scale, AQE shuffle joins at web scale), one pair-keyed hash agg for
    the margin mask, one stack + hash agg for gradients, and the
    embedding table is localCheckpointed per round (5 consumers; the
    CLAUDE.md shared-subtree rule).  Nothing is ever all-pairs and
    nothing collects to the driver.  dim < 1 raises ValueError."""
    if dim < 1:
        raise ValueError(f"transe_train needs dim >= 1, got {dim}")
    trips = (
        triples.select(subj_col, pred_col, obj_col)
        .where(
            F.col(subj_col).isNotNull()
            & F.col(pred_col).isNotNull()
            & F.col(obj_col).isNotNull()
        )
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    pairs = corrupt_triples(trips, k=1, subj_col=subj_col,
                            pred_col=pred_col, obj_col=obj_col).localCheckpoint(
        eager=False
    )
    ents = (
        trips.select(F.col(subj_col).alias("name"))
        .unionByName(trips.select(F.col(obj_col).alias("name")))
        .dropDuplicates()
        .select(F.lit("entity").alias("kind"), "name")
    )
    rels = trips.select(
        F.lit("relation").alias("kind"), F.col(pred_col).alias("name")
    ).dropDuplicates()
    h = _H52.format(x="concat(kind, chr(1), name, chr(1), pos)")
    emb = (
        ents.unionByName(rels)
        .select("kind", "name", F.explode(F.expr(f"sequence(0, {dim - 1})")).alias("pos"))
        .select("kind", "name", "pos", F.expr(f"{h} % 2000001 - 1000000").alias("v"))
        .localCheckpoint(eager=False)
    )
    margin_mu2 = int(round(margin * 1e12))  # micro^2 units, exact for sane margins
    for _ in range(iters):
        es = emb.where(F.col("kind") == "entity").select("name", "pos", "v")
        rs = emb.where(F.col("kind") == "relation").select("name", "pos", "v")
        b = (
            pairs.join(es.select(F.col("name").alias(subj_col), "pos",
                                 F.col("v").alias("_vs")), [subj_col])
            .join(rs.select(F.col("name").alias(pred_col), "pos",
                            F.col("v").alias("_vp")), [pred_col, "pos"])
            .join(es.select(F.col("name").alias(obj_col), "pos",
                            F.col("v").alias("_vo")), [obj_col, "pos"])
            .join(es.select(F.col("name").alias("neg_subj"), "pos",
                            F.col("v").alias("_vns")), ["neg_subj", "pos"])
            .join(es.select(F.col("name").alias("neg_obj"), "pos",
                            F.col("v").alias("_vno")), ["neg_obj", "pos"])
            .select(
                subj_col, pred_col, obj_col, "sample_id", "neg_subj", "neg_obj",
                "pos",
                (F.col("_vs") + F.col("_vp") - F.col("_vo")).alias("_rp"),
                (F.col("_vns") + F.col("_vp") - F.col("_vno")).alias("_rn"),
            )
            .localCheckpoint(eager=False)  # feeds the mask agg AND the grads
        )
        keys = [subj_col, pred_col, obj_col, "sample_id"]
        mask = (
            b.groupBy(*keys)
            .agg(
                F.sum(F.col("_rp") * F.col("_rp")).alias("_dp"),
                F.sum(F.col("_rn") * F.col("_rn")).alias("_dn"),
            )
            .where(F.col("_dp") + F.lit(margin_mu2) > F.col("_dn"))
            .select(*keys)
        )
        grads = (
            b.join(mask, keys)
            .select(
                "pos",
                F.expr(
                    f"stack(5, 'entity', {subj_col}, 2 * _rp,"
                    f" 'entity', {obj_col}, -2 * _rp,"
                    f" 'relation', {pred_col}, 2 * (_rp - _rn),"
                    " 'entity', neg_subj, -2 * _rn,"
                    " 'entity', neg_obj, 2 * _rn) as (kind, name, g)"
                ),
            )
            .groupBy("kind", "name", "pos")
            .agg(F.sum("g").alias("_g"))
        )
        emb = (
            emb.join(grads, ["kind", "name", "pos"], "left")
            .select(
                "kind", "name", "pos",
                (
                    F.col("v")
                    - F.coalesce(
                        F.floor(F.lit(lr) * F.col("_g") + F.lit(0.5)).cast("bigint"),
                        F.lit(0),
                    )
                ).alias("v"),
            )
            .localCheckpoint(eager=False)
        )
    return emb.select(
        "kind", "name", "pos", (F.col("v").cast("double") / F.lit(1e6)).alias("val")
    )


def transe_completion_topk(
    embeddings: DataFrame,
    triples: DataFrame,
    k: int = 3,
    queries: DataFrame | None = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Link-prediction ranking with trained TransE vectors — the
    standard KG-completion protocol (Bordes 2013 §4 'filtered'
    evaluation): for each (subj, pred) query rank every candidate
    entity by d(s + p - e) ascending, EXCLUDING candidates that form a
    known true triple, and keep the top k (ties to the lexicographically
    smaller entity).

    `embeddings` is transe_train's output.  Scoring is EXACT integer
    arithmetic end-to-end: components recover their micro-units via
    floor(val * 1e6 + 0.5) (a lossless round trip of the trainer's
    v / 1e6), residuals and squared distances are BIGINT sums — the
    rank can never be decided by a float ulp, on any engine or
    partitioning.  Returns (subj, pred, candidate, dist, rank) with
    dist = micro^2 units / 1e12 (one exact division).

    Scale shape: the score space is |queries| x |entities| x dim — the
    ranking is INHERENTLY candidate-exhaustive (that is the protocol);
    bound it by the queries frame, and at web scale serve candidates
    from the ANN family instead (pq_topk over s + p as the query
    vector) — this operator is the exact re-ranker at the end of that
    funnel.  Joins are all equi (name/pos keys); the known-truth
    exclusion is one anti-join."""
    micro = embeddings.select(
        "kind",
        "name",
        "pos",
        F.floor(F.col("val") * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("m"),
    ).localCheckpoint(eager=False)  # 3 consumers below
    ent = micro.where(F.col("kind") == "entity").select("name", "pos", "m")
    rel = micro.where(F.col("kind") == "relation").select("name", "pos", "m")
    trips = triples.select(subj_col, pred_col, obj_col).dropDuplicates()
    qs = (
        queries
        if queries is not None
        else trips.select(subj_col, pred_col).dropDuplicates()
    )
    scored = (
        qs.join(
            ent.select(F.col("name").alias(subj_col), "pos", F.col("m").alias("_ms")),
            [subj_col],
        )
        .join(
            rel.select(F.col("name").alias(pred_col), "pos", F.col("m").alias("_mp")),
            [pred_col, "pos"],
        )
        .join(
            ent.select(F.col("name").alias("candidate"), "pos", F.col("m").alias("_me")),
            ["pos"],
        )
        .select(
            subj_col,
            pred_col,
            "candidate",
            ((F.col("_ms") + F.col("_mp") - F.col("_me"))
             * (F.col("_ms") + F.col("_mp") - F.col("_me"))).alias("_r2"),
        )
        .groupBy(subj_col, pred_col, "candidate")
        .agg(F.sum("_r2").alias("_d"))
        .join(
            trips.select(
                subj_col, pred_col, F.col(obj_col).alias("candidate")
            ),
            [subj_col, pred_col, "candidate"],
            "left_anti",
        )
    )
    w = Window.partitionBy(subj_col, pred_col).orderBy(
        F.asc("_d"), F.asc("candidate")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            subj_col,
            pred_col,
            "candidate",
            (F.col("_d").cast("double") / F.lit(1e12)).alias("dist"),
            "rank",
        )
    )


def transe_filtered_eval(
    embeddings: DataFrame,
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Filtered link-prediction metrics (Bordes et al. 2013 §4 — MRR,
    Hits@{1,3,10}, mean rank): for every true triple (s, p, o), the
    rank of o among all candidate tails by exact integer TransE
    distance, EXCLUDING other known-true tails of (s, p) (the filtered
    protocol), ties broken lexicographically. The standard train-time
    quality meter for the KG-embedding family.

    Returns one row: (n_queries, mrr, mean_rank, hits_at_1, hits_at_3,
    hits_at_10). Exactness: distances are BIGINT (the completion
    ranker's device); the rank is 1 + an integer count (never a window
    over floats); 1/rank accumulates as `1e9 div rank` BIGINTs, so MRR
    is summation-order independent before its single rounded division.

    Scale shape: the score space is |distinct (s,p)| x |entities| —
    candidate-exhaustive BY PROTOCOL (same note as
    transe_completion_topk: at web scale pre-filter candidates with the
    ANN family and use this as the exact re-ranker metric). All joins
    equi; the scored frame is localCheckpointed (two consumers).
    """
    micro = embeddings.select(
        "kind",
        "name",
        "pos",
        F.floor(F.col("val") * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("m"),
    )
    ent = micro.where(F.col("kind") == "entity").select("name", "pos", "m")
    rel = micro.where(F.col("kind") == "relation").select("name", "pos", "m")
    trips = (
        triples.select(subj_col, pred_col, obj_col)
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    sq = (
        trips.select(subj_col, pred_col)
        .dropDuplicates()
        .join(ent.select(F.col("name").alias(subj_col), "pos", F.col("m").alias("_sm")), subj_col)
        .join(
            rel.select(F.col("name").alias(pred_col), "pos", F.col("m").alias("_pm")),
            [pred_col, "pos"],
        )
        .join(
            ent.select(F.col("name").alias("candidate"), "pos", F.col("m").alias("_cm")),
            "pos",
        )
        .groupBy(subj_col, pred_col, "candidate")
        .agg(
            F.sum(
                (F.col("_sm") + F.col("_pm") - F.col("_cm"))
                * (F.col("_sm") + F.col("_pm") - F.col("_cm"))
            ).alias("_d")
        )
        .localCheckpoint(eager=False)
    )
    dq = trips.join(
        sq.select(subj_col, pred_col, F.col("candidate").alias(obj_col), F.col("_d").alias("_do")),
        [subj_col, pred_col, obj_col],
    )
    truth = trips.select(
        subj_col, pred_col, F.col(obj_col).alias("candidate"), F.lit(1).alias("_true")
    )
    scored = (
        dq.join(sq, [subj_col, pred_col])
        .join(truth, [subj_col, pred_col, "candidate"], "left")
        .withColumn(
            "_beats",
            (
                F.col("_true").isNull()
                & (
                    (F.col("_d") < F.col("_do"))
                    | ((F.col("_d") == F.col("_do")) & (F.col("candidate") < F.col(obj_col)))
                )
            ).cast("int"),
        )
        .groupBy(subj_col, pred_col, obj_col)
        .agg((F.lit(1) + F.sum("_beats")).cast("bigint").alias("rank"))
    )
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    agg = scored.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.expr("1000000000L div rank")).alias("_rr"),
        F.sum("rank").alias("_sr"),
        F.sum((F.col("rank") <= 1).cast("long")).alias("_h1"),
        F.sum((F.col("rank") <= 3).cast("long")).alias("_h3"),
        F.sum((F.col("rank") <= 10).cast("long")).alias("_h10"),
    )
    n = F.col("_n").cast("double")
    return agg.select(
        F.col("_n").cast("bigint").alias("n_queries"),
        r6((F.col("_rr").cast("double") / n) / F.lit(1e9)).alias("mrr"),
        r6(F.col("_sr").cast("double") / n).alias("mean_rank"),
        r6(F.col("_h1").cast("double") / n).alias("hits_at_1"),
        r6(F.col("_h3").cast("double") / n).alias("hits_at_3"),
        r6(F.col("_h10").cast("double") / n).alias("hits_at_10"),
    )

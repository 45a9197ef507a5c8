"""Entity linking: candidate generation + best-candidate selection.

Reference has no linking stage; semantics per SURVEY.md §2c / north rule:
- candidate generation = broadcast join of mention surface/lemma forms
  against the alias dictionary (dimension-sized -> F.broadcast, never a
  shuffle of the fact side);
- scoring = alias prior (deterministic v0 scorer; a learned scorer would
  slot into the same argmax);
- selection = argmax per mention (`link_mentions`): groupBy + max_by over
  a struct — one partial-aggregatable shuffle, no sort. Ties broken by
  (higher prior, lower entity_id): fully deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def derived_aliases(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Self-derived alias dictionary over a closed-vocabulary corpus.

    Every distinct lower-cased whitespace token becomes an alias with a
    deterministic md5-derived entity id; tokens starting with s/m get a
    SECOND higher-prior candidate so the linker's argmax is discriminating.
    All math is md5-based (engine-portable) so a SQL oracle can replay
    linking + canonicalization bit-for-bit. At scale this shape is the
    classic 'mine the corpus for an alias table' bootstrap: one distinct
    over tokens (vocab-sized result), then broadcast."""
    toks = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("alias"))
        .where(F.col("alias") != "")
        .select(F.lower("alias").alias("alias"))
        .dropDuplicates()
    )
    h60 = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"
    base = toks.select(
        "alias",
        (F.expr(h60.format(x="alias")) % 9000 + 1000).alias("entity_id"),
        F.lit(0.8).alias("prior"),
    )
    alt = toks.where(F.col("alias").rlike("^[sm]")).select(
        "alias",
        (F.expr(h60.format(x="concat(alias, '#2')")) % 9000 + 10000).alias("entity_id"),
        F.lit(0.9).alias("prior"),
    )
    return base.unionByName(alt)


def mentions_from_triples(triples: DataFrame) -> DataFrame:
    """Distinct mention surface forms from subj+obj positions."""
    subs = triples.select(F.lower("subj").alias("mention"))
    objs = triples.select(F.lower("obj").alias("mention"))
    return subs.unionByName(objs).dropDuplicates()


def candidates(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """mention x alias-dictionary candidates (broadcast hash join)."""
    return mentions.join(
        F.broadcast(aliases), mentions["mention"] == aliases["alias"], "inner"
    ).select("mention", "entity_id", "prior")


def link_mentions(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """Best candidate per mention via max_by (partial-agg friendly)."""
    cand = candidates(mentions, aliases)
    rank_key = F.struct(F.col("prior"), (-F.col("entity_id")).alias("neg_id"))
    return cand.groupBy("mention").agg(
        F.max_by(F.col("entity_id"), rank_key).alias("entity_id"),
        F.max("prior").alias("score"),
    )


def link_triples(triples: DataFrame, aliases: DataFrame) -> DataFrame:
    """Attach subj_id/obj_id to triples; unlinked mentions get NULL ids.

    The linked-mentions table is mention-distinct (Zipf-bounded vocabulary),
    so both attach joins broadcast."""
    # checkpoint the mention dimension: it feeds TWO broadcast builds
    # (subj/obj attach) whose subtrees differ only by aliases, so Spark
    # cannot reuse the exchange — unmaterialized, each broadcast re-ran
    # the two corpus scans + dedup + argmax behind link_mentions
    linked = link_mentions(mentions_from_triples(triples), aliases).localCheckpoint()
    lsub = F.broadcast(linked.select(F.col("mention").alias("_ms"), F.col("entity_id").alias("subj_id")))
    lobj = F.broadcast(linked.select(F.col("mention").alias("_mo"), F.col("entity_id").alias("obj_id")))
    return (
        triples.join(lsub, F.lower(triples["subj"]) == F.col("_ms"), "left")
        .join(lobj, F.lower(triples["obj"]) == F.col("_mo"), "left")
        .drop("_ms", "_mo")
    )

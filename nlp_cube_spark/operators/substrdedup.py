"""Exact-substring deduplication (Lee et al. 2021, "Deduplicating
Training Data Makes Language Models Better", the ExactSubstr dedup):
find maximal token spans of length >= min_len shared verbatim between
two documents, and the per-document fraction of tokens covered by such
shared spans.

The published implementation builds a monolithic suffix array — a
single-node data structure that cannot shard.  The Spark-first
re-expression uses hashed k-gram ANCHORS + diagonal island merging,
which is pure DataFrame algebra and fully SQL-replayable:

  1. anchors   — posexplode of THE one n-gram definition
                 (textstats.ngrams_sql: one codegen'd regex pass, no
                 HOF lambdas) gives (doc, token_pos, gram); the gram
                 string is immediately hashed to 60 bits (md5-based —
                 the engine-portable convention) and DROPPED, so only
                 (id, pos, gh) ever reaches a shuffle.
  2. hot cap   — grams seen in < 2 docs are pruned (they cannot form a
                 cross-doc pair: at sf0.01 this cuts 22.6k grams to
                 ~1k before the self-join); grams in > max_docs_per_gram
                 docs are ALSO dropped (boilerplate super-grams would
                 otherwise quadratically explode the pair join — same
                 discipline as the LSH hot-bucket cap, dedup.py).
  3. pairs     — self-equi-join on the gram hash, doc_a < doc_b: each
                 row is one aligned anchor (doc_a, pos_a, doc_b, pos_b).
  4. islands   — anchors of one shared span sit on one DIAGONAL
                 (pos_a - pos_b constant) at consecutive pos_a; the
                 classic gaps-and-islands trick (pos_a - row_number)
                 merges them; span_len = max(pos_a) - min(pos_a) + k.
  5. coverage  — the HIGHER doc_id of a pair is the duplicate side
                 (same keep-first rule as exact_duplicates); its span
                 intervals are distinct-ed, union-merged with a
                 running-max-end window, and summed into dup_tokens /
                 dup_fraction per document.

100 TB shape: the only shuffles are keyed on the gram hash (uniform by
construction, hot keys capped) and on (doc_a, doc_b, diag) — pair-graph
sized, bounded by doc length per partition.  No all-pairs or cartesian
path exists; anchor volume is O(total tokens) with constant row width.
Positions are 0-based token offsets into the whitespace-normalized
token sequence.

Hash-anchor approximation vs the reference algorithm: two distinct
k-grams colliding in the 60-bit hash could fabricate an anchor
(~2^-60 per pair); a true shared span shorter than k tokens is
invisible.  Both are documented trade-offs of the sharded design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from nlp_cube_spark.operators.dedup import _h60
from nlp_cube_spark.operators.textstats import ngrams_sql


def exact_substring_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_len: int = 12,
    max_docs_per_gram: int = 64,
) -> DataFrame:
    """Maximal cross-document shared token spans of >= min_len tokens.

    Returns (doc_a, doc_b, a_start, b_start, span_len) with
    doc_a < doc_b; *_start are 0-based token offsets, span_len is in
    tokens.  min_len must be >= k (a span shorter than the anchor gram
    cannot be observed).

    Anchor grams are keyed by their 60-bit md5 hash, the hash the
    DuckDB oracle replays.

    The cap is COUNT(DISTINCT doc) per gram — constant-size agg state,
    never a per-group value buffer (a collect-the-bucket formulation
    would buffer a hot gram's full row list in one agg key).  Two lazy
    localCheckpoints, always: `anchors` feeds both the keep agg and the
    shared join, and `shared` (the surviving anchors — near-dup-volume,
    tiny next to the corpus) feeds both self-join sides. Spark does not
    dedupe identical subtrees across join branches (CLAUDE.md), so
    without them each branch re-scans the corpus and re-runs the gram
    regex + md5 hashing.
    """
    if min_len < k:
        raise ValueError(f"min_len ({min_len}) must be >= k ({k})")
    anchors = (
        docs.select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.expr(ngrams_sql(text_col, k))).alias("pos", "gram"),
        )
        # hash + drop the gram string BEFORE any shuffle
        .select("_id", "pos", F.expr(_h60("gram")).alias("gh"))
        .localCheckpoint(eager=False)
    )
    keep = (
        anchors.groupBy("gh")
        .agg(F.countDistinct("_id").alias("nd"))
        .where((F.col("nd") >= 2) & (F.col("nd") <= max_docs_per_gram))
        .select("gh")
    )
    shared = anchors.join(keep, "gh").localCheckpoint(eager=False)
    a = shared.select(
        F.col("gh"), F.col("_id").alias("doc_a"), F.col("pos").alias("pa")
    )
    b = shared.select(
        F.col("gh"), F.col("_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    pairs = a.join(b, "gh").where(F.col("doc_a") < F.col("doc_b"))
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    islands = pairs.select(
        "doc_a",
        "doc_b",
        (F.col("pa") - F.col("pb")).alias("diag"),
        "pa",
        "pb",
    ).withColumn("grp", F.col("pa") - F.row_number().over(w))
    return (
        islands.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            (F.max("pa") - F.min("pa") + F.lit(k)).alias("span_len"),
        )
        .where(F.col("span_len") >= min_len)
        .select(
            "doc_a",
            "doc_b",
            F.col("a_start").cast("bigint").alias("a_start"),
            F.col("b_start").cast("bigint").alias("b_start"),
            F.col("span_len").cast("bigint").alias("span_len"),
        )
    )


def dup_span_coverage(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicate-span coverage: how many of a document's
    tokens fall inside a shared span where it is the DUPLICATE (higher
    doc_id) side of the pair.

    Returns one row per input document: (id_col, n_tokens, dup_tokens,
    dup_fraction); documents with no coverage keep 0 / 0.0.  Intervals
    from different partner documents are union-merged (running-max-end
    islands over distinct intervals) so overlap is never double-counted.
    dup_fraction uses the engine-portable floor rounding (CLAUDE.md:
    F.round straddles on .5 boundaries across engines).
    """
    iv = spans.select(
        F.col("doc_b").alias("_id"),
        F.col("b_start").alias("s"),
        (F.col("b_start") + F.col("span_len")).alias("e"),
    ).distinct()
    w = Window.partitionBy("_id").orderBy("s", "e")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island", (F.col("s") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    ).withColumn("island", F.sum("new_island").over(w))
    per_doc = (
        flagged.groupBy("_id", "island")
        .agg((F.max("e") - F.min("s")).alias("cov"))
        .groupBy("_id")
        .agg(F.sum("cov").alias("dup_tokens"))
    )
    n_tokens = F.expr(f"regexp_count({text_col}, '\\\\S+')").cast("bigint")
    return (
        docs.select(F.col(id_col), n_tokens.alias("n_tokens"))
        .join(per_doc, F.col(id_col) == F.col("_id"), "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("bigint").alias("dup_tokens"),
            (
                F.floor(
                    F.coalesce(F.col("dup_tokens"), F.lit(0))
                    / F.greatest(F.col("n_tokens"), F.lit(1))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("dup_fraction"),
        )
    )

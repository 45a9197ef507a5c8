"""LLM training-data prep: the end-to-end composition a corpus user runs.

One declarative plan chaining the pipeline-extension operators (task
brief: dedup / quality / splits / shard packing as first-class
components):

    documents
      -> quality filter            (textstats.quality_score composite)
      -> exact dedup               (keep the smallest doc_id per content md5)
      -> near-dup removal          (MinHash LSH candidates, hot-bucket
                                    capped -> exact n-gram Jaccard verify
                                    -> greedy drop of the larger doc_id)
      -> deterministic hash split  (train/val/test, content-derived, stable
                                    under corpus growth)
      -> per-split shard packing   (two-phase prefix sum, no global sort)

Every stage is independently oracled by a driver query; the composed plan
is oracled end-to-end by `__spark_entry__.training_data_prep` (the whole
chain replayed as one DuckDB CTE).

Scale notes: the only shuffles are the dedup hash-agg, the LSH band join
(capped), the verify id-joins, and the per-split range bucketing — all on
uniform or capped keys. Band selectivity matters when documents share a
vocabulary (web boilerplate, these word-salad fixtures): 4-hash bands
produced 51k candidate pairs on 4.3k sf0.1 docs vs 11k with 8-hash bands
(k=16, bands=2 — the default), and the Jaccard verify is O(pairs). The greedy near-dup rule ("drop any doc that is
the larger side of a verified pair") keeps the smallest doc_id of each
detected cluster without a connected-components pass; use
canonicalize.connected_components when full cluster semantics matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..operators.dedup import (
    _BITSET_MAX_VOCAB,
    _band_rows,
    _bitset_intersection,
    _bitset_side,
    _bitset_words,
    _candidate_pairs_from_banded,
    _h60,
    _jaccard,
    _size_bound,
    jaccard_verify_pairs,
    lsh_candidate_pairs,
    shingle_expr,
)
from ..operators.sampling import hash_split, pack_by_budget_grouped
from ..operators.textstats import quality_score

DEFAULT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def prep_training_data(
    docs: DataFrame,
    min_quality: float = 0.62,
    k: int = 16,
    bands: int = 2,
    max_bucket: int = 64,
    jaccard_threshold: float = 0.9,
    weights: dict[str, float] | None = None,
    shard_budget: int = 20000,
    size_col: str = "n_chars",
) -> DataFrame:
    """documents(doc_id, text, n_chars, ...) -> (doc_id, split, shard,
    n_chars) for every surviving document. Deterministic at any
    parallelism; every stage SQL-replayable.

    Three barriers (localCheckpoint; persist() on a real cluster):

    1. the scored base (quality + shingles in ONE codegen'd corpus pass).
       Without it, Catalyst inlines the `quality >= min_quality` filter
       through the projection — the composite's regexp subexpressions are
       re-evaluated per reference with no CSE in the Filter (measured
       0.78s -> 4.4s at sf1.0 for the same pass), and the exact-dedup
       self-join then recomputes that inflated scan for BOTH join sides
       (guide §4.4's duplication trap, built-in-expression edition).
       Filtering on the materialized column evaluates every regex and the
       shingle pass exactly once per document.
    2. the deduped set — referenced FOUR times downstream (LSH
       signatures, both Jaccard shingle attaches, the anti-join left
       side); lazily composed, the upstream re-executes ~6x (measured
       84s vs ~10s at sf0.1). On the fused path below the gram encode
       is this barrier.
    3. the split survivors — read once per split by the shard packer
       plus its range-boundary sampling actions."""
    weights = weights or DEFAULT_WEIGHTS

    # quality features + content hash + shingles in ONE projection:
    # regexes are CSE'd inside a single codegen'd Project, the shingle
    # pass (needed on both verify join sides) runs once per doc, and
    # `text` itself never leaves this stage — downstream only needs the
    # md5 (exact dedup) and the shingle set (LSH + verify), so the
    # checkpoint stores the small proxies, not the payload (guide §8)
    base = quality_score(docs).select(
        "doc_id", size_col, "quality",
        F.md5("text").alias("_th"),
        F.expr(shingle_expr("text", 3)).alias("_sh"),
    )
    # snapshot the persisted-RDD registry so every barrier this call
    # creates can be dropped once superseded (localCheckpoint blocks have
    # no DataFrame-level unpersist; unreleased, a harness timing the plan
    # k times accumulates k x ~270MB of dead intermediate blocks —
    # measured. localCheckpoint beats persist() for these barriers by
    # ~2.5s/run at sf1.0: raw UnsafeRows, no columnar re-encode.)
    from ..session import persistent_rdd_ids, unpersist_rdd_ids

    spark = docs.sparkSession
    ids0 = persistent_rdd_ids(spark)
    base = base.localCheckpoint()
    kept = base.where(F.col("quality") >= min_quality).select(
        "doc_id", size_col, "_th", "_sh"
    )

    # exact dedup: keep the smallest doc_id per content hash — one window
    # over the md5 key instead of the groupBy+self-join form (same rows,
    # one shuffle fewer; the key is content-derived and uniform)
    w_dup = Window.partitionBy("_th")
    kept = (
        kept.withColumn("_keep", F.min("doc_id").over(w_dup))
        .where(F.col("doc_id") == F.col("_keep"))
        .select("doc_id", size_col, "_sh")
    )

    # fused LSH + verify encoding (single gram pass): when the gram
    # vocabulary is small enough for bitmap verification, the k minhash
    # MINs, the verify bitmap words and the set size all come out of ONE
    # explode + broadcast-dict probe + partial-aggregated groupBy — the
    # separate signature and encode passes each re-scanned the ~|grams|
    # rows. Every piece of pinned math is shared with the generic
    # operators (_h60 salted hashes; _band_rows / _candidate_pairs_from_
    # banded for bands and pairs; _bitset_words / _bitset_intersection /
    # _size_bound / _jaccard for the verify), so the pair set and jaccard
    # values are identical — replayed by the unchanged DuckDB oracle at
    # two SFs. The fused path serves a positive threshold over at most
    # _BITSET_MAX_VOCAB distinct grams (counted on the data); any other
    # input takes the generic lsh_candidate_pairs + jaccard_verify_pairs.
    fused = False
    if jaccard_threshold > 0:
        vocab = base.select(F.explode("_sh").alias("_s")).dropDuplicates().localCheckpoint()
        n_vocab = vocab.count()
        fused = n_vocab <= _BITSET_MAX_VOCAB
    if fused:
        from ..operators.ranges import exclusive_prefix_sum

        # gid ranks over the PRE-dedup vocab: a superset dictionary is
        # still injective, which is all bitmap equality needs
        dct = exclusive_prefix_sum(vocab, [F.col("_s")], F.lit(1), out_col="_gid").select(
            "_s",
            "_gid",
            *[F.expr(_h60(f"concat('{j}:', _s)")).alias(f"_h{j}") for j in range(k)],
        )
        nwords = max(1, (n_vocab + 63) // 64)
        grams = kept.select("doc_id", size_col, F.explode("_sh").alias("_s"))
        enc = (
            grams.join(F.broadcast(dct), "_s")
            .groupBy("doc_id")
            .agg(
                F.first(size_col).alias(size_col),
                F.count(F.lit(1)).alias("_sz"),
                *[F.min(f"_h{j}").alias(f"_m{j}") for j in range(k)],
                *_bitset_words(nwords),
            )
            .localCheckpoint()
        )
        sig = enc.select(
            "doc_id", F.array(*[F.col(f"_m{j}") for j in range(k)]).alias("minhash")
        )
        cand = _candidate_pairs_from_banded(
            _band_rows(sig, k, bands), "doc_id", max_bucket
        ).select("doc_a", "doc_b")
        inter = _bitset_intersection(nwords)
        pairs = (
            cand.join(_bitset_side(enc, "doc_id", "a", nwords, F.col("_sz").alias("_sza")), "doc_a")
            .join(_bitset_side(enc, "doc_id", "b", nwords, F.col("_sz").alias("_szb")), "doc_b")
            .where(_size_bound() >= jaccard_threshold)
            .withColumn("jaccard", _jaccard(inter))
            .where(F.col("jaccard") >= jaccard_threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
        kept = enc.select("doc_id", size_col)
    else:
        kept = kept.localCheckpoint()
        pairs = jaccard_verify_pairs(
            lsh_candidate_pairs(kept, k=k, bands=bands, max_bucket=max_bucket, shingle_col="_sh"),
            kept,
            threshold=jaccard_threshold,
            shingle_col="_sh",
        )
    near_dup_ids = pairs.select(F.col("doc_b").alias("doc_id")).dropDuplicates()
    survivors = kept.join(near_dup_ids, "doc_id", "left_anti")

    # the split table IS in the returned plan and is the last barrier:
    # materializing it runs LSH+verify, after which every other barrier
    # this call created (base, kept, the verify gram-encode) is dead —
    # drop their blocks, keep only the split table's
    split_docs = hash_split(survivors, "doc_id", weights).drop("_sh")
    pre_split = persistent_rdd_ids(spark)
    split_docs = split_docs.localCheckpoint()
    split_ids = persistent_rdd_ids(spark) - pre_split
    unpersist_rdd_ids(spark, persistent_rdd_ids(spark) - ids0 - split_ids)

    # one-pass per-split packing: exactly the rows of a per-split
    # pack_by_budget loop (proof in pack_by_budget_grouped), one
    # prefix-sum job instead of ~3 driver actions per split
    packed = pack_by_budget_grouped(split_docs, "split", size_col, shard_budget)
    return packed.select("doc_id", "split", "shard", size_col)


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    decontaminate_n: int = 13,
    min_quality: float = 0.5,
    max_dup_line_frac: float = 0.3,
    max_top_ngram_frac: float = 0.5,
) -> DataFrame:
    """The curation half of an LLM data pipeline, composed end-to-end
    (prep_training_data handles dedup/split/pack downstream of this):

        documents
          -> paragraph-level boilerplate dedup  (dedup.paragraph_dedup)
          -> PII scrubbing                      (curate.scrub_pii)
          -> benchmark decontamination          (curate.decontaminate,
                                                 on the SCRUBBED text)
          -> Gopher repetition stats            (textstats.repetition_stats)
          -> quality scoring + keep verdict     (textstats.quality_score)

    Returns one row per input doc: id, text (cleaned + scrubbed),
    n_removed (paragraphs), n_emails, n_phones, contaminated,
    dup_line_frac, top_ngram_frac, quality, kept.

    Plan shape: paragraph dedup is the only multi-shuffle stage; the
    scrubbed frame is lazily checkpointed because FOUR downstream
    branches reference it (decontamination grams, repetition grams,
    quality exprs, the final projection) — unmaterialized, the whole
    upstream chain would re-run per branch. Everything after the
    checkpoint is either a broadcast join (benchmark grams), a uniform
    hash agg (repetition), or pure per-row expressions."""
    from ..operators.curate import decontaminate, scrub_pii
    from ..operators.dedup import paragraph_dedup
    from ..operators.textstats import repetition_stats

    pd = paragraph_dedup(docs, id_col=id_col, text_col=text_col)
    sc = scrub_pii(
        pd.select(id_col, "text", "n_removed"), text_col="text"
    ).localCheckpoint(eager=False)

    contaminated = decontaminate(
        sc.select(id_col, "scrubbed"),
        benchmark,
        id_col=id_col,
        text_col="scrubbed",
        n=decontaminate_n,
    ).select(id_col, "contaminated")
    rep = repetition_stats(
        sc.select(id_col, "scrubbed"), id_col=id_col, text_col="scrubbed"
    ).select(id_col, "dup_line_frac", "top_ngram_frac")
    q = quality_score(sc.select(id_col, "scrubbed"), text_col="scrubbed").select(
        id_col, "n_tokens", "quality"
    )

    out = (
        sc.select(id_col, F.col("scrubbed").alias("text"), "n_removed", "n_emails", "n_phones")
        .join(contaminated, id_col)
        .join(rep, id_col)
        .join(q, id_col)
    )
    kept = (
        (F.col("quality") >= min_quality)
        & ~F.col("contaminated")
        & (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.coalesce(F.col("top_ngram_frac") <= max_top_ngram_frac, F.lit(True)))
        & (F.col("n_tokens") > 0)
    )
    return out.select(
        id_col, "text", "n_removed", "n_emails", "n_phones", "contaminated",
        "dup_line_frac", "top_ngram_frac", "quality", kept.alias("kept"),
    )

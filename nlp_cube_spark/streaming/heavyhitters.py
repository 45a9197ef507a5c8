"""Streaming heavy-hitter tracking over a mergeable Count-Min store.

The streaming face of operators/sketches.py: the CM sketch is a LINEAR
sketch, so the running corpus sketch is the cell-wise SUM of per-batch
delta sketches — no read-modify-write, no state store. Each micro-batch
writes its own delta partitioned by batch_id; re-processing a batch
after a crash OVERWRITES its own partition (dynamic partition
overwrite), so the store is idempotent under foreachBatch's
at-least-once replay — the same exactly-once device as the manifest
resume in plans/pipeline.py, with none of the staged-swap machinery the
MinHash store needs (streaming/dedup.py), because deltas never mutate.

Heavy hitters: after merging, any term whose point estimate crosses
`min_count` is reported (one-sided: CM can only overestimate, so the
report has no false NEGATIVES above the threshold — the Cormode &
Muthukrishnan guarantee).

100 TB shape: the store grows d*w rows PER BATCH (48/batch at the test
settings, still trivial at a million batches); `sketch_totals` is one
(row, bucket) hash agg over the delta log. Compact by replacing the log
with one summed delta any time — linearity again.

CLAUDE.md gotchas honored: empty batches are skipped BEFORE the write
(a partitioned overwrite of an empty frame degenerates to static and
wipes the store); partitionOverwriteMode is set on the micro-batch
session CLONE, not the outer session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.sketches import cms_point_estimates, count_min_sketch

__all__ = ["write_delta", "sketch_totals", "heavy_hitters", "start_cms_stream"]


def write_delta(
    batch_df: DataFrame, batch_id: int, store_dir: str,
    text_col: str = "text", depth: int = 3, width: int = 16,
) -> None:
    """Write one micro-batch's delta sketch, idempotently keyed by
    batch_id."""
    if batch_df.isEmpty():
        return
    sess = batch_df.sparkSession
    sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    delta = (
        count_min_sketch(batch_df, text_col, depth, width)
        .withColumn("batch", F.lit(int(batch_id)))
        .persist()
    )
    try:
        # guard the DELTA, not just the raw batch: a batch of empty /
        # whitespace-only documents is non-empty but sketches to 0 rows,
        # and a partitioned overwrite of an EMPTY frame degenerates to
        # static and wipes every batch partition (the CLAUDE.md /
        # ingest.py foreachBatch trap, one derivation deeper)
        if delta.isEmpty():
            return
        # the sketch is d*w rows — one file per batch partition
        delta.repartition(1).write.mode("overwrite").partitionBy("batch").parquet(
            store_dir
        )
    finally:
        delta.unpersist()


def sketch_totals(spark: SparkSession, store_dir: str) -> DataFrame:
    """The running corpus sketch: cell-wise sum of every batch delta
    (linearity of CM)."""
    return (
        spark.read.parquet(store_dir)
        .groupBy("row", "bucket")
        .agg(F.sum("cell").alias("cell"))
    )


def heavy_hitters(
    spark: SparkSession, store_dir: str, terms: DataFrame,
    min_count: int, depth: int = 3, width: int = 16,
) -> DataFrame:
    """Terms from `terms` whose merged point estimate >= min_count.
    One-sided: every term with TRUE count >= min_count is reported
    (possibly with some below-threshold extras from collisions)."""
    est = cms_point_estimates(
        sketch_totals(spark, store_dir), terms, "term", depth, width
    )
    return est.where(F.col("est_count") >= min_count)


def start_cms_stream(
    spark: SparkSession, src_dir: str, store_dir: str,
    text_col: str = "text", depth: int = 3, width: int = 16,
    max_files: int = 4, checkpoint_dir: str | None = None,
):
    """availableNow stream: parquet docs in -> per-batch delta sketches
    out. Returns the StreamingQuery; await with .awaitTermination().

    The sketch reads only `text_col`, so the source schema is that one
    column: fixed, never inferred, so the stream also starts on a
    source directory that holds no files yet."""
    src = spark.readStream.option("maxFilesPerTrigger", max_files).schema(
        f"{text_col} string"
    ).parquet(src_dir)
    writer = (
        src.writeStream.foreachBatch(
            lambda df, bid: write_delta(df, bid, store_dir, text_col, depth, width)
        )
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()

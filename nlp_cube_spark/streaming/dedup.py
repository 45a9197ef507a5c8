"""Incremental content dedup for a crawl stream.

`ingest.read_pages_stream` drops url re-fetches inside the watermark;
this module drops content re-PUBLISHES — the same or near-same text
arriving under new urls across micro-batches (mirror sites, syndication).

Per micro-batch (foreachBatch):
  1. exact: md5 content hash, (a) keep the min-url doc per hash within the
     batch, (b) drop docs whose hash already exists in the survivor store;
  2. near: MinHash signatures (16 longs/doc — the store stays tiny no
     matter the corpus), LSH band join within the batch AND against the
     accumulated signature store. Signatures and bands are the batch
     operators' own (`dedup.minhash_signature` keyed on url,
     `dedup._band_rows`), so a stored band matches a batch LSH band of
     the same text bit for bit. A candidate is a duplicate when the
     fraction of agreeing minhash positions >= `sim_threshold` (the
     standard sketch estimate of Jaccard; in-batch keep-rule: min url).
  3. survivors + their signatures append as batch_id partitions with
     dynamic OVERWRITE of the batch's own partitions, so a replayed batch
     after a crash rewrites instead of duplicating (same discipline as
     ingest.start_triples_stream). History comparisons read only
     batch_id < current, so a replay never sees its own partial output.

Scale notes (the 10^12-survivor design): the history side is PRUNED, not
scanned. Both stores persist in join-ready, prefix-partitioned form:

  {out}/hashes      (url, content_hash)                part. by (batch_id, hash_prefix)
  {out}/signatures  (url, minhash, band_id, band_sig)  part. by (batch_id, sig_prefix)

where *_prefix = first PREFIX_LEN hex chars of the key (256 buckets).
Each micro-batch collects its own distinct prefixes (bounded by 256
strings — a constant-size driver list regardless of batch or history
size) and reads only matching partitions, so per-batch history I/O is
O(min(batch_prefixes, 256) / 256 * history) instead of O(history), and
no re-banding of history ever happens — bands are stored banded. Files
are sorted by the join key within each partition so a pushed-down
band_sig/content_hash filter (applied when the batch's distinct key set
is small enough for a literal IN) also enables parquet row-group
skipping on min/max stats. Signature rows are 16 longs + 1 hash per
SURVIVOR; no shingle storage, no text re-reads of history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedup import _band_rows, minhash_signature

SIG_K = 16
BANDS = 4
PREFIX_LEN = 2  # hex chars -> 256 partition buckets per store
_MAX_PUSHDOWN_KEYS = 1024  # literal IN filter only below this cardinality


def _with_signature(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """docs + (minhash, content_hash). The batch MinHash keyed on `url`,
    joined back on it: `read_pages_stream` drops duplicate urls, so a
    micro-batch holds each url once (a NULL url never survives the
    min-url keep rule of `_dedup_sig` anyway)."""
    sig = minhash_signature(docs, "url", text_col, k=SIG_K)
    return (
        docs.join(sig, "url")
        .select(*docs.columns, "minhash")
        .withColumn("content_hash", F.md5(F.col(text_col)))
    )


def _match_frac(a: str, b: str):
    return F.expr(
        f"size(filter(zip_with({a}, {b}, (x, y) -> x = y), v -> v)) / {SIG_K}"
    )


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-agnostic existence check via the Hadoop FileSystem API, so a
    transient read failure (corrupt footer, FS hiccup) FAILS the batch
    instead of being silently treated as 'no history yet' and re-admitting
    duplicates."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _dedup_sig(
    sig: DataFrame,
    history_hashes: DataFrame | None,
    history_bands: DataFrame | None,
    sim_threshold: float,
) -> DataFrame:
    """Core per-batch logic over a precomputed signature frame.

    `history_hashes` (content_hash) / `history_bands` (url, minhash,
    band_id, band_sig) arrive already partition-pruned by the caller."""
    # 1a. in-batch exact: keep min url per content hash
    keep = sig.groupBy("content_hash").agg(F.min("url").alias("url"))
    sig = sig.join(keep, ["content_hash", "url"])
    # 1b. historical exact
    if history_hashes is not None:
        sig = sig.join(
            history_hashes.select("content_hash").dropDuplicates(),
            "content_hash",
            "left_anti",
        )

    # 2. near-dup via band join + signature-agreement estimate
    b = _band_rows(sig.select("url", "minhash"), SIG_K, BANDS)
    selfp = (
        b.alias("x")
        .join(b.alias("y"), ["band_id", "band_sig"])
        .where(F.col("x.url") > F.col("y.url"))
        .where(_match_frac("x.minhash", "y.minhash") >= sim_threshold)
        .select(F.col("x.url").alias("url"))
        .dropDuplicates()
    )
    sig = sig.join(selfp, "url", "left_anti")
    if history_bands is not None:
        histp = (
            _band_rows(sig.select("url", "minhash"), SIG_K, BANDS)
            .alias("x")
            .join(history_bands.alias("y"), ["band_id", "band_sig"])
            .where(_match_frac("x.minhash", "y.minhash") >= sim_threshold)
            .select(F.col("x.url").alias("url"))
            .dropDuplicates()
        )
        sig = sig.join(histp, "url", "left_anti")
    return sig


def dedup_batch(
    batch: DataFrame, history_sigs: DataFrame | None, sim_threshold: float = 0.8
) -> DataFrame:
    """One micro-batch of pages -> surviving pages + signature columns
    (minhash, content_hash). Pure batch logic, unit-testable without a
    stream; deterministic keep-rule = min url. `history_sigs` is the
    compact (url, content_hash, minhash) shape; the streaming driver
    instead feeds `_dedup_sig` pre-banded, pre-pruned history."""
    sig = _with_signature(batch).localCheckpoint()
    hh = history_sigs.select("content_hash") if history_sigs is not None else None
    hb = (
        _band_rows(history_sigs.select("url", "minhash"), SIG_K, BANDS)
        if history_sigs is not None
        else None
    )
    return _dedup_sig(sig, hh, hb, sim_threshold)


def _distinct_values(df: DataFrame, col: str, cap: int) -> list | None:
    """Collect up to `cap` distinct values of `col`; None when over cap.
    Used for bounded prefix lists (<=256) and optional key pushdown."""
    vals = [r[0] for r in df.select(col).dropDuplicates().limit(cap + 1).collect()]
    return None if len(vals) > cap else vals


def _read_pruned(
    spark: SparkSession,
    path: str,
    batch_id: int,
    prefix_col: str,
    prefixes: list,
    key_col: str,
    keys: list | None,
) -> DataFrame:
    """History scan restricted to this batch's key space: partition pruning
    on (batch_id, prefix) always; row-group-skipping literal IN on the full
    key when the batch's distinct key set is small."""
    df = (
        spark.read.parquet(path)
        .where(F.col("batch_id") < batch_id)
        .where(F.col(prefix_col).isin(prefixes))
    )
    if keys is not None:
        df = df.where(F.col(key_col).isin(keys))
    return df


def compact_store(
    spark: SparkSession,
    out_dir: str,
    upto_batch_id: int,
    _crash_point: str | None = None,
) -> dict:
    """Fold the per-batch partition growth of both prunable stores.

    The sink writes up to 256 new (batch_id, prefix) directories per
    micro-batch; at 10^5 batches the file LISTING dominates even though
    reads prune. This rewrites every row with batch_id <= upto_batch_id
    under the single batch_id=upto_batch_id layout (one sorted file per
    prefix, preserving the row-group-skipping sort) and deletes the
    superseded batch directories, bounding the store at 256 dirs + 256
    per uncompacted batch.

    Replay-safe: structured streaming replays only batches AFTER the last
    checkpoint commit, so any replayed k > upto_batch_id still sees the
    whole folded history through the `batch_id < k` read predicate —
    never fold batches at or beyond the checkpoint frontier. Run with the
    stream STOPPED (io/tables.compact_partitions contract).

    Crash-safe via a staging dir, never read-and-overwrite-in-place:
      phase 1: fold into `{store}._compacting/batch_id=<upto>` + write a
               `_FOLD_COMPLETE` marker stamped with upto_batch_id;
      phase 2: delete superseded `batch_id<=upto` dirs from the live
               store, move the staged dir in, drop the staging dir.
    Die in phase 1 -> live store untouched, rerun restarts the fold.
    Die in phase 2 -> the marker proves the staged fold is complete, so
    a rerun finishes the swap (rerun-to-finish) — INCLUDING a rerun at a
    NEWER frontier: a complete stale fold (marker stamped with an older
    upto) may be the only copy of its history once the phase-2 deletes
    started, so it is swapped in first, never discarded; only then does
    the fresh fold run. A marker-less partial staging dir is discarded
    (the live store is still intact in that state). After ANY crashed
    compaction, rerun compact_store before restarting the stream — the
    stream's pruned history reads must not run against a gutted store.

    `_crash_point` is fault injection for the crash-contract tests only:
    'after_fold' | 'after_deletes' | 'after_rename' raise mid-protocol
    (on the FIRST store) so tests can verify rerun-to-finish.
    """

    def _crash(point: str) -> None:
        if _crash_point == point:
            raise RuntimeError(f"injected crash at {point}")

    stats = {}
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for sub, prefix_col, key_col in (
        ("hashes", "hash_prefix", "content_hash"),
        ("signatures", "sig_prefix", "band_sig"),
    ):
        path = f"{out_dir}/{sub}"
        staging = f"{path}._compacting"
        marker = f"{staging}/_FOLD_COMPLETE"
        fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
        P = jvm.org.apache.hadoop.fs.Path

        def _marker_batch() -> int | None:
            if not fs.exists(P(marker)):
                return None
            stream = fs.open(P(marker))
            try:
                data = bytes(stream.readAllBytes()).decode()
            finally:
                stream.close()
            return int(data.strip() or -1)

        def _swap(batch: int) -> int:
            """Phase 2 for a COMPLETE (marker-verified) fold at `batch`:
            delete the live dirs whose rows the fold provably contains,
            move the fold in, drop the staging dir. Idempotent — a rerun
            that crashed post-move must not delete the moved fold, hence
            the staged_present guard on the == batch dir."""
            removed = 0
            staged_dir = P(f"{staging}/batch_id={batch}")
            staged_present = bool(fs.exists(staged_dir))
            for st in fs.listStatus(P(path)):
                name = st.getPath().getName()
                if not name.startswith("batch_id="):
                    continue
                bid = int(name.split("=", 1)[1])
                if bid < batch or (bid == batch and staged_present):
                    fs.delete(st.getPath(), True)
                    if bid < batch:  # the == batch dir is replaced, not folded away
                        removed += 1
            _crash("after_deletes")
            if staged_present:
                # Hadoop FileSystem.rename reports failure by RETURNING
                # false — deleting staging after a silent failure would
                # destroy the only copy of the folded history
                if not fs.rename(staged_dir, P(f"{path}/batch_id={batch}")):
                    raise IOError(
                        f"compact_store: rename of staged fold failed for "
                        f"{path} batch_id={batch}; staging left in place"
                    )
            _crash("after_rename")
            fs.delete(P(staging), True)
            return removed

        # a complete fold from a crashed run at an OLDER frontier must be
        # swapped in, never discarded: once its phase-2 deletes started,
        # the staged data is the only copy of batches <= its marker
        stale = _marker_batch()
        if stale is not None and stale != upto_batch_id:
            _swap(stale)

        # phase 1: fold to staging (skipped when a complete fold for this
        # exact frontier already exists — we crashed mid-swap last time)
        if _marker_batch() != upto_batch_id:
            if fs.exists(P(staging)):
                fs.delete(P(staging), True)  # marker-less partial attempt
            (
                spark.read.parquet(path)
                .where(F.col("batch_id") <= upto_batch_id)
                .withColumn("batch_id", F.lit(upto_batch_id))
                .repartition(prefix_col)
                .sortWithinPartitions(key_col)
                .write.partitionBy("batch_id", prefix_col)
                .mode("overwrite")
                .parquet(staging)
            )
            out = fs.create(P(marker), True)
            try:
                out.write(str(upto_batch_id).encode())
            finally:
                out.close()
        _crash("after_fold")

        stats[sub] = {"batch_dirs_removed": _swap(upto_batch_id)}
    return stats


def start_dedup_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    sim_threshold: float = 0.8,
    max_files: int = 1,
    available_now: bool = True,
):
    """Stream pages -> content-deduped survivors + prunable signature store.

    Layout: {out_dir}/survivors (batch_id), {out_dir}/hashes
    (batch_id, hash_prefix), {out_dir}/signatures (batch_id, sig_prefix) —
    all dynamic-overwrite partitioned => idempotent replay."""
    from .ingest import read_pages_stream

    stream = read_pages_stream(spark, src_dir, max_files=max_files)
    surv_path = f"{out_dir}/survivors"
    hash_path = f"{out_dir}/hashes"
    sig_path = f"{out_dir}/signatures"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # empty overwrite would wipe the table (see ingest)
            return
        bs = batch_df.sparkSession  # micro-batch session CLONE (see ingest)
        bs.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

        sig = _with_signature(batch_df).localCheckpoint()
        bands = _band_rows(sig.select("url", "minhash"), SIG_K, BANDS).withColumn(
            "sig_prefix", F.substring("band_sig", 1, PREFIX_LEN)
        ).localCheckpoint()
        sig = sig.withColumn("hash_prefix", F.substring("content_hash", 1, PREFIX_LEN))

        hist_hashes = hist_bands = None
        if _path_exists(bs, sig_path):  # stores are written together
            hash_prefixes = _distinct_values(sig, "hash_prefix", 16 ** PREFIX_LEN)
            sig_prefixes = _distinct_values(bands, "sig_prefix", 16 ** PREFIX_LEN)
            hist_hashes = _read_pruned(
                bs, hash_path, batch_id, "hash_prefix", hash_prefixes,
                "content_hash", _distinct_values(sig, "content_hash", _MAX_PUSHDOWN_KEYS),
            )
            hist_bands = _read_pruned(
                bs, sig_path, batch_id, "sig_prefix", sig_prefixes,
                "band_sig", _distinct_values(bands, "band_sig", _MAX_PUSHDOWN_KEYS),
            )

        surv = _dedup_sig(sig, hist_hashes, hist_bands, sim_threshold).withColumn(
            "batch_id", F.lit(batch_id)
        )
        surv.drop("minhash", "content_hash", "hash_prefix").write.partitionBy(
            "batch_id"
        ).mode("overwrite").parquet(surv_path)
        (
            surv.select("url", "content_hash", "hash_prefix", "batch_id")
            .repartition("hash_prefix")  # one file per partition dir, not tasks x dirs
            .sortWithinPartitions("content_hash")
            .write.partitionBy("batch_id", "hash_prefix")
            .mode("overwrite")
            .parquet(hash_path)
        )
        (
            bands.join(surv.select("url"), "url")
            .withColumn("batch_id", F.lit(batch_id))
            .repartition("sig_prefix")
            .sortWithinPartitions("band_sig")
            .write.partitionBy("batch_id", "sig_prefix")
            .mode("overwrite")
            .parquet(sig_path)
        )

    writer = (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

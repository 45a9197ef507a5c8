"""Structured Streaming ingestion: dedup-by-url, incremental triples,
restart-from-checkpoint continuation."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from nlp_cube_spark.datagen import pages_df
from nlp_cube_spark.operators import annotate as A
from nlp_cube_spark.streaming import ingest


@pytest.fixture()
def dirs():
    d = {k: tempfile.mkdtemp(prefix=f"stream_{k}_") for k in ("src", "out", "ckpt")}
    yield d
    for v in d.values():
        shutil.rmtree(v, ignore_errors=True)


def test_stream_matches_batch(spark, dirs):
    pages = pages_df(spark, 30, seed=11)
    pages.write.mode("append").parquet(dirs["src"])
    # a crawl re-fetch: duplicate urls land in a second file
    pages.limit(10).write.mode("append").parquet(dirs["src"])

    q = ingest.start_triples_stream(spark, dirs["src"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(180)

    got = spark.read.parquet(f"{dirs['out']}/triples")
    batch = A.fused_triples(pages)
    a = {(r.url, r.sent_id, r.subj, r.pred, r.obj) for r in got.collect()}
    b = {(r.url, r.sent_id, r.subj, r.pred, r.obj) for r in batch.collect()}
    assert a == b  # dedup-by-url: re-fetched pages contribute no dup triples
    assert got.count() == len(a)  # no duplicate rows either


def test_stream_resume_from_checkpoint(spark, dirs):
    p1 = pages_df(spark, 20, seed=21)
    p1.write.mode("append").parquet(dirs["src"])
    q = ingest.start_triples_stream(spark, dirs["src"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(180)
    n1 = spark.read.parquet(f"{dirs['out']}/triples").count()

    # new files arrive; restart from the same checkpoint processes ONLY them
    p2 = pages_df(spark, 35, seed=21)  # includes the first 20 urls again
    p2.where(~F.col("url").isin([r.url for r in p1.select("url").collect()])).write.mode(
        "append"
    ).parquet(dirs["src"])
    q2 = ingest.start_triples_stream(spark, dirs["src"], dirs["out"], dirs["ckpt"])
    q2.awaitTermination(180)

    got = spark.read.parquet(f"{dirs['out']}/triples")
    full = A.fused_triples(pages_df(spark, 35, seed=21))
    assert got.count() == full.count()
    urls_got = {r.url for r in got.select("url").dropDuplicates().collect()}
    urls_want = {r.url for r in full.select("url").dropDuplicates().collect()}
    assert urls_got == urls_want


def test_incremental_content_dedup_stream(spark, dirs):
    """Cross-batch content dedup: exact and near re-publishes under NEW
    urls are dropped against the accumulated signature store; the store
    carries 16 longs + 1 hash per survivor, never text."""
    import datetime

    from nlp_cube_spark.streaming import dedup as SD

    ts = datetime.datetime(2025, 1, 1)
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8).strip()

    def write(rows):
        spark.createDataFrame(
            [(u, ts, bytearray(b"<html/>"), t, "en") for u, t in rows], ingest.PAGES_DDL
        ).coalesce(1).write.mode("append").parquet(dirs["src"])

    write([("u1", base), ("u2", "totally different text about query planners and joins")])
    q = SD.start_dedup_stream(spark, dirs["src"], dirs["out"], dirs["ckpt"], sim_threshold=0.7)
    q.awaitTermination(180)
    s1 = {r.url for r in spark.read.parquet(f"{dirs['out']}/survivors").collect()}
    assert s1 == {"u1", "u2"}

    write([
        ("u3", base),             # exact re-publish of u1 under a new url
        ("u4", base + " omega"),  # near re-publish of u1
        ("u5", "another genuinely unique document body for the stream"),
    ])
    q2 = SD.start_dedup_stream(spark, dirs["src"], dirs["out"], dirs["ckpt"], sim_threshold=0.7)
    q2.awaitTermination(180)
    surv = spark.read.parquet(f"{dirs['out']}/survivors")
    assert {r.url for r in surv.collect()} == {"u1", "u2", "u5"}
    # the store is persisted pre-banded (BANDS rows per survivor) so no
    # micro-batch ever re-bands history, plus a compact exact-hash store
    sigs = spark.read.parquet(f"{dirs['out']}/signatures")
    assert sigs.count() == 3 * SD.BANDS
    assert set(sigs.columns) >= {"url", "minhash", "band_id", "band_sig", "sig_prefix", "batch_id"}
    hashes = spark.read.parquet(f"{dirs['out']}/hashes")
    assert hashes.count() == 3
    assert set(hashes.columns) >= {"url", "content_hash", "hash_prefix", "batch_id"}


def test_dedup_history_scan_is_pruned(spark, dirs):
    """Scale guard: each micro-batch must read only the history partitions
    matching its own band-signature prefixes, never the full store. Checked
    against the files a pruned scan ACTUALLY touches (input_file_name after
    partition pruning), not the plan text."""
    import datetime

    from nlp_cube_spark.streaming import dedup as SD

    ts = datetime.datetime(2025, 1, 1)
    import hashlib

    def body(i):  # shingle-disjoint bodies so band signatures spread over buckets
        return " ".join(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:8] for j in range(30))

    rows = [(f"u{i}", body(i)) for i in range(16)]
    spark.createDataFrame(
        [(u, ts, bytearray(b"<html/>"), t, "en") for u, t in rows], ingest.PAGES_DDL
    ).coalesce(1).write.mode("append").parquet(dirs["src"])
    q = SD.start_dedup_stream(spark, dirs["src"], dirs["out"], dirs["ckpt"], sim_threshold=0.7)
    q.awaitTermination(180)

    sig_path = f"{dirs['out']}/signatures"
    full = spark.read.parquet(sig_path)
    prefixes = [r.sig_prefix for r in full.select("sig_prefix").dropDuplicates().collect()]
    assert len(prefixes) > 4  # enough buckets for pruning to be observable
    pruned = SD._read_pruned(spark, sig_path, 999, "sig_prefix", prefixes[:2], "band_sig", None)
    files_full = {r[0] for r in full.select(F.input_file_name()).dropDuplicates().collect()}
    files_pruned = {r[0] for r in pruned.select(F.input_file_name()).dropDuplicates().collect()}
    assert 0 < len(files_pruned) < len(files_full)
    assert files_pruned < files_full


def test_dedup_store_compaction_preserves_history_and_pruning(spark, dirs):
    """What's-wrong #2 (r4): the (batch_id, prefix) layout grows ~256 dirs
    per micro-batch. compact_store folds old batches into one batch_id
    layout; afterwards (a) the directory census is bounded, (b) a later
    batch still drops duplicates of PRE-compaction content (history
    survives the fold through the batch_id < k predicate), and (c) the
    pruned-read path works unchanged on the compacted layout."""
    import datetime

    from nlp_cube_spark.streaming import dedup as SD

    ts = datetime.datetime(2025, 1, 1)
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8).strip()

    def write(rows):
        spark.createDataFrame(
            [(u, ts, bytearray(b"<html/>"), t, "en") for u, t in rows], ingest.PAGES_DDL
        ).coalesce(1).write.mode("append").parquet(dirs["src"])

    def run():
        q = SD.start_dedup_stream(
            spark, dirs["src"], dirs["out"], dirs["ckpt"], sim_threshold=0.7
        )
        q.awaitTermination(180)

    write([("u1", base), ("u2", "unique text about query planners and joins")])
    run()
    write([("u3", "second unique body mentioning vectorized execution")])
    run()
    write([("u4", "third unique body mentioning adaptive query replanning")])
    run()

    def batch_dirs(sub):
        import os
        return sorted(
            d for d in os.listdir(f"{dirs['out']}/{sub}") if d.startswith("batch_id=")
        )

    ids = [int(d.split("=", 1)[1]) for d in batch_dirs("signatures")]
    assert len(ids) == 3  # one layout level per (non-empty) batch
    top = max(ids)  # availableNow interleaves empty state-flush batch ids
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(mode_key, None)
    stats = SD.compact_store(spark, dirs["out"], upto_batch_id=top)
    # the maintenance util must not leak dynamic-overwrite into the session
    assert spark.conf.get(mode_key, None) == mode_before
    assert stats["signatures"]["batch_dirs_removed"] == 2
    assert batch_dirs("signatures") == [f"batch_id={top}"]
    assert batch_dirs("hashes") == [f"batch_id={top}"]
    # no rows lost or duplicated by the fold
    assert spark.read.parquet(f"{dirs['out']}/hashes").count() == 4
    assert spark.read.parquet(f"{dirs['out']}/signatures").count() == 4 * SD.BANDS

    # (b) post-compaction batch still sees pre-compaction history
    write([
        ("u5", base),             # exact dup of u1 (batch 0, now folded)
        ("u6", base + " omega"),  # near dup of u1
        ("u7", "a genuinely new document body arriving after compaction"),
    ])
    run()
    surv = {r.url for r in spark.read.parquet(f"{dirs['out']}/survivors").collect()}
    assert surv == {"u1", "u2", "u3", "u4", "u7"}

    # (c) pruned read on the compacted layout still touches a file subset
    sig_path = f"{dirs['out']}/signatures"
    full = spark.read.parquet(sig_path)
    prefixes = sorted({r.sig_prefix for r in full.select("sig_prefix").collect()})
    assert len(prefixes) > 2
    pruned = SD._read_pruned(spark, sig_path, 999, "sig_prefix", prefixes[:1], "band_sig", None)
    files_full = {r[0] for r in full.select(F.input_file_name()).dropDuplicates().collect()}
    files_pruned = {r[0] for r in pruned.select(F.input_file_name()).dropDuplicates().collect()}
    assert 0 < len(files_pruned) < len(files_full)


def test_dedup_batch_in_batch_rules(spark):
    """Unit semantics without a stream: min-url keep rule for exact and
    near dups within one batch; history drops both kinds."""
    from nlp_cube_spark.streaming.dedup import dedup_batch

    base = ("lambda mu nu xi omicron pi rho sigma tau upsilon " * 8).strip()
    batch = spark.createDataFrame(
        [("a", base), ("b", base), ("c", base + " phi"), ("d", "some other body entirely")],
        "url string, text string",
    )
    out = dedup_batch(batch, None, sim_threshold=0.7)
    assert {r.url for r in out.collect()} == {"a", "d"}
    # same batch against a history that already has the base content
    hist = out.where("url = 'a'").select("url", "content_hash", "minhash")
    out2 = dedup_batch(batch, hist, sim_threshold=0.7)
    assert {r.url for r in out2.collect()} == {"d"}


def test_stream_signatures_match_batch_lsh(spark):
    """The streaming store's minhash, content hash and band rows are the
    batch LSH operators' on the same url-keyed docs, degenerate text
    included (empty, NULL, 1-2 chars, non-ASCII): a stored band must
    match a batch band of the same text bit for bit."""
    from nlp_cube_spark.operators import dedup as D
    from nlp_cube_spark.streaming import dedup as SD

    texts = ["", None, "a", "ab", "abc", "Zoë café naïve", "日本語のテキスト",
             "the quick brown fox jumps over the lazy dog", "THE QUICK brown fox"]
    docs = spark.createDataFrame(
        [(f"u{i:02d}", t, "en") for i, t in enumerate(texts)],
        "url string, text string, lang string",
    )
    sig = SD._with_signature(docs)
    assert sig.columns == docs.columns + ["minhash", "content_hash"]
    got = {r.url: (r.minhash, r.content_hash) for r in sig.collect()}
    assert len(got) == len(texts)
    assert {u: h for u, (_, h) in got.items()} == {
        r.url: r.h for r in docs.select("url", F.md5("text").alias("h")).collect()
    }

    batch = D._banded_signatures(docs, "url", "text", SD.SIG_K, SD.BANDS, 3)
    want_sig = {r.url: r.minhash for r in batch.select("url", "minhash").distinct().collect()}
    assert {u: m for u, (m, _) in got.items()} == want_sig
    # the exact band call the stream makes for its signature store
    stream_bands = D._band_rows(sig.select("url", "minhash"), SD.SIG_K, SD.BANDS)
    rows = lambda df: sorted(  # noqa: E731
        (r.url, r.band_id, r.band_sig) for r in df.select("url", "band_id", "band_sig").collect()
    )
    assert rows(stream_bands) == rows(batch)
    assert len(rows(batch)) == len(texts) * SD.BANDS


def test_idle_trigger_does_not_wipe_output(spark, dirs):
    """Regression (r3): availableNow appends a state-flush EMPTY batch, and
    a partitioned overwrite of an empty DataFrame degenerates to static
    semantics and deletes the whole table; additionally foreachBatch runs
    on a session CLONE, so the dynamic-overwrite conf must be set on
    batch_df.sparkSession, not the outer session. A restart with no new
    input must leave the output byte-identical."""
    pages_df(spark, 10, seed=5).write.mode("append").parquet(dirs["src"])
    q = ingest.start_triples_stream(spark, dirs["src"], dirs["out"], dirs["ckpt"])
    q.awaitTermination(120)
    n1 = spark.read.parquet(f"{dirs['out']}/triples").count()
    assert n1 > 0
    q2 = ingest.start_triples_stream(spark, dirs["src"], dirs["out"], dirs["ckpt"])
    q2.awaitTermination(120)
    assert spark.read.parquet(f"{dirs['out']}/triples").count() == n1


def test_compact_store_rerun_to_finish_after_crash(spark, dirs):
    """Staging-dir compaction crash contract (r5 What's-wrong #4): dying
    at ANY protocol point leaves a state a plain rerun finishes from,
    and the live store is never the only copy of folded history."""
    import datetime
    import os

    from nlp_cube_spark.streaming import dedup as SD

    ts = datetime.datetime(2025, 1, 1)

    def write(rows):
        spark.createDataFrame(
            [(u, ts, bytearray(b"<html/>"), t, "en") for u, t in rows], ingest.PAGES_DDL
        ).coalesce(1).write.mode("append").parquet(dirs["src"])

    def run():
        q = SD.start_dedup_stream(
            spark, dirs["src"], dirs["out"], dirs["ckpt"], sim_threshold=0.7
        )
        q.awaitTermination(180)

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8).strip()
    write([("u1", base), ("u2", "unique text about query planners and joins")])
    run()
    write([("u3", "second unique body mentioning vectorized execution")])
    run()

    def batch_dirs(sub):
        return sorted(
            d for d in os.listdir(f"{dirs['out']}/{sub}") if d.startswith("batch_id=")
        )

    top = max(int(d.split("=", 1)[1]) for d in batch_dirs("hashes"))
    n_hashes = spark.read.parquet(f"{dirs['out']}/hashes").count()
    live_dirs_before = batch_dirs("hashes")

    # crash 1: after the fold, before any live-store mutation
    with pytest.raises(RuntimeError, match="after_fold"):
        SD.compact_store(spark, dirs["out"], upto_batch_id=top, _crash_point="after_fold")
    assert batch_dirs("hashes") == live_dirs_before  # live store untouched
    assert os.path.exists(f"{dirs['out']}/hashes._compacting/_FOLD_COMPLETE")

    # crash 2 (worst case): superseded live dirs already deleted, staged
    # fold not yet moved in — the marker proves the staging dir holds
    # everything, and a rerun must finish the swap without data loss
    with pytest.raises(RuntimeError, match="after_deletes"):
        SD.compact_store(
            spark, dirs["out"], upto_batch_id=top, _crash_point="after_deletes"
        )
    assert batch_dirs("hashes") == []  # the scary state: live side empty

    stats = SD.compact_store(spark, dirs["out"], upto_batch_id=top)
    assert batch_dirs("hashes") == [f"batch_id={top}"]
    assert batch_dirs("signatures") == [f"batch_id={top}"]
    assert not os.path.exists(f"{dirs['out']}/hashes._compacting")
    assert not os.path.exists(f"{dirs['out']}/signatures._compacting")
    assert spark.read.parquet(f"{dirs['out']}/hashes").count() == n_hashes
    # already-swapped store: rerun-only cleanup counted no folded dirs
    assert stats["hashes"]["batch_dirs_removed"] == 0

    # crash 3: after the move, before staging cleanup — a rerun must NOT
    # delete the just-moved fold (it is no longer superseded)
    write([("u4", "third unique body mentioning adaptive query replanning")])
    run()
    top2 = max(int(d.split("=", 1)[1]) for d in batch_dirs("hashes"))
    n_hashes2 = spark.read.parquet(f"{dirs['out']}/hashes").count()
    with pytest.raises(RuntimeError, match="after_rename"):
        SD.compact_store(
            spark, dirs["out"], upto_batch_id=top2, _crash_point="after_rename"
        )
    SD.compact_store(spark, dirs["out"], upto_batch_id=top2)
    assert batch_dirs("hashes") == [f"batch_id={top2}"]
    assert spark.read.parquet(f"{dirs['out']}/hashes").count() == n_hashes2

    # history still drops duplicates of pre-compaction content
    write([("u5", base), ("u6", "a genuinely new document body after crashes")])
    run()
    surv = {r.url for r in spark.read.parquet(f"{dirs['out']}/survivors").collect()}
    assert surv == {"u1", "u2", "u3", "u4", "u6"}

    # crash 4 (r6 review data-loss finding): compact at an OLDER
    # frontier K (later batches already exist), crash mid-swap — the
    # staged fold is now the only copy of <= K history — then a rerun
    # compacts at the NEWER frontier K'. The stale fold must be swapped
    # in first, never discarded.
    write([("u7", "fourth unique body mentioning columnar shuffles")])
    run()
    dirs_now = sorted(int(d.split("=", 1)[1]) for d in batch_dirs("hashes"))
    k_old, k_new = min(dirs_now), max(dirs_now)  # oldest fold .. u7's batch
    assert k_old < k_new
    n3 = spark.read.parquet(f"{dirs['out']}/hashes").count()
    with pytest.raises(RuntimeError, match="after_deletes"):
        SD.compact_store(
            spark, dirs["out"], upto_batch_id=k_old, _crash_point="after_deletes"
        )
    # gutted <= k_old; every newer batch dir survives on the live side
    survivors_live = sorted(int(d.split("=", 1)[1]) for d in batch_dirs("hashes"))
    assert survivors_live == [i for i in dirs_now if i > k_old]
    SD.compact_store(spark, dirs["out"], upto_batch_id=k_new)
    assert batch_dirs("hashes") == [f"batch_id={k_new}"]
    assert spark.read.parquet(f"{dirs['out']}/hashes").count() == n3
    import os as _os
    assert not _os.path.exists(f"{dirs['out']}/hashes._compacting")
    # the twice-folded pre-crash history still drops duplicates
    write([("u8", base), ("u9", "a fifth genuinely new document body")])
    run()
    surv = {r.url for r in spark.read.parquet(f"{dirs['out']}/survivors").collect()}
    assert "u8" not in surv and "u9" in surv


def _cms_docs(spark):
    return spark.createDataFrame(
        [(i, ("hot " * 20 if i % 3 == 0 else f"cold{i} word{i % 5}").strip())
         for i in range(30)],
        "doc_id long, text string",
    )


def test_cms_stream_merges_linearly_and_idempotently(spark, dirs):
    from nlp_cube_spark.operators.sketches import cms_term_counts, count_min_sketch
    from nlp_cube_spark.streaming import heavyhitters as H

    docs = _cms_docs(spark)
    # several source files -> several micro-batches
    for k in range(3):
        docs.where(F.col("doc_id") % 3 == k).write.mode("append").parquet(dirs["src"])

    q = H.start_cms_stream(spark, dirs["src"], dirs["out"], max_files=1,
                           checkpoint_dir=dirs["ckpt"])
    q.awaitTermination(180)

    # linearity: merged streaming sketch == one-shot batch sketch
    merged = {(r.row, r.bucket): r.cell
              for r in H.sketch_totals(spark, dirs["out"]).collect()}
    batch = {(r.row, r.bucket): r.cell
             for r in count_min_sketch(docs).collect()}
    assert merged == batch

    # idempotence: re-writing the same batch id overwrites, not doubles
    import tempfile
    store2 = tempfile.mkdtemp(prefix="cms_store2_")
    a = docs.where("doc_id < 10")
    b = docs.where("doc_id >= 10")
    H.write_delta(a, 0, store2)
    H.write_delta(a, 0, store2)  # at-least-once replay of batch 0
    H.write_delta(b, 1, store2)
    two = {(r.row, r.bucket): r.cell
           for r in H.sketch_totals(spark, store2).collect()}
    assert two == batch  # == one-shot sketch of a UNION b, no doubling

    # empty-batch guard: writing an empty frame must not touch the store
    H.write_delta(docs.where("doc_id < 0"), 999, dirs["out"])
    still = {(r.row, r.bucket): r.cell
             for r in H.sketch_totals(spark, dirs["out"]).collect()}
    assert still == batch

    # DEEPER wipe trap (review finding): a NON-empty batch of
    # whitespace-only docs sketches to 0 rows — the partitioned
    # overwrite of that empty delta must be skipped, not wipe the store
    blank = spark.createDataFrame([(900, ""), (901, "   ")],
                                  "doc_id long, text string")
    H.write_delta(blank, 998, dirs["out"])
    still2 = {(r.row, r.bucket): r.cell
              for r in H.sketch_totals(spark, dirs["out"]).collect()}
    assert still2 == batch

    # heavy hitters: 'hot' (200 occurrences) crosses, no false negatives
    terms = docs.select(
        F.explode(F.split("text", " ")).alias("term")).distinct()
    hh = {r.term for r in
          H.heavy_hitters(spark, dirs["out"], terms, min_count=100).collect()}
    assert "hot" in hh
    exact = {r.term: r.exact_count for r in cms_term_counts(docs).collect()}
    for t, c in exact.items():
        if c >= 100:
            assert t in hh


def test_cms_stream_starts_on_empty_source(spark, dirs):
    """The stream starts on a source directory that holds no files yet;
    a restart on the same checkpoint sketches the files written since."""
    from nlp_cube_spark.operators.sketches import count_min_sketch
    from nlp_cube_spark.streaming import heavyhitters as H

    assert H.start_cms_stream(spark, dirs["src"], dirs["out"],
                              checkpoint_dir=dirs["ckpt"]).awaitTermination(180)
    docs = _cms_docs(spark)
    docs.write.mode("append").parquet(dirs["src"])
    assert H.start_cms_stream(spark, dirs["src"], dirs["out"],
                              checkpoint_dir=dirs["ckpt"]).awaitTermination(180)
    merged = {(r.row, r.bucket): r.cell
              for r in H.sketch_totals(spark, dirs["out"]).collect()}
    assert merged == {(r.row, r.bucket): r.cell for r in count_min_sketch(docs).collect()}

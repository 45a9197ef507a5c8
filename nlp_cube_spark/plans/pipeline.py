"""End-to-end KG construction: pages -> partitioned graph tables.

Lifecycle (SURVEY.md §3 "Our Spark lifecycle"):
    pages -> [one fused Arrow stage: segment+tag+parse+extract]
          -> link (broadcast) -> bucketed write
          -> canonicalize (global entities dimension: components on the
             driver under canonicalize.LOCAL_EDGE_BOUND, else the
             distributed loop) -> nodes

Resumability + lineage (north rule):
- work unit = url-hash bucket (`pmod(xxhash64(url), n_buckets)`), the same
  bucketing the output tables are partitioned by;
- `_manifest` parquet records completed buckets per stage; a resumed run
  anti-joins pages against it and only processes the remainder;
- writes use dynamic partition overwrite, so re-processing a bucket is
  idempotent (partial writes from a killed run are simply overwritten);
- `_metrics` parquet records per-run, per-stage row counts collected with
  `DataFrame.observe` (piggybacks on the write action — no extra job).

Canonicalization is GLOBAL, never per-resume-slice: the expensive per-page
work (annotate -> triples -> link) is bucket-resumable and stored WITHOUT
canon columns in `triples`; the mention -> canonical mapping is a
dimension (`entities`) recomputed every run from the FULL stored triples
table — its input is the distinct-mention edge set (vocab-sized, Zipf),
its cost a narrow 5-column scan + connected components on the dimension
(one checkpoint and one collect while the edge set is under
canonicalize.LOCAL_EDGE_BOUND). Canonical
triples are a read-time broadcast join (`read_canonical_triples`), so a
resumed run and a one-shot run agree on EVERY column, including canon
(tested in test_pipeline_resume) — entity components spanning buckets
processed in different runs are merged correctly by construction.
"""

from __future__ import annotations

import time

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..operators import annotate as A
from ..operators import canonicalize as C
from ..operators import linking as LK


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


def _read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    path = f"{out_dir}/_manifest"
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(hconf)
    if not fs.exists(hpath):
        return None
    return spark.read.parquet(path)


def build_graph(
    spark: SparkSession,
    pages: DataFrame,
    aliases: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    resume: bool = True,
    run_id: int = 0,
    write_words: bool = False,
) -> dict:
    """Run the full pipeline; returns metrics dict. Restart-safe."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    t0 = time.time()

    pages_b = with_bucket(pages, n_buckets)
    manifest = _read_manifest(spark, out_dir) if resume else None
    if manifest is not None:
        done = manifest.where(F.col("status") == "done").select("bucket").dropDuplicates()
        pages_b = pages_b.join(F.broadcast(done), "bucket", "left_anti")

    obs_pages = Observation("pages")
    pages_b = pages_b.observe(obs_pages, F.count(F.lit(1)).alias("n"))

    # one fused Arrow stage: segment+tag+parse+extract (one python worker
    # per task; chaining separate mapInPandas stages triples worker count
    # and scaled negatively — see BENCH/BASELINE.md).
    # localCheckpoint: link_triples references its input THREE times
    # (subj-mention branch, obj-mention branch, attach join) and Spark
    # does not dedupe common mapInPandas subtrees across union/join
    # branches — unmaterialized, the whole annotate kernel re-ran 3x
    # (measured 1.5s -> 6.6s at sf0.1). Every barrier this run creates is
    # dropped at the end via the persistent-RDD registry (session.py) so
    # a harness timing k runs doesn't accumulate k x the corpus in dead
    # checkpoint blocks.
    from ..session import persistent_rdd_ids, unpersist_rdd_ids

    ids0 = persistent_rdd_ids(spark)
    triples = A.fused_triples(pages_b).localCheckpoint()
    linked = LK.link_triples(triples, aliases)

    out = with_bucket(linked, n_buckets).withColumn(
        "conf", F.when(F.col("subj_id").isNotNull() & F.col("obj_id").isNotNull(), F.lit(1.0)).otherwise(F.lit(0.8))
    )
    obs_triples = Observation("triples")
    out = out.observe(obs_triples, F.count(F.lit(1)).alias("n"))
    # co-locate each bucket into one task before the partitioned write:
    # otherwise every input partition writes a file into every bucket dir
    # (tasks x buckets small files — measured 8x slowdown locally, and the
    # classic small-file problem on object storage at cluster scale)
    out.repartition("bucket").write.partitionBy("bucket").mode("overwrite").parquet(f"{out_dir}/triples")

    # The post-write tail is three INDEPENDENT job chains (guide §2.6
    # "overlap independent jobs"): the canonicalization chain (read full
    # triples -> components -> entities -> nodes), the per-bucket lineage
    # counters, and the manifest. They were sequential only because the
    # driver called them sequentially; the lineage/manifest jobs now
    # back-fill executors idled by the canonicalization chain's small jobs
    # (job descriptions are thread-local, so the UI stays labeled).
    from concurrent.futures import ThreadPoolExecutor

    def _side_jobs() -> None:
        # per-partition lineage counters (north rule): triples per bucket
        spark.sparkContext.setJobDescription("build_graph: bucket metrics")
        spark.read.parquet(f"{out_dir}/triples").groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n_triples")
        ).withColumn("run_id", F.lit(run_id)).write.mode("overwrite").parquet(
            f"{out_dir}/_metrics_buckets"
        )
        # manifest: every bucket present in the (full) input is now done —
        # previously-done buckets are re-asserted, newly-processed ones added
        spark.sparkContext.setJobDescription("build_graph: manifest")
        done_buckets = with_bucket(pages, n_buckets).select("bucket").dropDuplicates()
        done_buckets.withColumn("status", F.lit("done")).withColumn(
            "run_id", F.lit(run_id)
        ).write.mode("overwrite").parquet(f"{out_dir}/_manifest")

    with ThreadPoolExecutor(max_workers=1) as pool:
        side = pool.submit(_side_jobs)

        # GLOBAL canonicalization dimension from the full stored table
        # (old + new buckets): a narrow 5-column scan feeding a
        # vocab-sized components step. localCheckpoint cuts lineage before
        # the edge build (and, over the bound, the iterative loop) re-reads
        # it; dropped at the end of the run.
        full = spark.read.parquet(f"{out_dir}/triples").select(
            "subj", "obj", "pattern", "subj_id", "obj_id"
        ).localCheckpoint()
        C.canonical_entities(full).write.mode("overwrite").parquet(f"{out_dir}/entities")

        if write_words:
            # full CoNLL-U-equivalent annotation table (lemma via dedup-join)
            words = A.annotate(pages_b)
            with_bucket(words, n_buckets).repartition("bucket").write.partitionBy(
                "bucket"
            ).mode("overwrite").parquet(f"{out_dir}/words")

        # nodes table: canonical entities with degree — same values as the
        # read-time view (read_canonical_triples), but computed from the
        # already-checkpointed `full` frame instead of re-scanning the
        # freshly-written parquet a third time
        canon_triples = C.attach_canon(full, spark.read.parquet(f"{out_dir}/entities"))
        nodes = (
            canon_triples.select(F.col("subj_canon").alias("node"))
            .unionByName(canon_triples.select(F.col("obj_canon").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        nodes.write.mode("overwrite").parquet(f"{out_dir}/nodes")

        side.result()  # surface any side-chain failure before declaring done

    # every action that reads the barriers (triples/full checkpoints, the
    # edge set and any per-round labels) has run; drop their blocks so repeated
    # runs in one session don't accumulate dead cache
    unpersist_rdd_ids(spark, persistent_rdd_ids(spark) - ids0)

    def _obs_n(obs) -> int:
        # AQE empty-relation propagation prunes CollectMetrics when the
        # observed subtree is empty (e.g. a fully-resumed run) -> .get
        # throws; an absent observation on an empty plan means 0 rows
        try:
            return int(obs.get["n"])
        except Exception:
            return 0

    n_pages = _obs_n(obs_pages)
    n_triples = _obs_n(obs_triples)

    elapsed = time.time() - t0
    metrics = {
        "run_id": run_id,
        "n_pages": int(n_pages),
        "n_triples": int(n_triples),
        "elapsed_sec": round(elapsed, 3),
    }
    # shipped as Arrow, as in canonicalize.connected_components: a local
    # list is pickled through a Python worker (~0.3 s more per append)
    spark.createDataFrame(
        pa.table({"run_id": [run_id], "stage": ["pipeline"], "rows_in": [n_pages],
                  "rows_out": [n_triples], "elapsed_sec": [float(elapsed)]}),
        "run_id int, stage string, rows_in long, rows_out long, elapsed_sec double",
    ).coalesce(1).write.mode("append").parquet(f"{out_dir}/_metrics")
    return metrics


def read_canonical_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """The authoritative canonical view: stored triples + the GLOBAL
    entities dimension joined at read time (two broadcast joins — the
    dimension is vocab-sized). Canon columns from this view are identical
    for a one-shot run and any resumed-run sequence over the same input."""
    return C.attach_canon(spark.read.parquet(f"{out_dir}/triples"), spark.read.parquet(f"{out_dir}/entities"))

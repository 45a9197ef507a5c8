"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (see SURVEY.md §4):
- AQE on (broadcast conversion, skew-join splitting, partition coalescing)
- Arrow on, bounded batch size so heavy pandas-UDF kernels don't blow memory
- shuffle partitions sized to local test parallelism; on a real cluster this
  is set to ~2-3x total cores via spark-submit conf.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# rows/batch for pandas-UDF kernels: large batches amortize the per-batch
# python dispatch for narrow text rows, while maxBytesPerBatch (Spark 4)
# caps the bytes so fat rows (multimodal payloads) still get small batches
ARROW_BATCH = 2048
ARROW_BATCH_BYTES = 8 * 1024 * 1024

# Pin native math threadpools to one thread BEFORE the JVM (and hence the
# python worker daemons) start: with K executor threads, unpinned OpenBLAS
# spawns K x ncores spin-wait threads and local[32] runs SLOWER than
# local[8] (measured 8x regression in the tag+parse kernels). The kernels
# are parallel across Arrow batches, never inside numpy (SURVEY.md §4
# "deterministic kernels").
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_v, "1")


def _ship_package(spark: SparkSession) -> None:
    """Make `nlp_cube_spark` importable on executors regardless of driver
    cwd — the library-mode equivalent of `spark-submit --py-files pkg.zip`.
    Kernels are imported inside mapInPandas closures, so Python workers
    must resolve the package themselves."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zip_base = os.path.join(tempfile.gettempdir(), f"nlp_cube_spark_pyfiles_{os.getpid()}")
    zip_path = zip_base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(zip_base, "zip", root_dir=root, base_dir="nlp_cube_spark")
    spark.sparkContext.addPyFile(zip_path)


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently persisted in this SparkContext —
    localCheckpoint blocks included (they have no DataFrame-level
    unpersist handle)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def unpersist_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    """Asynchronously drop the storage of the given persisted RDD ids.

    The release valve for localCheckpoint barriers: their blocks otherwise
    live as long as the (JVM-side) RDD object, so a harness that times a
    plan k times accumulates k copies of every intermediate barrier
    (measured ~270MB per training-data-prep run). Callers snapshot
    persistent_rdd_ids() before creating barriers and unpersist the
    difference once the last action that reads them has run."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist(False)


def get_spark(
    app_name: str = "nlp_cube_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # local[N] -> N; a real cluster overrides via spark-submit
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if inner == "*" else max(8, int(inner))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # prefer shuffled-hash over sort-merge when the planner's size
        # conditions hold (guide §3.1): same shuffles, no per-partition
        # sorts; AQE can additionally rewrite SMJ->SHJ post-shuffle when
        # every partition is under the local-map threshold. Scale note:
        # the planner's own size gate (smaller side < partitions x
        # autoBroadcastJoinThreshold) keeps build sides bounded, and
        # skew-join splitting still applies.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_BATCH_BYTES))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark

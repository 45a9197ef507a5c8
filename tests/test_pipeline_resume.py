"""End-to-end pipeline: materialize, metrics, kill-and-resume equivalence."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from nlp_cube_spark.datagen import aliases_df, pages_df
from nlp_cube_spark.plans import pipeline as P


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, 24, seed=5).localCheckpoint()


@pytest.fixture(scope="module")
def aliases(spark):
    return aliases_df(spark).localCheckpoint()


def test_build_graph_and_resume(spark, pages, aliases):
    out1 = tempfile.mkdtemp(prefix="kg_one_")
    out2 = tempfile.mkdtemp(prefix="kg_res_")
    try:
        m1 = P.build_graph(spark, pages, aliases, out1, n_buckets=4, run_id=1)
        assert m1["n_pages"] == 24 and m1["n_triples"] > 0

        # simulate a killed run: only half the buckets got processed
        half = P.with_bucket(pages, 4).where("bucket < 2").drop("bucket")
        P.build_graph(spark, half, aliases, out2, n_buckets=4, run_id=1)
        # resume with the full input
        m3 = P.build_graph(spark, pages, aliases, out2, n_buckets=4, run_id=2, resume=True)
        assert 0 < m3["n_pages"] < 24  # only the remainder was processed

        # full-column equality INCLUDING canon: the entities dimension is
        # recomputed globally each run, so components spanning buckets
        # processed in different runs still canonicalize identically
        key = ["url", "sent_id", "subj", "pred", "obj", "subj_id", "obj_id",
               "subj_canon", "obj_canon"]
        a = {tuple(r) for r in P.read_canonical_triples(spark, out1).select(*key).collect()}
        b = {tuple(r) for r in P.read_canonical_triples(spark, out2).select(*key).collect()}
        assert a == b

        # second resume over a complete output is a no-op
        m4 = P.build_graph(spark, pages, aliases, out2, n_buckets=4, run_id=3, resume=True)
        assert m4["n_pages"] == 0

        # lineage artifacts exist
        assert spark.read.parquet(f"{out2}/_manifest").count() == 4
        assert spark.read.parquet(f"{out2}/_metrics").where("stage = 'pipeline'").count() >= 2
        assert spark.read.parquet(f"{out1}/nodes").where(F.col("degree") <= 0).count() == 0
        # per-partition counters cover every bucket and sum to the total
        mb = spark.read.parquet(f"{out1}/_metrics_buckets")
        assert mb.agg(F.sum("n_triples")).collect()[0][0] == m1["n_triples"]
    finally:
        shutil.rmtree(out1, ignore_errors=True)
        shutil.rmtree(out2, ignore_errors=True)


def test_build_graph_write_words(spark, pages, aliases):
    out = tempfile.mkdtemp(prefix="kg_w_")
    try:
        P.build_graph(spark, pages, aliases, out, n_buckets=4, run_id=1, write_words=True)
        words = spark.read.parquet(f"{out}/words")
        assert words.count() > 0
        assert {"form", "lemma", "upos", "head", "deprel", "bucket"} <= set(words.columns)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _job_ids(spark) -> set[int]:
    """Ids of every job in the status store — diffed around an action this
    also counts jobs fired from the action's own threads (build_graph's
    side-job thread), which a job group would miss."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # job-end events are async
    jobs = sc.statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


# Spark jobs of one build_graph over this module's fixture: the build is
# bound by job scheduling, so a plan change that adds jobs fails here.
BUILD_GRAPH_JOB_BUDGET = 27


def test_build_graph_job_budget(spark, pages, aliases):
    out = tempfile.mkdtemp(prefix="kg_jobs_")
    try:
        before = _job_ids(spark)
        P.build_graph(spark, pages, aliases, out, n_buckets=4, run_id=1)
        jobs = len(_job_ids(spark) - before)
        assert jobs <= BUILD_GRAPH_JOB_BUDGET, f"build_graph ran {jobs} Spark jobs"
    finally:
        shutil.rmtree(out, ignore_errors=True)

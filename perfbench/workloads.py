"""The workloads. Each drives the product only through its public calls
(`api.Cube`, `Cube.process_triples`, `plans.pipeline.build_graph`, operator
entry points), builds its inputs with `nlp_cube_spark.datagen` outside
every timed region, and returns its end-to-end values; per-layer values go
to `Ctx.layer`.

A *pass* is one timed operation over the workload's input (one document on
doc_api). A run times passes until --seconds of timed work is done; output
checks run between passes, untimed, which also spreads the timed work over
more of the host's load swings. Per-layer totals are per pass (per 1000
documents on doc_api), so they do not depend on how many passes fit."""

from __future__ import annotations

import cProfile
import os
import pstats
import random
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

import checks
import harness as H


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    cores: int
    work: str  # per-run scratch directory inside the checkout
    spec: dict  # this workload's entry in workloads.json
    tracer: H.Tracer
    attempted: int = 0
    errors: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)

    def check(self, errors: list[str], what: str) -> None:
        """Count one operation; it fails if it has any output mismatch."""
        self.attempted += 1
        if errors:
            self.errors.append(f"{what}: " + "; ".join(errors))

    def run_passes(self, one_pass) -> list:
        """Closed loop, one client: call one_pass(i) until the next pass,
        predicted to take as long as the last, would take the timed total
        past --seconds (always at least one pass). A pass that raises
        counts as failed; the loop goes on."""
        results, timed = [], 0.0
        while True:
            i, t = len(results), time.perf_counter()
            try:
                with self.tracer.span("pass", index=i):
                    results.append(one_pass(i))
                last = results[-1]["seconds"]
            except Exception as e:  # counted in `failed`, the run goes on
                self.attempted += 1
                self.errors.append(f"pass {i} raised {e!r}")
                last = time.perf_counter() - t
            print(f"pass {i}: {last:.3f} s", file=sys.stderr)
            timed += last
            if timed + last > self.seconds:
                return results


def _batch_e2e(passes: list[dict], setup_s: float, peak_rss_mb: float) -> dict:
    """A batch commits all its documents at once, so every document's
    latency is its pass's wall time."""
    lat = [p["seconds"] * 1e3 for p in passes for _ in range(p["pages"])]
    return {
        "setup_s": setup_s,
        "pages_per_s": statistics.median([p["pages"] / p["seconds"] for p in passes]),
        "doc_latency_ms_p50": H.percentile(lat, 0.50),
        "doc_latency_ms_p99": H.percentile(lat, 0.99),
        "peak_rss_mb": peak_rss_mb,
    }


def _traced_e2e(ctx: Ctx, e2e: dict) -> None:
    # the end-to-end figures as measured with tracing on: their distance
    # to an untraced run of the same seed is the tracing overhead
    ctx.layer["traced.pages_per_s"] = e2e["pages_per_s"]
    ctx.layer["traced.doc_latency_ms_p50"] = e2e["doc_latency_ms_p50"]


# ------------------------------------------------------------ profiles

_KERNELS = {
    "segment": ("segment_rules.py", "segment"),
    "tag": ("tagger_rules.py", "tag_sentence"),
    "score": ("arc_scores.py", "score_matrix"),
    "mst": ("mst.py", "decode_tree"),
    "label": ("arc_scores.py", "label_arcs"),
    "lemma": ("lemma_rules.py", "lemmatize"),
}


def _profile_layers(profiles, per: float) -> dict:
    """Kernel and Arrow-stage splits, per pass, from cProfile statistics
    (pstats.Stats objects, one per profiled function or UDF)."""
    agg: dict[tuple, float] = {}
    for st in profiles:
        for (path, _line, name), (_cc, _nc, _tt, cum, _callers) in st.stats.items():
            key = (os.path.basename(path), name)
            agg[key] = agg.get(key, 0.0) + cum
    secs = lambda f, n: agg.get((f, n), 0.0) / per  # noqa: E731
    out = {f"kernels.{k}_s": secs(*fn) for k, fn in _KERNELS.items()}
    # the fused Arrow stage body (a mapInPandas `run` in annotate.py) and
    # its self time: everything but the per-document kernel pipeline
    out["annotate.fused_triples_s"] = secs("annotate.py", "run")
    out["annotate.emit_self_s"] = out["annotate.fused_triples_s"] - secs("annotate.py", "_annotate_doc")
    return out


# ------------------------------------------------------------- doc_api

_COLD_API_SETUP = """
import sys, time
t = time.perf_counter()
from nlp_cube_spark.api import Cube
cube = Cube().load("en")
str(cube(sys.argv[1])); cube.triples(sys.argv[1])
print(time.perf_counter() - t)
"""


def _api_calls(ctx: Ctx, cube, doc: dict) -> list[dict]:
    """One document through the reference-style API; returns its triples."""
    span = ctx.tracer.span
    with span("doc"):
        with span("api.call"):
            d = cube(doc["text"])
        with span("api.repr"):
            str(d)
        with span("api.triples"):
            return cube.triples(doc["text"])


def _api_layers(ctx: Ctx) -> None:
    for call in ("call", "repr", "triples"):
        ctx.layer[f"api.{call}_ms_p50"] = statistics.median(ctx.tracer.durations(f"api.{call}")) * 1e3


def doc_api(ctx: Ctx) -> dict:
    from nlp_cube_spark import datagen as D

    t = time.perf_counter()
    docs = D.open_pages(ctx.spec["pool_docs"], seed=ctx.seed)
    ctx.layer["datagen.gen_s"] = time.perf_counter() - t
    # cold set-up in fresh interpreters (import, construct, first call),
    # repeated because a process can pay it only once
    setups = [
        float(subprocess.run([sys.executable, "-c", _COLD_API_SETUP, docs[0]["text"]], check=True,
                             capture_output=True, text=True).stdout)
        for _ in range(ctx.spec["setup_repeats"])
    ]

    from nlp_cube_spark.api import Cube

    rss = H.PeakRss()
    t = time.perf_counter()
    cube = Cube().load("en")
    str(cube(docs[0]["text"]))
    cube.triples(docs[0]["text"])
    ctx.layer["session.warm_s"] = time.perf_counter() - t

    oracle = checks.Oracle()
    prof = cProfile.Profile() if ctx.trace else None
    lat, timed, n = [], 0.0, 0
    while timed < ctx.seconds and n < len(docs):
        # a slice of timed documents, then their check, untimed
        got, t_slice = [], time.perf_counter()
        if prof:
            prof.enable()
        while time.perf_counter() - t_slice < ctx.spec["slice_s"] and n < len(docs):
            doc, t0 = docs[n], time.perf_counter()
            trip = _api_calls(ctx, cube, doc)
            lat.append(time.perf_counter() - t0)
            got.append((doc, trip))
            n += 1
        if prof:
            prof.disable()
        timed += time.perf_counter() - t_slice
        for doc, trip in got:
            mine = Counter((doc["url"], t["sent_id"], t["subj"], t["pred"], t["obj"], t["pattern"]) for t in trip)
            ctx.check(checks.diff_counters(mine, oracle.triples([doc]), "triples"), doc["url"])
    peak_mb = rss.stop()
    ctx.check(checks.check_golden(cube), "golden")

    lat_ms = [x * 1e3 for x in lat]
    e2e = {
        "setup_s": statistics.median(setups),
        "pages_per_s": n / timed,
        "doc_latency_ms_p50": H.percentile(lat_ms, 0.50),
        "doc_latency_ms_p99": H.percentile(lat_ms, 0.99),
        "peak_rss_mb": peak_mb,
    }
    ctx.layer.update(oracle.layers(n / 1000))
    if ctx.trace:
        _traced_e2e(ctx, e2e)
        _api_layers(ctx)
        ctx.layer.update(_profile_layers([pstats.Stats(prof)], n / 1000))
    return e2e


# ------------------------------------------------------- Spark helpers

def _write_pages(rows: list[dict], path: str, files: int) -> None:
    """Inputs as `files` parquet files (one file would scan as one
    partition), written without Spark so set-up timing starts cold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-len(rows) // files)
    for i in range(files):
        pq.write_table(pa.Table.from_pylist(rows[i * step : (i + 1) * step]), f"{path}/part-{i:05d}.parquet")


def _output_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


class _SparkRun:
    """Session lifetime, set-up timing, peak RSS and per-pass engine
    attribution of one Spark workload."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.rss = H.PeakRss()
        t = time.perf_counter()
        self.spark = H.start_spark(ctx.cores, profile=ctx.trace)
        ctx.layer["session.get_spark_s"] = time.perf_counter() - t
        self.store = H.StatusStore(self.spark) if ctx.trace else None
        self.stages: list[dict] = []
        self.residual_mb: list[float] = []

    def warm(self, fn, calls: int = 1) -> None:
        """Untimed warm calls fn(0) .. fn(calls - 1), counted in setup_s."""
        t = time.perf_counter()
        for k in range(calls):
            with self.ctx.tracer.span("warm", index=k):
                fn(k)
            # peak RSS covers the session start and one whole operation: a
            # fixed amount of work. Over later builds G1 grows the JVM's heap
            # by amounts that vary from run to run (on graph_build the spread
            # over ten runs was 0.13-0.28 with the second build, 0.08 without)
            if k == 0:
                self.rss.stop()
        self.ctx.layer["session.warm_s"] = time.perf_counter() - t
        if self.ctx.trace:
            self.spark.profile.clear(type="perf")  # keep only the timed passes

    def timed(self, fn):
        """(result, seconds) of fn(); traced runs also diff the status store
        over it and read the storage it left behind (a checkpoint leak shows
        as growth from pass to pass), onto the enclosing span too."""
        before = self.store.job_ids() if self.store else None
        t = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t
        if self.store:
            self.stages.append(self.store.since(before))
            self.residual_mb.append(H.storage_mb(self.spark))
            self.ctx.tracer.annotate(residual_storage_mb=self.residual_mb[-1], **self.stages[-1])
        return out, dt

    def e2e(self, passes: list[dict]) -> dict:
        setup_s = self.ctx.layer["session.get_spark_s"] + self.ctx.layer["session.warm_s"]
        return _batch_e2e(passes, setup_s, self.rss.peak_mb)

    def engine_layers(self, passes: list[dict]) -> float:
        """Per-pass stage, storage and profiler metrics; returns jobs per pass."""
        from nlp_cube_spark.session import persistent_rdd_ids

        ctx, n = self.ctx, len(passes)
        stages = self.stages[:n]
        tot = {k: sum(s[k] for s in stages) for k in stages[0]}
        for k in ("count", "skipped", "tasks", "executor_run_s", "executor_cpu_s",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            ctx.layer[f"stages.{k}"] = tot[k] / n
        wall = sum(p["seconds"] for p in passes)
        ctx.layer["stages.slot_busy_ratio"] = tot["executor_run_s"] / (wall * ctx.cores)
        ctx.layer["session.residual_storage_mb"] = self.residual_mb[n - 1]
        ctx.layer["session.persisted_rdds"] = len(persistent_rdd_ids(self.spark))
        ctx.layer.update(_profile_layers(self.spark._profiler_collector._perf_profile_results.values(), n))
        return tot["jobs"] / n

    def stop(self) -> None:
        self.rss.stop()
        H.stop_spark(self.spark)


# ------------------------------------------------------- annotate_batch

def annotate_batch(ctx: Ctx) -> dict:
    from nlp_cube_spark import datagen as D
    from nlp_cube_spark.api import Cube

    def batch(name: str, n: int, seed: int) -> list[dict]:
        # every pass reads fresh documents: re-reading one batch would hit
        # the words the Python workers' kernel caches kept from the last pass
        t = time.perf_counter()
        rows = D.open_pages(n, seed=seed)
        _write_pages(rows, f"{ctx.work}/{name}", ctx.cores)
        ctx.layer["datagen.gen_s"] = ctx.layer.get("datagen.gen_s", 0.0) + time.perf_counter() - t
        return rows

    batch("warm", ctx.spec["pages"], seed=ctx.seed * 1000 + 999)
    first = batch("pages0", ctx.spec["pages"], seed=ctx.seed * 1000)
    oracle, rng = checks.Oracle(), random.Random(ctx.seed)
    run = _SparkRun(ctx)
    spark = run.spark
    try:
        cube = Cube()
        # a whole batch: the Python workers' kernel caches fill with the
        # open vocabulary, as they are in every later pass
        run.warm(lambda k: cube.process_triples(spark, spark.read.parquet(f"{ctx.work}/warm"))
                 .write.parquet(f"{ctx.work}/warm_out"))

        def one_pass(i: int) -> dict:
            rows = first if i == 0 else batch(f"pages{i}", ctx.spec["pages"], seed=ctx.seed * 1000 + i)
            pages = spark.read.parquet(f"{ctx.work}/pages{i}")
            out = f"{ctx.work}/sink{i}"
            _, dt = run.timed(lambda: cube.process_triples(spark, pages).write.parquet(out))
            # a seeded sample of the pass's documents against the oracle;
            # all of them in a traced run, which also counts their words
            checked = rows if ctx.trace else rng.sample(rows, ctx.spec["check_sample"])
            df = spark.read.parquet(out)
            if not ctx.trace:
                df = df.where(df.url.isin([r["url"] for r in checked]))
            got = Counter(tuple(r) for r in df.select(*checks.TRIPLE_COLS).collect())
            ctx.check(checks.diff_counters(got, oracle.triples(checked), "triples"), out)
            return {"seconds": dt, "pages": len(rows), "out": out}

        passes = ctx.run_passes(one_pass)
        e2e = run.e2e(passes)
        ctx.layer.update(oracle.layers(len(passes)))
        # the single-document API this workload's Cube also serves
        ctx.check(checks.check_golden(cube), "golden")
        if ctx.trace:
            _traced_e2e(ctx, e2e)
            run.engine_layers(passes)
            ctx.layer["annotate.rows_out"] = statistics.median([spark.read.parquet(p["out"]).count() for p in passes])
            # the single-document API on fresh documents of this workload's
            # kind (the oracle check has warmed this process's kernel caches
            # for the pass inputs); doc_api times it in its own closed loop
            for doc in D.open_pages(ctx.spec["check_sample"], seed=ctx.seed * 1000 + 998):
                _api_calls(ctx, cube, doc)
            _api_layers(ctx)
        return e2e
    finally:
        run.stop()


# ------------------------------------------------- graph_build / resume

def _graph(ctx: Ctx, resume: bool) -> dict:
    from nlp_cube_spark import datagen as D
    from nlp_cube_spark.operators import canonicalize as C
    from nlp_cube_spark.operators import linking as LK
    from nlp_cube_spark.plans import pipeline as P
    from nlp_cube_spark.session import persistent_rdd_ids, unpersist_rdd_ids

    spec, nb = ctx.spec, ctx.cores
    t = time.perf_counter()
    gen = D.open_pages if spec["generator"] == "open_pages" else D.gen_pages
    rows = gen(spec["pages"], seed=ctx.seed)
    _write_pages(rows, f"{ctx.work}/pages", ctx.cores)
    ctx.layer["datagen.gen_s"] = time.perf_counter() - t
    oracle = checks.Oracle()
    want = oracle.triples(rows)
    run = _SparkRun(ctx)
    spark = run.spark
    try:
        pages = spark.read.parquet(f"{ctx.work}/pages")
        aliases = D.aliases_df(spark, seed=ctx.seed)  # a lazy local relation

        snapshot = f"{ctx.work}/snapshot"
        if resume:
            # a crashed run's leftovers: the first half of the buckets built
            # and recorded in the manifest. Building them is the warm call.
            bucketed = P.with_bucket(pages, nb)
            done = bucketed.where(bucketed.bucket < nb // 2).drop("bucket")
            run.warm(lambda k: P.build_graph(spark, done, aliases, snapshot, n_buckets=nb, resume=True))
            expect_pages = bucketed.where(bucketed.bucket >= nb // 2).count()
        else:
            expect_pages = len(rows)
            # whole passes: a pass is mostly driver-side planning and job
            # scheduling, which the JVM's JIT speeds up over the first few
            # builds (measured 15 s, 8 s, then 4-5 s a build on 4 cores)
            run.warm(lambda k: P.build_graph(spark, pages, aliases, f"{ctx.work}/warm{k}", n_buckets=nb,
                                             resume=False), calls=spec["warm_calls"])

        def one_pass(i: int) -> dict:
            out = f"{ctx.work}/graph{i}"
            if resume:
                shutil.copytree(snapshot, out)  # untimed: every pass restarts the same crash
            m, dt = run.timed(lambda: P.build_graph(spark, pages, aliases, out, n_buckets=nb, resume=resume))
            errs, counts = checks.check_graph(spark, out, want)
            if m["n_pages"] != expect_pages:
                errs.append(f"pages_processed {m['n_pages']} != {expect_pages} pages in buckets not yet built")
            ctx.check(errs, out)
            ctx.layer.update(counts)
            return {"seconds": dt, "pages": m["n_pages"], "triples": m["n_triples"], "out": out,
                    "files": _output_files(out)}

        passes = ctx.run_passes(one_pass)
        e2e = run.e2e(passes)
        ctx.layer.update(oracle.layers(1))

        if ctx.trace:
            _traced_e2e(ctx, e2e)
            last = passes[-1]
            ctx.layer.update({
                "pipeline.build_graph_s": statistics.median([p["seconds"] for p in passes]),
                "pipeline.jobs": run.engine_layers(passes),
                "pipeline.pages_processed": last["pages"],
                "pipeline.triples_written": last["triples"],
                "pipeline.output_files": last["files"],
                "annotate.rows_out": last["triples"],
            })
            # each operator layer's public call, re-timed on the inputs this
            # workload gives it, read back from the last pass's own output
            ids0 = persistent_rdd_ids(spark)
            stored = spark.read.parquet(f"{last['out']}/triples")
            fused = stored.select("url", "sent_id", "lang", "subj", "pred", "obj", "pattern").localCheckpoint()
            canon_in = stored.select("subj", "obj", "pattern", "subj_id", "obj_id").localCheckpoint()
            with ctx.tracer.span("linking.link_triples"):
                _, ctx.layer["linking.link_triples_s"] = run.timed(
                    lambda: LK.link_triples(fused, aliases).write.format("noop").mode("overwrite").save())
            with ctx.tracer.span("canonicalize.canonical_entities"):
                _, ctx.layer["canonicalize.canonical_entities_s"] = run.timed(
                    lambda: C.canonical_entities(canon_in).write.format("noop").mode("overwrite").save())
            ctx.layer["canonicalize.jobs"] = run.stages[-1]["jobs"]
            unpersist_rdd_ids(spark, persistent_rdd_ids(spark) - ids0)
        return e2e
    finally:
        run.stop()


def graph_build(ctx: Ctx) -> dict:
    return _graph(ctx, resume=False)


def graph_resume(ctx: Ctx) -> dict:
    return _graph(ctx, resume=True)


WORKLOADS = {f.__name__: f for f in (doc_api, annotate_batch, graph_build, graph_resume)}

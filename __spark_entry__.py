"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG pipeline over sf0.001 documents.
`queries()` exposes one named query per implemented operator family
(SURVEY.md §2); `oracle_sql()` gives the DuckDB-equivalent ANSI SQL for
every SQL-expressible one. Hash math (minhash/simhash/fingerprints) uses
md5 on both engines so values match bit-for-bit; float aggregates are
rounded on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _ensure_shipped(spark: SparkSession) -> None:
    """Queries run under the DRIVER's SparkSession (not ours): make the
    package importable on executors regardless of that session's cwd, and
    pin BLAS threads for any python workers it spawns."""
    try:
        from nlp_cube_spark.session import _ship_package

        key = "_nlp_cube_spark_shipped"
        if not getattr(spark, key, False):
            _ship_package(spark)
            setattr(spark, key, True)
    except Exception:
        pass  # already shipped or non-local session; imports may still work


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition a fixture scan over 2x the cores, keyed on `key`.

    An sf table is one small parquet file, so its scan gives 1-2
    partitions and every downstream stage would run serially. At real
    scale the table scan supplies parallelism by itself. The one place
    the spread is decided for every entry query that takes it."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism * 2, key)


def _docs_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table -> pages(url, warc_ts, html, text, lang) adapter,
    spread (`_spread`) so the Arrow kernels use every core."""
    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        F.concat(F.lit("https://ex.org/doc/"), F.col("doc_id")).alias("url"),
        (F.lit("2025-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("doc_id") * 37)).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><p>"), F.col("text"), F.lit("</p></html>")), "utf-8").alias("html"),
        "text",
        "lang",
    )


# --------------------------------------------------------------------------
# entry: flagship query
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full annotate -> open-IE triples over sf0.001 documents."""
    from nlp_cube_spark.operators import annotate as A

    _ensure_shipped(spark)
    pages = _docs_as_pages(spark, "/root/testdata/sf0.001")
    return A.fused_triples(pages)


# --------------------------------------------------------------------------
# relational queries (SURVEY.md §2d) — each with a DuckDB oracle
# --------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_revenue_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_region_revenue(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select("c_custkey", "c_name")


def q_anti_join(spark, sf_dir):
    """Customers with no recent (1998+) order — non-empty at sf0.01 so the
    anti-join check is discriminating (every customer has SOME order)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") >= F.lit("1998-01-01"))
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey", "c_name")


def q_window_top3(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rn")
    )


def q_distinct_brand_type(spark, sf_dir):
    return _t(spark, sf_dir, "part").select("p_brand", "p_type").dropDuplicates()


def q_rollup_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


def q_events_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def q_events_json_props(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", '"k": (\\d+)', 1).cast("int")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 6).alias("avg_k"), F.max(k).alias("max_k")
    )


def q_string_folding(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("name_lower"),
        F.regexp_replace(F.col("c_name"), "[0-9]", "0").alias("name_digitfold"),
    )


def q_setops_brands(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    a = p.where(F.col("p_type") == "ECONOMY").select("p_brand")
    b = p.where(F.col("p_type") == "SMALL").select("p_brand")
    return a.intersect(b).unionByName(a.exceptAll(b).dropDuplicates()).dropDuplicates()


def q_shipdate_pruned_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01"))
        .groupBy(F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("month"))
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("sum_price"), F.count(F.lit(1)).alias("n"))
    )


def q_orders_topk(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


def q_map_extract(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    m = F.expr("str_to_map(concat('brand=', p_brand, '|size=', cast(p_size as string)), '\\\\|', '=')")
    return p.select("p_partkey", m.getItem("brand").alias("brand"), m.getItem("size").cast("int").alias("size"))


def q_salted_supplier_counts(spark, sf_dir):
    from nlp_cube_spark.operators.salting import salted_agg_count

    li = _t(spark, sf_dir, "lineitem")
    return salted_agg_count(li, "l_suppkey", n_salt=8)


def q_cube_order_counts(spark, sf_dir):
    """Grouping-sets hierarchy (SURVEY §2d rollup/cube row)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


def q_events_tumbling_window(spark, sf_dir):
    """Tumbling window() aggregation; windows align to the unix epoch in
    both engines, so the 6h bucket start is engine-portable."""
    e = _t(spark, sf_dir, "events")
    w = F.window("ts", "6 hours")
    return e.groupBy(w).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value")
    ).select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
        "n",
        "avg_value",
    )


def q_user_sessions(spark, sf_dir):
    """Gap-based session windows (F.session_window; same operator runs
    streaming with a watermark). Oracle = gaps-and-islands replay."""
    from nlp_cube_spark.operators.sessions import sessionize

    e = _t(spark, sf_dir, "events")
    s = sessionize(e, key="user_id", ts_col="ts", gap="30 minutes", agg_col="value")
    return s.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("s_start"),
        "n_events",
        "sum_value",
    )


def q_events_sliding_window(spark, sf_dir):
    """Overlapping windows (6h length, 3h slide): every event lands in two
    windows; starts are epoch-aligned by the SLIDE in both engines."""
    e = _t(spark, sf_dir, "events")
    w = F.window("ts", "6 hours", "3 hours")
    return (
        e.groupBy(w)
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "n",
            "sum_value",
        )
    )


def q_salted_join_parts(spark, sf_dir):
    """Hot-key fan-out join == plain join (skew handling demo)."""
    from nlp_cube_spark.operators.salting import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    p = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    return (
        salted_join(li, p, "l_partkey", n_salt=4)
        .groupBy("p_brand")
        .agg(F.round(F.sum("l_quantity"), 2).alias("qty"))
    )


def q_sampled_hot_parts(spark, sf_dir):
    """Sketch-style hot keys: deterministic 10% md5 row-sample + scaled
    threshold — no full first-pass aggregation (SURVEY §2d approx row)."""
    from nlp_cube_spark.operators.salting import sampled_hot_keys

    li = _t(spark, sf_dir, "lineitem")
    return sampled_hot_keys(
        li, "l_partkey", min_count=40,
        sample_cols=["l_orderkey", "l_partkey", "l_linenumber"], sample_mod=10,
    )


def q_approx_distinct_parts(spark, sf_dir):
    """HLL++ distinct-per-key vs exact, asserted within 10% — the oracle
    pins `within_tol` to true, so a broken sketch fails the hash check."""
    from nlp_cube_spark.operators.salting import approx_distinct_per_key

    li = _t(spark, sf_dir, "lineitem")
    ap = approx_distinct_per_key(li, "l_returnflag", "l_partkey", rsd=0.02)
    ex = li.groupBy("l_returnflag").agg(F.countDistinct("l_partkey").alias("_exact"))
    return ap.join(ex, "l_returnflag").select(
        "l_returnflag",
        (F.abs(F.col("approx_distinct") - F.col("_exact")) <= 0.1 * F.col("_exact")).alias("within_tol"),
    )


def q_hot_parts(spark, sf_dir):
    from nlp_cube_spark.operators.salting import hot_keys

    # min_count=40 yields ~85 hot keys at sf0.01 (50 matched nothing —
    # a trivially-green 0-row check)
    li = _t(spark, sf_dir, "lineitem")
    return hot_keys(li, "l_partkey", min_count=40)


# --------------------------------------------------------------------------
# text / dedup / similarity queries — md5-portable oracles
# --------------------------------------------------------------------------

def q_doc_fingerprints(spark, sf_dir):
    from nlp_cube_spark.operators.textstats import fingerprint

    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    return fingerprint(docs).select("doc_id", "fingerprint")


def q_doc_token_counts(spark, sf_dir):
    from nlp_cube_spark.operators.textstats import token_counts

    return token_counts(_t(spark, sf_dir, "documents")).select("doc_id", "ws_tokens", "pre_tokens")


def q_doc_lang_id(spark, sf_dir):
    from nlp_cube_spark.operators.textstats import lang_id

    return lang_id(_t(spark, sf_dir, "documents")).groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n"))


def q_lang_id_confusion(spark, sf_dir):
    """Language-ID confusion matrix (textstats.lang_id predictions vs
    the table's lang labels): the standard classifier eval table —
    per (lang, lang_pred) cell count plus the cell's share of its true
    class (recall decomposition). One corpus projection + one hash agg
    + a language-dimension window."""
    from nlp_cube_spark.operators.textstats import lang_id

    docs = _t(spark, sf_dir, "documents")
    cells = lang_id(docs).groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "lang_pred",
        "n",
        (F.col("n") / F.sum("n").over(w)).alias("class_share"),
    )


def q_doc_quality(spark, sf_dir):
    from nlp_cube_spark.operators.textstats import quality_score

    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    return quality_score(docs).select(
        "doc_id", "n_tokens", "alpha_ratio", "stopword_ratio", "quality"
    )


def q_doc_c4_lines(spark, sf_dir):
    """C4 line-level cleanup verdicts (Raffel et al. 2020 §2.2;
    operators/webclean.c4_line_verdicts). The salad docs are single-line,
    so the query manufactures lines deterministically — every run of 8
    tokens becomes a line, and every 37th doc gets a 'lorem ipsum' line
    prepended — exercising the split / min-words / blocklist rules
    end-to-end; the punctuation and brace rules are planted-fixture
    tested (test_webclean)."""
    from nlp_cube_spark.operators.webclean import c4_line_verdicts

    lined = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            "text", r"(\S+ \S+ \S+ \S+ \S+ \S+ \S+ \S+) ", "$1\n"
        ).alias("text"),
    ).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 37 == 0,
            F.concat(F.lit("this page uses lorem ipsum filler\n"), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return c4_line_verdicts(lined, require_terminal_punct=False).select(
        "doc_id", "line_id", "line", "n_words", "keep", "reason"
    )


def q_doc_gopher_quality(spark, sf_dir):
    """Gopher §A1.1 document-quality gates (Rae et al. 2021;
    operators/webclean.gopher_quality): word-count bounds, mean word
    length, symbol ratio, alphabetic fraction, stop-word presence.
    min_words=30 / min_stop_hits=1 split the salad corpus non-trivially
    (short docs fail the count gate, 'the'-free docs fail the stop
    gate)."""
    from nlp_cube_spark.operators.webclean import gopher_quality

    return gopher_quality(
        _t(spark, sf_dir, "documents"), min_words=30, min_stop_hits=1
    ).select(
        "doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "alpha_frac", "stop_hits", "keep", "reason",
    )


def q_docs_capped_per_source(spark, sf_dir):
    """Per-source contribution cap (RefinedWeb/CCNet practice;
    operators/webclean.cap_per_source): top 10 docs per source by
    n_chars DESC, ties to the smaller doc_id — one window over the
    source key."""
    from nlp_cube_spark.operators.webclean import cap_per_source

    return cap_per_source(_t(spark, sf_dir, "documents"), n=10).select(
        "doc_id", "source", "n_chars", "rank"
    )


def _docs_with_dups(spark, sf_dir):
    """sf documents have no exact duplicates; re-inject every 25th doc under
    a shifted id so the dedup operators have real dup groups to find."""
    docs = _t(spark, sf_dir, "documents")
    clones = docs.where(F.col("doc_id") % 25 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return docs.unionByName(clones)


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language training-mix sampling (hash-based, never
    RNG: stable under any partitioning and replayable by the oracle)."""
    from nlp_cube_spark.operators.sampling import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_hash_sample(
        docs, "lang", {"en": 0.5, "es": 0.25, "zh": 0.1}, key="doc_id", default=0.05
    )
    return out.select("doc_id", "lang")


def q_train_val_test_split(spark, sf_dir):
    from nlp_cube_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}).groupBy(
        "split"
    ).agg(F.count(F.lit(1)).alias("n"))


def q_pack_shards(spark, sf_dir):
    """Token-budget shard packing: deterministic doc order, ~2000 chars per
    shard; per-shard totals verify both the prefix sum and the boundaries."""
    from nlp_cube_spark.operators.sampling import pack_by_budget

    docs = _t(spark, sf_dir, "documents")
    packed = pack_by_budget(docs, "n_chars", budget=2000, order_col="doc_id")
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars")
    )


def q_exact_dups(spark, sf_dir):
    from nlp_cube_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_docs_with_dups(spark, sf_dir))


def q_minhash_band_pairs(spark, sf_dir):
    from nlp_cube_spark.operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(_t(spark, sf_dir, "documents"), k=8, bands=2).select("doc_a", "doc_b")


def q_simhash_signatures(spark, sf_dir):
    # codegen'd aggregation kernel; the oracle form is _simhash_duck.
    from nlp_cube_spark.operators.dedup import simhash64_agg

    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    return simhash64_agg(docs).select("doc_id", "simhash")


def q_near_dup_clusters(spark, sf_dir):
    """Transitive near-dup semantics: verified-pair graph -> connected
    components (pointer-doubling cc over the pair graph only); cluster_id =
    smallest doc_id in the component. The oracle replays LSH + Jaccard
    verify + the components with a recursive CTE."""
    from nlp_cube_spark.operators.dedup import near_dup_clusters

    return near_dup_clusters(_docs_with_dups(spark, sf_dir), k=16, bands=2, max_bucket=64)


def q_training_data_prep(spark, sf_dir):
    """The composed corpus pipeline a training-data user actually runs:
    quality filter -> exact dedup -> capped-LSH + Jaccard near-dup removal
    -> deterministic split -> per-split shard packing, one declarative
    plan (plans/dataprep.py). The oracle replays the entire chain as one
    DuckDB CTE, so the hash match covers stage COMPOSITION, not just each
    stage in isolation."""
    from nlp_cube_spark.plans.dataprep import prep_training_data

    docs = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    return prep_training_data(docs)


def q_simhash_near_dups(spark, sf_dir):
    """SimHash blocking end-to-end: signatures (simhash64_agg) ->
    15-bit pigeonhole chunk self-join -> exact Hamming verify. The oracle
    replays signature, chunking, join, and bit_count(xor) in SQL."""
    from nlp_cube_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(_t(spark, sf_dir, "documents"), max_hamming=8)


def q_ngram_jaccard(spark, sf_dir):
    """The scale shape: LSH candidates (hot-bucket capped) -> exact Jaccard
    verify on the pair list. No block-cartesian join anywhere in the plan;
    the injected duplicate docs guarantee jaccard=1.0 hits."""
    from nlp_cube_spark.operators.dedup import jaccard_verify_pairs, lsh_candidate_pairs

    docs = _docs_with_dups(spark, sf_dir)
    pairs = lsh_candidate_pairs(docs, k=8, bands=2, max_bucket=64)
    return jaccard_verify_pairs(pairs, docs, threshold=0.8)


def q_ann_cosine_topk(spark, sf_dir):
    from nlp_cube_spark.operators.similarity import cosine_topk

    emb = _spread(_t(spark, sf_dir, "embeddings"), "vec_id")
    q = emb.where("vec_id < 8").select(F.col("vec_id").alias("q_id"), "embedding")
    # dim=64 (the embeddings fixture width) takes the unrolled codegen
    # scoring path — bit-identical cos_sim, norms hoisted out of the
    # per-pair loop (r8; see similarity.cosine_topk)
    return cosine_topk(emb, q, k=5, dim=64).select("q_id", "vec_id", "rank")


def q_embedding_near_dups(spark, sf_dir):
    """SRP-LSH blocked embedding near-dup pairs over embeddings with
    injected exact clones (random 64-d vectors have no natural near-dups);
    every clone pair must surface with cos_sim = 1.0."""
    from nlp_cube_spark.operators.similarity import cosine_near_dups

    emb = _t(spark, sf_dir, "embeddings")
    clones = emb.where(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1000000)
    )
    return cosine_near_dups(emb.unionByName(clones), dim=64, threshold=0.99)


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (similarity.pq_codebooks/pq_encode/
    pq_topk — Jégou et al. 2011): per-subspace Lloyd codebooks, m-byte
    codes, asymmetric-distance scoring where the scan touches only codes
    + a broadcast distance table. The oracle unrolls the ENTIRE chain —
    hash-seeded sub-codebooks, one Lloyd iteration, encoding, ADC — as a
    CTE pipeline, so training AND search are hash-certified."""
    from nlp_cube_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 6").select(F.col("vec_id").alias("q_id"), "embedding")
    return pq_topk(emb, q, k=5, m=4, ksub=8, iters=1).select(
        "q_id", "vec_id", "approx_dist", "rank"
    )


def q_ann_recall_ivf(spark, sf_dir):
    """Recall@5 of the IVF index vs the exact scan
    (similarity.ann_recall_at_k) at the same settings as the
    ann_cosine_topk / ann_ivf_topk driver queries — the oracle unrolls
    BOTH search paths and intersects them, so the recall numerator is
    hash-certified end to end."""
    from nlp_cube_spark.operators.similarity import ann_recall_at_k

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 8").select(F.col("vec_id").alias("q_id"), "embedding")
    return ann_recall_at_k(emb, q, k=5, n_centroids=16, nprobe=4)


def q_image_ahashes(spark, sf_dir):
    """Perceptual average-hash over REAL decoded PNG pixels
    (operators/multimodal.image_ahash): inflate + 5-filter defilter in
    the Arrow kernel, integer grayscale, 8x8 nearest sampling, mean
    threshold, packed 32-bit halves. The oracle replays the hash from
    the generator's closed-form pixel formula — so the real codec path
    is hash-certified end to end."""
    from nlp_cube_spark.operators.multimodal import image_ahash, synth_media_assets

    docs = _t(spark, sf_dir, "documents")
    return image_ahash(synth_media_assets(spark, docs))


def q_audio_fingerprints(spark, sf_dir):
    """Segment-energy audio fingerprints over REAL decoded PCM
    (operators/multimodal.audio_fingerprint, Haitsma & Kalker 2002
    scheme): RIFF parse + int16 decode in the Arrow kernel; 15
    energy-difference bits, all integer — the oracle replays the
    generator's closed-form sample formula."""
    from nlp_cube_spark.operators.multimodal import (
        audio_fingerprint,
        synth_media_assets,
    )

    docs = _t(spark, sf_dir, "documents")
    return audio_fingerprint(synth_media_assets(spark, docs))


def q_events_hourly_anomalies(spark, sf_dir):
    """Trailing z-score volume monitor (temporal.hourly_volume_anomalies,
    the 3-sigma control chart): hourly ingest counts vs the 24
    preceding hours. One corpus agg to the hour dimension + one
    dimension window; exact integer baseline sums, one IEEE z."""
    from nlp_cube_spark.operators.temporal import hourly_volume_anomalies

    events = _t(spark, sf_dir, "events")
    return hourly_volume_anomalies(events)


def q_source_diversity(spark, sf_dir):
    """Corpus diversity indices over the source distribution
    (textstats.source_diversity — Shannon entropy, effective-source
    Hill number, Simpson index, max share): the data-mix report card.
    One hash agg to the source dimension; -p ln p nano-quantized once
    per source, BIGINT sum."""
    from nlp_cube_spark.operators.textstats import source_diversity

    docs = _t(spark, sf_dir, "documents")
    return source_diversity(docs)


def q_media_curation(spark, sf_dir):
    """End-to-end multimodal curation verdicts
    (operators/multimodal.curate_media_assets): strict decode with
    quarantine (payloads of asset_id % 97 == 0 are truncated to 8 bytes
    — a deterministic corruption the oracle replays as set membership),
    then perceptual dedup per modality over the REAL codec paths. One
    verdict row per asset."""
    from nlp_cube_spark.operators.multimodal import (
        curate_media_assets,
        synth_media_assets,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = synth_media_assets(spark, docs).withColumn(
        "payload",
        F.when(F.col("asset_id") % 97 == 0, F.expr("substring(payload, 1, 8)"))
        .otherwise(F.col("payload")),
    )
    return curate_media_assets(assets)


def q_zorder_keys(spark, sf_dir):
    """Morton/Z-order interleaved clustering keys
    (io/tables.zorder_key — the Delta OPTIMIZE ZORDER layout device,
    here over (l_orderkey, l_partkey)): pure shift/mask codegen
    expressions; the file-pruning payoff is proven in
    tests/test_bucketed.py::test_zorder_layout_prunes_box_predicates."""
    from nlp_cube_spark.io.tables import zorder_key

    li = _t(spark, sf_dir, "lineitem")
    return li.where("l_orderkey <= 640").select(
        "l_orderkey",
        "l_partkey",
        zorder_key("l_orderkey", "l_partkey").alias("zkey"),
    )


def q_corpus_sppmi(spark, sf_dir):
    """Shifted-positive-PMI co-occurrence matrix
    (textstats.sppmi_cooccurrence, Levy & Goldberg 2014) at window 2 —
    the SGNS-equivalent embedding-training prep. Pair generation is an
    offset-explode equi-join (O(len*window) per doc, never a doc-local
    cartesian); marginals from the pair dimension; nano-quantized ln."""
    from nlp_cube_spark.operators.textstats import sppmi_cooccurrence

    docs = _t(spark, sf_dir, "documents")
    return sppmi_cooccurrence(docs, window=2, shift=1, min_count=5)


_WP_N_MERGES = 12


def q_wordpiece_merges(spark, sf_dir):
    """WordPiece merge training (bpe.train_wordpiece, Schuster &
    Nakajima 2012): the BPE loop with likelihood-scored argmax
    cnt/(cl*cr) — one IEEE division of exact integer counts per
    candidate, ties on (l, r). The oracle unrolls the full 12-merge
    trajectory including per-round symbol counts."""
    from nlp_cube_spark.operators.bpe import train_wordpiece

    docs = _t(spark, sf_dir, "documents")
    merges, _ = train_wordpiece(docs, n_merges=_WP_N_MERGES)
    return merges


def _wp_train_ctes(n: int) -> str:
    sql = """
      WITH wf AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
              FROM documents)
        GROUP BY word
      ),
      s0 AS MATERIALIZED (
        SELECT word, freq, array_to_string(string_split(word, ''), ' ') AS sym FROM wf
      )"""
    for k in range(n):
        sql += f""",
      t{k} AS MATERIALIZED (
        SELECT word, freq, unnest(string_split(sym, ' ')) AS s,
               generate_subscripts(string_split(sym, ' '), 1) AS pos
        FROM s{k}
      ),
      c{k} AS (SELECT s, CAST(sum(freq) AS BIGINT) AS c FROM t{k} GROUP BY s),
      p{k} AS (
        SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
          SELECT word, freq, s AS l,
                 lead(s) OVER (PARTITION BY word ORDER BY pos) AS r
          FROM t{k}
        ) WHERE r IS NOT NULL GROUP BY l, r
      ),
      b{k} AS MATERIALIZED (
        SELECT l, r, cnt,
               CAST(cnt AS DOUBLE) / (CAST(cl.c AS DOUBLE) * CAST(cr.c AS DOUBLE))
                 AS score
        FROM p{k} JOIN c{k} cl ON p{k}.l = cl.s JOIN c{k} cr ON p{k}.r = cr.s
        ORDER BY score DESC, l, r LIMIT 1
      ),
      s{k + 1} AS MATERIALIZED (
        SELECT word, freq,
               CASE WHEN b.l IS NULL THEN s.sym ELSE
                 trim(regexp_replace(
                   replace(replace(' ' || s.sym || ' ', ' ', '  '),
                           ' ' || b.l || '  ' || b.r || ' ',
                           ' ' || b.l || b.r || ' '),
                   ' +', ' ', 'g'))
               END AS sym
        FROM s{k} s LEFT JOIN b{k} b ON TRUE
      )"""
    return sql


def _wp_merges_duck(n: int = _WP_N_MERGES) -> str:
    parts = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS merge_rank, l AS lhs, r AS rhs,"
        f" cnt AS pair_freq, floor(score * 1e9 + 0.5) / 1e9 AS score FROM b{k}"
        for k in range(n)
    )
    return _wp_train_ctes(n) + f" SELECT * FROM ({parts})"


def q_corpus_heaps_fit(spark, sf_dir):
    """Heaps'-law vocabulary-growth OLS over the 20 sources
    (textstats.heaps_fit): exact integer sufficient statistics
    (micro-quantized ln per point, BIGINT sums), one deterministic
    closed-form evaluation."""
    from nlp_cube_spark.operators.textstats import heaps_fit

    docs = _t(spark, sf_dir, "documents")
    return heaps_fit(docs)


def q_doc_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram cross-entropy per document
    (textstats.kneser_ney_scores, Kneser & Ney 1995 / Chen & Goodman
    1998), self-trained: absolute discounting + continuation-probability
    backoff. Bigram table built once (localCheckpoint, 4 consumers);
    nano-quantized ln p, BIGINT sums."""
    from nlp_cube_spark.operators.textstats import kneser_ney_scores

    docs = _t(spark, sf_dir, "documents")
    return kneser_ney_scores(docs)


_UNI_VOCAB, _UNI_PLEN, _UNI_WLEN = 48, 4, 16


def q_unigram_segmentations(spark, sf_dir):
    """SentencePiece unigram-LM tokenizer (operators/unigramlm.py, Kudo
    2018): seed candidate vocab from freq-weighted substring stats, then
    exact Viterbi segmentation of every distinct word — the E-step of
    the trainer and the encode path of the tokenizer. One corpus pass;
    the DP loop runs on the distinct-word dimension. The oracle unrolls
    all 16 DP steps."""
    from nlp_cube_spark.operators.unigramlm import (
        unigram_seed_vocab,
        unigram_segment,
        word_freqs,
    )

    words = word_freqs(_t(spark, sf_dir, "documents"))
    vocab = unigram_seed_vocab(words, _UNI_VOCAB, _UNI_PLEN, _UNI_WLEN)
    return unigram_segment(words, vocab, _UNI_PLEN, _UNI_WLEN)


def q_unigram_em_counts(spark, sf_dir):
    """One hard-EM M-step of the unigram-LM trainer
    (unigramlm.unigram_em_counts): freq-weighted piece usage over the
    Viterbi paths vs the seed counts — unused pieces surface at 0 (the
    prune candidates of Kudo 2018 §3.2)."""
    from nlp_cube_spark.operators.unigramlm import (
        unigram_em_counts,
        unigram_seed_vocab,
        word_freqs,
    )

    words = word_freqs(_t(spark, sf_dir, "documents"))
    vocab = unigram_seed_vocab(words, _UNI_VOCAB, _UNI_PLEN, _UNI_WLEN)
    return unigram_em_counts(words, vocab, _UNI_PLEN, _UNI_WLEN)


def _unigram_duck(kind: str, vocab_size: int = _UNI_VOCAB,
                  plen: int = _UNI_PLEN, wlen: int = _UNI_WLEN) -> str:
    steps = []
    for t in range(1, wlen + 1):
        steps.append(f"""
          dp{t} AS MATERIALIZED (
            SELECT word, {t} AS j, score, path FROM (
              SELECT s.word, d.score + s.lp_nano AS score,
                     list_append(d.path, s.piece) AS path,
                     row_number() OVER (PARTITION BY s.word
                                        ORDER BY d.score + s.lp_nano DESC,
                                                 s.j - s.i DESC) AS rn
              FROM vspans s JOIN dp_all{t - 1} d
                ON s.word = d.word AND s.i = d.j AND s.j = {t}
            ) WHERE rn = 1
          ),
          dp_all{t} AS MATERIALIZED (SELECT * FROM dp_all{t - 1} UNION ALL SELECT * FROM dp{t})""")
    shared = f"""
      WITH wf AS (
        SELECT word, count(*) AS freq FROM (
          SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> '')) AS word
          FROM documents) GROUP BY word
      ),
      ww AS MATERIALIZED (SELECT word, freq FROM wf WHERE length(word) <= {wlen}),
      spans AS MATERIALIZED (
        SELECT word, freq, i, j, substr(word, i + 1, j - i) AS piece
        FROM (SELECT word, freq, i,
                     unnest(range(i + 1, least(i + {plen}, length(word)) + 1)) AS j
              FROM (SELECT word, freq, unnest(range(0, length(word))) AS i FROM ww))
      ),
      occ AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM spans GROUP BY piece),
      top AS (SELECT piece, cnt FROM (
                SELECT piece, cnt,
                       row_number() OVER (ORDER BY cnt DESC, piece) AS rk FROM occ)
              WHERE rk <= {vocab_size} OR length(piece) = 1),
      tot AS (SELECT sum(cnt) AS T FROM top),
      vocab AS (SELECT piece, cnt,
                       CAST(floor(ln(cnt / T) * 1e9 + 0.5) AS BIGINT) AS lp_nano
                FROM top CROSS JOIN tot),
      vspans AS MATERIALIZED (SELECT s.word, s.i, s.j, s.piece, v.lp_nano
                 FROM spans s JOIN vocab v USING (piece)),
      dp0 AS (SELECT word, 0 AS j, CAST(0 AS BIGINT) AS score,
                     CAST([] AS VARCHAR[]) AS path FROM ww),
      dp_all0 AS (SELECT * FROM dp0),
      {",".join(steps)},
      seg AS MATERIALIZED (SELECT d.word, w.freq, len(d.path) AS n_pieces,
                     array_to_string(d.path, ' ') AS seg
              FROM dp_all{wlen} d JOIN ww w
                ON d.word = w.word AND d.j = length(w.word))
    """
    if kind == "seg":
        return shared + """
          SELECT word, CAST(freq AS BIGINT) AS freq,
                 CAST(n_pieces AS BIGINT) AS n_pieces, seg
          FROM seg
        """
    return shared + """
      , used AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS em_count FROM (
                   SELECT freq, unnest(string_split(seg, ' ')) AS piece FROM seg)
                 GROUP BY piece)
      SELECT v.piece, v.cnt AS seed_count,
             CAST(coalesce(u.em_count, 0) AS BIGINT) AS em_count
      FROM vocab v LEFT JOIN used u USING (piece)
    """


def q_embedding_int8_quant(spark, sf_dir):
    """Per-vector affine uint8 quantization
    (similarity.quantize_embeddings_int8): scale/zero-point, the int
    codes, and the reconstruction bound — a pure per-row projection
    (no shuffle), every step the same IEEE double expression on both
    engines. The codes ride as a canonical comma-joined string — the
    driver's value hash has no defined array rendering."""
    from nlp_cube_spark.operators.similarity import quantize_embeddings_int8

    emb = _t(spark, sf_dir, "embeddings")
    out = quantize_embeddings_int8(emb)
    return out.select(
        "vec_id",
        "zero_point",
        "scale",
        F.array_join(
            F.transform("qvec", lambda v: v.cast("string")), ","
        ).alias("qcodes"),
        "max_abs_err",
    )


def q_corpus_pmi_collocations(spark, sf_dir):
    """PMI collocation mining (textstats.pmi_collocations, Church &
    Hanks 1990): top-50 adjacent-bigram collocations by nano-quantized
    PMI with a min-count floor. Two map-side-combined aggs + two
    open-vocab term joins; the ranking window runs over the
    min_count-filtered pair dimension only."""
    from nlp_cube_spark.operators.textstats import pmi_collocations

    docs = _t(spark, sf_dir, "documents")
    return pmi_collocations(docs, min_count=5, top_k=50)


_PCA_ITERS = 6


def q_embedding_pca_component(spark, sf_dir):
    """Top principal component of the embedding table by integer-exact
    power iteration (similarity.pca_top_component): milli-quantized,
    integer-mean-centered outer-product matrix (one d^2-key map-side
    agg over the corpus), then a dimension-sized matvec loop — every
    intermediate a BIGINT, so the eigenvector is bit-identical at any
    parallelism. The oracle unrolls the full trajectory."""
    from nlp_cube_spark.operators.similarity import pca_top_component

    emb = _t(spark, sf_dir, "embeddings")
    return pca_top_component(emb, n_iters=_PCA_ITERS)


def _pca_duck(n_iters: int = _PCA_ITERS) -> str:
    rounds, prev = [], "v0"
    for t in range(1, n_iters + 1):
        rounds.append(f"""
          w{t} AS (SELECT a.i, CAST(sum(a.a * v._v) AS BIGINT) AS w
                   FROM a JOIN {prev} v ON a.j = v.j GROUP BY a.i),
          v{t} AS (SELECT i AS j,
                          CAST(CASE WHEN w >= 0 THEN abs(w) // l1m
                               ELSE -(abs(w) // l1m) END AS BIGINT) AS _v
                   FROM w{t} CROSS JOIN (
                     SELECT greatest(CAST(sum(abs(w)) AS BIGINT) // 1000000, 1) AS l1m
                     FROM w{t}))""")
        prev = f"v{t}"
    return f"""
      WITH ex AS (
        SELECT vec_id, i - 1 AS i,
               CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS xm
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
      ),
      n AS (SELECT count(*) AS n FROM embeddings),
      mu AS (SELECT i, CAST(CASE WHEN s >= 0 THEN s // n
                            ELSE -((-s) // n) END AS BIGINT) AS mu
             FROM (SELECT i, CAST(sum(xm) AS BIGINT) AS s FROM ex GROUP BY i)
                  CROSS JOIN n),
      c AS (SELECT vec_id, ex.i, xm - mu AS c FROM ex JOIN mu USING (i)),
      a0 AS MATERIALIZED (
            SELECT x.i AS i, y.i AS j, CAST(sum(x.c * y.c) AS BIGINT) AS a
            FROM c x JOIN c y USING (vec_id) GROUP BY 1, 2),
      d AS (SELECT count(*) AS d FROM mu),
      sh AS (SELECT CAST((amax // (4611686018427387904 // (1000000 * d))) + 1
                    AS BIGINT) AS shift
             FROM (SELECT max(abs(a)) AS amax FROM a0) CROSS JOIN d),
      a AS (SELECT i, j,
                   CAST(CASE WHEN a >= 0 THEN a // shift
                        ELSE -((-a) // shift) END AS BIGINT) AS a
            FROM a0 CROSS JOIN sh),
      v0 AS (SELECT i AS j, CAST(1000000 // d AS BIGINT) AS _v FROM mu CROSS JOIN d),
      {",".join(rounds)}
      SELECT j AS dim_idx, _v / 1e6 AS loading FROM {prev}
    """


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (similarity.hard_negative_topk): top-5
    most-similar DIFFERENT-label vectors per anchor — the contrastive-
    training miner. Anchor set broadcast, one corpus scan."""
    from nlp_cube_spark.operators.similarity import hard_negative_topk

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.where("vec_id < 8").select(
        F.col("vec_id").alias("q_id"), "embedding", "label"
    )
    return hard_negative_topk(emb, a, k=5).select("q_id", "vec_id", "rank")


def q_ann_ivf_topk(spark, sf_dir):
    from nlp_cube_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 8").select(F.col("vec_id").alias("q_id"), "embedding")
    return ivf_topk(emb, q, k=5, n_centroids=16, nprobe=4).select("q_id", "vec_id", "rank")


# --------------------------------------------------------------------------
# KG pipeline queries
# --------------------------------------------------------------------------

def q_kg_upos_distribution(spark, sf_dir):
    """Tag-only consumer: fused_tags is the parse-free projection (no MST,
    no lemma join) — the pushdown Catalyst can't do through a python
    kernel, done by hand (annotate._annotate_doc parse=False)."""
    from nlp_cube_spark.operators import annotate as A

    # columns=("upos",): manual column pruning through the opaque Arrow
    # stage — one short string per word crosses the boundary, not eight
    # columns (r8; guide §4.1)
    words = A.fused_tags(_docs_as_pages(spark, sf_dir), columns=("upos",))
    return words.groupBy("upos").agg(F.count(F.lit(1)).alias("n"))


def q_kg_tag_distribution(spark, sf_dir):
    """Joint-tag coverage (op #13 xpos/feats columns, not just upos):
    distribution over the full (upos, xpos, feats) triple."""
    from nlp_cube_spark.operators import annotate as A

    words = A.fused_tags(_docs_as_pages(spark, sf_dir), columns=("upos", "xpos", "feats"))
    return words.groupBy("upos", "xpos", "feats").agg(F.count(F.lit(1)).alias("n"))


def q_kg_deprel_distribution(spark, sf_dir):
    """Dependency-label coverage beyond triple patterns (det/case/dep and
    the nsubj/appos/obj/obl attachment order rules, ops #14/#16).
    fused_words = the lemma-free projection (deprel never reads lemmas)."""
    from nlp_cube_spark.operators import annotate as A

    words = A.fused_words(_docs_as_pages(spark, sf_dir))
    return words.groupBy("deprel").agg(F.count(F.lit(1)).alias("n"))


def q_kg_words(spark, sf_dir):
    """The capstone annotate check: the FULL per-word table (form, lemma,
    upos, xpos, feats, head, deprel per (url, sent_id, word_id)) hash-
    verified row-by-row against the SQL replay of the whole pipeline."""
    from nlp_cube_spark.operators import annotate as A

    words = A.annotate(_docs_as_pages(spark, sf_dir))
    return words.select(
        "url", "sent_id", "word_id", "form", "lemma", "upos", "xpos", "feats", "head", "deprel"
    )


def q_kg_words_learned(spark, sf_dir):
    """Driver-visible LEARNED path (the pinned-weight joint tagger runs
    inside the fused Arrow stage); the oracle replays the linear model
    RELATIONALLY — committed weights inlined as a table, score =
    feature-join + sum, argmax via ordered row_number with the committed
    class-order tie-break — so the driver's hard hash signal covers the
    learned kernel, not just parity tests."""
    from nlp_cube_spark.operators import annotate as A

    words = A.fused_words(_docs_as_pages(spark, sf_dir), tagger="learned")
    return words.select("url", "word_id", "form", "upos", "xpos", "feats")


def q_kg_lemmas_transducer(spark, sf_dir):
    """Driver-visible GENERATIVE lemmatizer (kernels/transducer.py:
    suffix-rule induction with backoff — the open-vocabulary path that
    COMPOSES edit programs for unseen forms, closing the classifier gap
    vs the reference's char seq2seq, lemmatizer.py:78-171). Slots behind
    the same dedup-then-broadcast-join stage as 'rules'/'learned'; the
    trainer gates it to exact corpus parity, so the relational replay
    hash-matches."""
    from nlp_cube_spark.operators import annotate as A

    words = A.annotate(_docs_as_pages(spark, sf_dir), lemmatizer="transducer")
    return words.select("url", "word_id", "form", "lemma", "upos")


def q_kg_heads_learned(spark, sf_dir):
    """Driver-visible LEARNED parser: the pinned arc-factored perceptron
    scores every head candidate and MST (CLE) decodes, all inside the fused
    Arrow stage (tagger also learned, so the whole neural seam stack runs).
    The oracle replays the reference-semantics attachment relationally
    (_KG_LABELED_DUCK), so a hash match proves the learned scorer + MST
    decode reproduce the required tree exactly — beyond the parity tests."""
    from nlp_cube_spark.operators import annotate as A

    words = A.fused_words(_docs_as_pages(spark, sf_dir), scorer="learned", tagger="learned")
    return words.select("url", "word_id", "form", "head", "deprel")


def q_kg_head_distribution(spark, sf_dir):
    """MST-decoded head verification beyond triple patterns: distribution
    of (deprel, signed head distance); det/case attachment targets are
    pinned here and nowhere else. fused_words: no lemma join needed."""
    from nlp_cube_spark.operators import annotate as A

    words = A.fused_words(_docs_as_pages(spark, sf_dir))
    dist = F.when(F.col("head") == 0, F.lit(0)).otherwise(F.col("head") - F.col("word_id"))
    return words.groupBy("deprel", dist.alias("dist")).agg(F.count(F.lit(1)).alias("n"))


def q_kg_triples(spark, sf_dir):
    from nlp_cube_spark.operators import annotate as A

    return A.fused_triples(_docs_as_pages(spark, sf_dir)).select("url", "sent_id", "subj", "pred", "obj", "pattern")


def q_kg_predicate_counts(spark, sf_dir):
    from nlp_cube_spark.operators import annotate as A

    return A.fused_triples(_docs_as_pages(spark, sf_dir)).groupBy("pred").agg(F.count(F.lit(1)).alias("n"))


def q_kg_linked_canonical(spark, sf_dir):
    """Full link + canonicalize over the sf documents (row count scales with
    SF): alias dictionary self-derived from the corpus with md5 entity ids,
    linking argmax over 1-2 candidates/alias, equivalence edges from appos
    triples + shared entity ids, components via iterative min-label
    propagation. The DuckDB oracle replays all of it (recursive CTE for the
    components), so this is hash-checked, not rows-only."""
    from nlp_cube_spark.operators import annotate as A, canonicalize as C, linking as LK

    docs = _t(spark, sf_dir, "documents")
    pages = _docs_as_pages(spark, sf_dir)
    # checkpoint the fused stage BEFORE link: link_triples references its
    # input 3x (mention branches + attach) — see plans/pipeline.py:83
    linked = LK.link_triples(
        A.fused_triples(pages).localCheckpoint(), LK.derived_aliases(docs)
    ).localCheckpoint()
    return C.canonicalize_triples(linked).select(
        "url", "sent_id", "subj", "pred", "obj", "pattern", "subj_id", "obj_id", "subj_canon", "obj_canon"
    )


def q_doc_hash_embeddings(spark, sf_dir):
    """Word-embedding attach seam (#11/#12): Arrow-kernel hash embeddings
    mean-pooled per document; DuckDB reproduces every value (md5 math)."""
    from nlp_cube_spark.operators.embed import attach_embeddings

    toks = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("form"))
        .where(F.col("form") != "")
    )
    emb = attach_embeddings(toks, dim=4)
    slots = emb.select("doc_id", F.posexplode("emb").alias("slot", "v"))
    pooled = slots.groupBy("doc_id", "slot").agg(F.round(F.avg("v"), 6).alias("v"))
    return (
        pooled.groupBy("doc_id")
        .pivot("slot", [0, 1, 2, 3])
        .agg(F.first("v"))
        .select("doc_id", F.col("0").alias("e0"), F.col("1").alias("e1"),
                F.col("2").alias("e2"), F.col("3").alias("e3"))
    )


def q_vocab_words(spark, sf_dir):
    """Encodings word2int analog (reference encodings.py:116-119)."""
    from nlp_cube_spark.operators.vocab import word_vocab

    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("form"))
        .where(F.col("form") != "")
    )
    return word_vocab(toks, cutoff=7)


def q_vocab_chars(spark, sf_dir):
    """Encodings char2int analog (reference encodings.py:120-130)."""
    from nlp_cube_spark.operators.vocab import char_vocab

    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("form"))
        .where(F.col("form") != "")
    )
    return char_vocab(toks, cutoff=5)


def q_multimodal_features(spark, sf_dir):
    from nlp_cube_spark.operators import multimodal as MM

    assets = MM.synth_assets(spark, _t(spark, sf_dir, "documents"))
    return MM.extract_features(assets, dim=8).select("asset_id", "kind", "n_bytes", "content_hash")


def q_multimodal_transformed(spark, sf_dir):
    """Real media transforms end-to-end: synth valid containers ->
    transform_assets (PNG full pixel decode + nearest resize 0.5x +
    re-encode; WAV frame decimation /2; JPEG/MP4 pass-through) ->
    strict header re-decode. The oracle replays the transform arithmetic
    on the generator parameters, so the hash match proves the resized /
    decimated bytes parse back to exactly the predicted geometry."""
    from nlp_cube_spark.operators import multimodal as MM

    assets = MM.synth_media_assets(spark, _t(spark, sf_dir, "documents"))
    return MM.decode_assets(MM.transform_assets(assets, image_scale=0.5, audio_decimate=2))


def q_doc_wordgram_embeddings(spark, sf_dir):
    """WordGram char-ngram encoder (#12) driver-visible: word vector = mean
    of trained char 3-5 gram vectors (fastText-style subword composition fit
    to the pinned PPMI-SVD targets), hash fallback for tokens sharing no
    gram with the training vocabulary; mean-pooled per document. The oracle
    inlines the committed gram table and replays composition relationally."""
    from nlp_cube_spark.operators.embed import attach_embeddings

    toks = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("form"))
        .where(F.col("form") != "")
    )
    emb = attach_embeddings(toks, dim=4, source="wordgram")
    slots = emb.select("doc_id", F.posexplode("emb").alias("slot", "v"))
    pooled = slots.groupBy("doc_id", "slot").agg(F.round(F.avg("v"), 6).alias("v"))
    return (
        pooled.groupBy("doc_id")
        .pivot("slot", [0, 1, 2, 3])
        .agg(F.first("v"))
        .select("doc_id", F.col("0").alias("e0"), F.col("1").alias("e1"),
                F.col("2").alias("e2"), F.col("3").alias("e3"))
    )


def q_multimodal_decoded(spark, sf_dir):
    """Real media decode: synthesize valid PNG/JPEG/WAV/MP4 payloads from
    doc_id, then strictly parse the container headers back (PNG IHDR+CRC,
    JPEG SOF, RIFF fmt/data, ISO-BMFF mvhd). The oracle replays the
    generators' closed-form parameter arithmetic in SQL, so a hash match
    proves the parser extracted exactly the fields embedded in the bytes."""
    from nlp_cube_spark.operators import multimodal as MM

    assets = MM.synth_media_assets(spark, _t(spark, sf_dir, "documents"))
    return MM.decode_assets(assets)


def q_tokenizer_targets(spark, sf_dir):
    """Tokenizer training-target encoding (SURVEY §2a #9, reference
    utils_tokenizer.py:298-320): per-pre-token 5-class boundary labels by
    running char-length alignment to gold tokens, fused into one Arrow
    stage (segmentation + MWT + alignment, parse skipped). On the salad
    corpus pre-tokens equal tokens, so classes are 2 (token end) and 4
    (sentence end) — the oracle replays the alignment closed-form."""
    from nlp_cube_spark.operators.targets import fused_tokenizer_targets

    return fused_tokenizer_targets(_docs_as_pages(spark, sf_dir))


def q_events_asof_prev_click(spark, sf_dir):
    """Backward STRICT as-of join (operators/temporal.asof_join): every
    event gets the same user's most recent strictly-earlier click. Plan is
    tagged-union + ONE hash exchange + running last(ignorenulls) window —
    no theta join, no per-key explosion; the oracle replays it with
    DuckDB's native ASOF LEFT JOIN."""
    from nlp_cube_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"), clicks,
        "user_id", "ts", "ts", ["click_id"], strict=True,
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.coalesce(F.col("click_id"), F.lit(-1)).alias("prev_click_id"),
    )


def q_events_range_clicks(spark, sf_dir):
    """Bounded range join (operators/temporal.range_join_binned): per
    'error' event, how many clicks the same user made within the next
    hour. Left windows replicate into <=2 hour-bins, right rows land in
    exactly one, so the equi-join on (user_id, bin) emits each qualifying
    pair once — no cartesian path, no dedup pass."""
    from nlp_cube_spark.operators.temporal import range_join_binned

    ev = _t(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("click_id")
    )
    pairs = range_join_binned(errors, clicks, "user_id", "ts", "cts", 0, 3600)
    counts = pairs.groupBy("event_id").agg(F.count("click_id").alias("n_clicks"))
    return (
        errors.select("event_id")
        .join(counts, "event_id", "left")
        .select("event_id", F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"))
    )


def _q_term_scores(spark, sf_dir, scheme):
    from pyspark.sql import Window

    from nlp_cube_spark.operators.textstats import term_scores

    scored = term_scores(_t(spark, sf_dir, "documents"), scheme=scheme)
    # rank on the ROUNDED score: tf/df/dl arithmetic is reproducible across
    # engines but ln() may differ in the last ulp, which must never decide
    # top-k membership
    scored = scored.withColumn("score", F.round("score", 6))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def q_tfidf_top_terms(spark, sf_dir):
    """TF-IDF top-3 terms per document (textstats.term_scores): pure
    Catalyst — two uniform-key hash aggs, a term-keyed shuffle join (the
    df dimension deliberately NOT broadcast: web vocab exceeds broadcast
    size), a broadcast 1-row corpus-stats cross join, one ranking window."""
    return _q_term_scores(spark, sf_dir, "tfidf")


def q_bm25_top_terms(spark, sf_dir):
    """BM25 (k1=1.2, b=0.75) top-3 terms per document — same plan shape as
    tfidf with the doc-length normalization attached from the dl agg."""
    return _q_term_scores(spark, sf_dir, "bm25")


def q_kg_link_prediction(spark, sf_dir):
    """Adamic-Adar link prediction over the KG entity graph
    (operators/graphstats.link_prediction — Liben-Nowell & Kleinberg
    2003): every non-adjacent 2-hop entity pair scored by
    sum 1/ln(deg(mid)) with integer nano-unit accumulation, the
    KG-completion candidate generator. The oracle replays the wedge
    join + nano sum over the relational triple replay."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.graphstats import link_prediction

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir))
    edges = trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return link_prediction(edges, metric="adamic_adar").select(
        F.col("node_a").alias("entity_a"),
        F.col("node_b").alias("entity_b"),
        "n_common",
        "score",
    )


def q_kg_negative_samples(spark, sf_dir):
    """Deterministic TransE-protocol negative sampling over the triple
    store (operators/kgtrain.corrupt_triples — Bordes 2013, filtered
    setting): 2 hash-derived corruptions per distinct triple, side and
    replacement entity both md5 functions of (s, p, o, sample_id), true
    triples and no-op replacements dropped."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.kgtrain import corrupt_triples

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir)).select(
        "subj", "pred", "obj"
    )
    return corrupt_triples(trip, k=2)


def q_kg_transe_embeddings(spark, sf_dir):
    """Full-batch TransE over the KG triple store (operators/kgtrain
    .transe_train — Bordes 2013, squared-L2 dissimilarity, hash-derived
    negatives, integer micro-unit trajectory): 2 training iterations,
    dim 4. The oracle unrolls the ENTIRE trajectory — init hash,
    negative sampling, per-pair margin mask, gradient sums, updates —
    as a DuckDB CTE chain, hash-certifying KG-embedding training the
    way kg_entity_pagerank certifies power iteration."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.kgtrain import transe_train

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir)).select(
        "subj", "pred", "obj"
    )
    return transe_train(trip, dim=4, iters=2)


def q_kg_completion_topk(spark, sf_dir):
    """KG-completion ranking with the trained TransE vectors
    (operators/kgtrain.transe_completion_topk — Bordes 2013 filtered
    protocol): for every distinct (subj, pred) query, the top-3
    candidate tail entities by exact integer squared distance, known
    true triples excluded. The oracle reuses the unrolled training
    chain and re-ranks on the same BIGINT distances — train-then-serve
    certified end to end."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.kgtrain import (
        transe_completion_topk,
        transe_train,
    )

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir)).select(
        "subj", "pred", "obj"
    ).localCheckpoint()  # feeds training AND the truth exclusion
    emb = transe_train(trip, dim=4, iters=2)
    return transe_completion_topk(emb, trip, k=3)


def q_kg_completion_metrics(spark, sf_dir):
    """Filtered MRR / mean-rank / Hits@{1,3,10} of the trained TransE
    ranker (kgtrain.transe_filtered_eval, Bordes 2013 §4): rank of
    every true tail = 1 + an exact-integer beats-count; reciprocals
    accumulate as 1e9 div rank BIGINTs. The oracle re-ranks on the
    unrolled training chain — train-then-EVALUATE certified."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.kgtrain import (
        transe_filtered_eval,
        transe_train,
    )

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir)).select(
        "subj", "pred", "obj"
    ).localCheckpoint()
    emb = transe_train(trip, dim=4, iters=2)
    return transe_filtered_eval(emb, trip)


def q_kg_entity_pagerank(spark, sf_dir):
    """PageRank over the KG entity graph (distinct subj->obj edges from
    the fused triple pipeline), 3 synchronous iterations with uniform
    dangling redistribution (operators/graphstats.pagerank — r7: the
    whole trajectory is integer nano-units, summation-order exact).
    The oracle replays the SAME integer arithmetic as an unrolled CTE
    chain over the relational triple replay — a hash match certifies
    the whole stack: annotation kernels -> triple emission -> iterative
    graph analytics."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.graphstats import pagerank

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir))
    edges = trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    pr = pagerank(edges, iters=3)
    return pr.select(
        F.col("node").alias("entity"),
        (F.floor(F.col("rank") * 1e6 + F.lit(0.5)) / 1e6).alias("pagerank"),
    )


def q_doc_paragraph_dedup(spark, sf_dir):
    """Paragraph-level boilerplate dedup (operators/dedup.
    paragraph_dedup): the documents table wrapped in deterministic
    nav/footer/source boilerplate lines — the RefinedWeb scenario
    document-level dedup cannot see. The winner rule (first corpus
    occurrence by (doc_id, position)) and full reassembled text are
    hash-verified against the DuckDB replay."""
    from nlp_cube_spark.operators.dedup import paragraph_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("HOME | ABOUT | CONTACT"),
            F.col("text"),
            F.lit("COPYRIGHT 2025 EXAMPLE CORP"),
            F.concat(F.lit("SOURCE: "), F.col("source")),
        ).alias("text"),
    )
    return paragraph_dedup(docs)


def q_training_corpus_curation(spark, sf_dir):
    """The composed curation pipeline (plans/dataprep.curate_corpus):
    paragraph-boilerplate dedup -> PII scrub -> benchmark
    decontamination (on scrubbed text) -> Gopher repetition stats ->
    quality + keep verdict, ALL stages chained and replayed end-to-end
    by one DuckDB CTE — the composition analogue of training_data_prep
    for the curation half. Input = documents wrapped in deterministic
    boilerplate + injected PII; benchmark = the doc_id %% 50 sample."""
    from nlp_cube_spark.plans.dataprep import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("HOME | ABOUT | CONTACT"),
            F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 7 == 0,
                    F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com now")),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 11 == 0,
                    F.concat(F.lit(" call +1 555-01"), F.col("doc_id"), F.lit(" today")),
                ).otherwise(F.lit("")),
            ),
            F.lit("COPYRIGHT 2025 EXAMPLE CORP"),
            F.concat(F.lit("SOURCE: "), F.col("source")),
        ).alias("text"),
    )
    bench = docs.where("doc_id % 50 = 0").select("text")
    out = curate_corpus(
        wrapped, bench, decontaminate_n=5, min_quality=0.6,
        max_dup_line_frac=0.5, max_top_ngram_frac=0.5,
    )
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"), "n_removed", "n_emails",
        "n_phones", "contaminated", "dup_line_frac", "top_ngram_frac",
        "quality", "kept",
    )


def q_kg_entity_communities(spark, sf_dir):
    """Deterministic synchronous label propagation (graphstats.
    label_propagation, 3 fixed rounds, most-frequent-neighbour label,
    min tie-break) over the fused KG entity graph. The oracle unrolls
    all three voting rounds as a CTE chain — like kg_entity_pagerank
    for power iteration — so the whole iterative trajectory is
    hash-certified."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.graphstats import label_propagation

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir))
    edges = trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return label_propagation(edges, iters=3).select(
        F.col("node").alias("entity"), F.col("label").alias("community")
    )


def q_doc_length_quantiles(spark, sf_dir):
    """Exact interpolated quantiles (p50/p90/p99) of document char length
    per language: Spark's exact `percentile` (sort-based within the
    per-lang hash agg) vs DuckDB quantile_cont — both implement the same
    linear-interpolation definition. At 100 TB one would flip to
    approx_percentile (t-digest, mergeable partial aggs) and accept the
    documented error bound; the exact form is the oracle-able variant."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(F.expr("percentile(length(text), 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(length(text), 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(length(text), 0.99)"), 4).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


def q_doc_length_quantiles_twopass(spark, sf_dir):
    """Same quantiles as doc_length_quantiles but through the scale-safe
    two-pass plan (operators/quantiles.grouped_quantiles): counts over
    (lang, distinct length) then rank-interpolated selection — the
    largest task is O(distinct lengths of the hottest lang), never
    O(docs of the hottest lang). Hash-oracled against the SAME DuckDB
    quantile_cont SQL as the exact-percentile form, proving the plans
    are value-identical, not merely error-bounded."""
    from nlp_cube_spark.operators.quantiles import grouped_quantiles

    docs = _t(spark, sf_dir, "documents").select(
        "lang", F.length("text").alias("len")
    )
    qd = grouped_quantiles(docs, ["lang"], "len", [0.5, 0.9, 0.99])
    return qd.groupBy("lang").agg(
        F.round(F.max(F.when(F.col("q") == 0.5, F.col("value"))), 4).alias("p50"),
        F.round(F.max(F.when(F.col("q") == 0.9, F.col("value"))), 4).alias("p90"),
        F.round(F.max(F.when(F.col("q") == 0.99, F.col("value"))), 4).alias("p99"),
        F.max("n").alias("n"),
    )


def q_doc_length_quantiles_approx(spark, sf_dir):
    """Sketch quantiles (operators/quantiles.grouped_quantiles_approx:
    percentile_approx, mergeable GK summary, O(accuracy) state/group) —
    the scale path for continuous measures where distinct ~= rows and
    the exact two-pass plan loses its bound. Oracled BY ERROR BOUND: the
    output carries the exact quantile (replayed by DuckDB quantile_cont)
    plus `rank_ok`, true iff the approx value's occupied rank interval
    [cnt_lt+1, cnt_le] intersects the GK guarantee window
    ceil(q*n) +- (n/accuracy + 1); the oracle asserts it as literal
    TRUE, so an out-of-bound sketch hash-mismatches."""
    from nlp_cube_spark.operators.quantiles import (
        grouped_quantiles,
        grouped_quantiles_approx,
    )

    ACC = 1000
    qs = [0.5, 0.9, 0.99]
    docs = _t(spark, sf_dir, "documents").select("lang", F.length("text").alias("len"))
    ap = grouped_quantiles_approx(docs, ["lang"], "len", qs, accuracy=ACC)
    counts = docs.groupBy("lang", "len").agg(F.count(F.lit(1)).alias("c"))
    ranked = (
        ap.join(counts, "lang")  # ap is groups x qs rows — tiny side
        .groupBy("lang", "q", "approx", "n")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("len") < F.col("approx"), F.col("c"))), F.lit(0)
            ).alias("cnt_lt"),
            F.coalesce(
                F.sum(F.when(F.col("len") <= F.col("approx"), F.col("c"))), F.lit(0)
            ).alias("cnt_le"),
        )
    )
    slack = F.col("n") / ACC + 1
    target = F.ceil(F.col("q") * F.col("n"))
    ok = ((F.col("cnt_lt") + 1) <= target + slack) & (F.col("cnt_le") >= target - slack)
    ex = grouped_quantiles(docs, ["lang"], "len", qs).select(
        "lang", "q", F.round("value", 4).alias("exact")
    )
    return ranked.join(ex, ["lang", "q"]).select(
        "lang", F.col("q").cast("double").alias("q"), "exact", "n", ok.alias("rank_ok")
    )


def q_doc_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filters per doc (operators/textstats.
    repetition_stats, n=2): duplicate-line fraction + most-frequent-bigram
    coverage — explode + two uniform hash aggs, no per-doc buffer."""
    from nlp_cube_spark.operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def q_source_mix(spark, sf_dir):
    """Per-source corpus-mix report (operators/textstats.source_mix):
    the per-domain doc counts / exact-dup fraction / mean length that
    drive C4-style domain capping."""
    from nlp_cube_spark.operators.textstats import source_mix

    return source_mix(_t(spark, sf_dir, "documents"))


def q_doc_perplexity(spark, sf_dir):
    """CCNet-style perplexity quality filter under the corpus's own
    add-0.5-smoothed unigram LM (textstats.unigram_perplexity) — the
    LM 'training' is one term hash agg; scoring is a term-keyed join."""
    from nlp_cube_spark.operators.textstats import unigram_perplexity

    return unigram_perplexity(_t(spark, sf_dir, "documents"))


def q_ann_kmeans_centroids(spark, sf_dir):
    """Lloyd-refined IVF centroids (similarity.kmeans_refine, 2
    iterations, 16 cells) emitted long-form (centroid_id, pos, val).
    The oracle unrolls both Lloyd iterations as a CTE chain — assignment
    argmax, per-dimension integer nano-unit mean (exact at any
    parallelism / summation order) — so the whole iterative training
    trajectory is hash-certified, like kg_entity_pagerank for power
    iteration."""
    from nlp_cube_spark.operators.similarity import kmeans_refine

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_refine(emb, n_centroids=16, iters=2)
    return cents.select(
        "centroid_id", F.posexplode("c_emb").alias("pos", "val")
    )


def q_kg_entity_triangles(spark, sf_dir):
    """Per-entity triangle counts over the undirected KG entity graph
    (operators/graphstats.triangle_count — wedge join + closing-edge
    join, each triangle enumerated once). Certifies the same
    kernels->triples->graph-analytics stack as kg_entity_pagerank
    through a second, join-shaped algorithm."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.graphstats import triangle_count

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir)).localCheckpoint()
    edges = trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return triangle_count(edges).select(
        F.col("node").alias("entity"), "triangles"
    )


def q_source_sampling_weights(spark, sf_dir):
    """Temperature-smoothed source mixing weights, alpha=0.3 (textstats.
    source_sampling_weights): one source-dim hash agg + two broadcast
    scalar attaches."""
    from nlp_cube_spark.operators.textstats import source_sampling_weights

    return source_sampling_weights(_t(spark, sf_dir, "documents"), alpha=0.3)


def q_doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/curate.decontaminate): docs
    sharing any 5-gram with the deterministic 'benchmark' subset
    (doc_id % 50 = 0, which the rule rightly flags as self-contaminated)
    — benchmark grams broadcast; the corpus is never shuffled on gram."""
    from nlp_cube_spark.operators.curate import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where("doc_id % 50 = 0").select("text")
    return decontaminate(docs, bench, n=5).select(
        "doc_id", F.col("contaminated").cast("int").alias("contaminated")
    )


def q_doc_scrub_pii(spark, sf_dir):
    """C4-style PII scrubbing (operators/curate.scrub_pii) over documents
    with deterministically injected emails/phones (the salad corpus has
    none), so counts and the scrubbed text are all non-trivially
    verified; md5 keeps the scrubbed text hash-comparable."""
    from nlp_cube_spark.operators.curate import scrub_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "concat(text,"
            " case when doc_id % 7 = 0 then"
            "   concat(' contact user', doc_id, '@example.com now') else '' end,"
            " case when doc_id % 11 = 0 then"
            "   concat(' call +1 555-01', doc_id, ' today') else '' end)"
        ).alias("text"),
    )
    out = scrub_pii(docs)
    return out.select(
        "doc_id", "n_emails", "n_phones", F.md5("scrubbed").alias("scrubbed_md5")
    )


_BPE_N_MERGES = 16


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (operators/bpe.train_bpe):
    one corpus scan -> capped word-frequency dimension, then per merge a
    pair agg over the dimension + 1-row broadcast argmax + overlap-safe
    double-space merge apply.  Integer counts with deterministic
    (freq DESC, lhs, rhs) tie-break make the whole merge trajectory
    bit-identical across engines — the oracle replays all 16 iterations
    as an unrolled CTE chain (_bpe_train_ctes)."""
    from nlp_cube_spark.operators.bpe import train_bpe

    merges, _ = train_bpe(
        _t(spark, sf_dir, "documents"), n_merges=_BPE_N_MERGES
    )
    return merges


def q_bpe_token_counts(spark, sf_dir):
    """Per-document subword token counts under the corpus-trained BPE
    model (operators/bpe.bpe_token_counts): dedup-then-join on the word
    dimension carrying the training by-product segmentation; empty docs
    keep 0/0."""
    from nlp_cube_spark.operators.bpe import bpe_token_counts, train_bpe

    docs = _t(spark, sf_dir, "documents")
    _, seg = train_bpe(docs, n_merges=_BPE_N_MERGES)
    return bpe_token_counts(docs, seg)


_SUBSTR_K, _SUBSTR_MINLEN, _SUBSTR_CAP = 8, 12, 64


def q_exact_substr_spans(spark, sf_dir):
    """Exact-substring dedup (operators/substrdedup, Lee et al. 2021
    re-expressed shardable): hashed k-gram anchors from THE one n-gram
    regex -> >=2-doc / <=cap gram filter -> anchor self-join -> diagonal
    gaps-and-islands merge into maximal shared spans >= min_len tokens.
    Pure integer/string ops — bit-identical across engines; the oracle
    replays the whole chain including the 60-bit md5 gram hash."""
    from nlp_cube_spark.operators.substrdedup import exact_substring_spans

    return exact_substring_spans(
        _t(spark, sf_dir, "documents"),
        k=_SUBSTR_K,
        min_len=_SUBSTR_MINLEN,
        max_docs_per_gram=_SUBSTR_CAP,
    )


def q_doc_dup_coverage(spark, sf_dir):
    """Per-document duplicate-span coverage (operators/substrdedup
    .dup_span_coverage): the higher-doc_id side of each shared span is
    the duplicate; its intervals are distinct-ed, union-merged via a
    running-max-end window, and summed to dup_tokens / dup_fraction
    (floor-rounded 6dp — the engine-portable form)."""
    from nlp_cube_spark.operators.substrdedup import (
        dup_span_coverage,
        exact_substring_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    spans = exact_substring_spans(
        docs, k=_SUBSTR_K, min_len=_SUBSTR_MINLEN, max_docs_per_gram=_SUBSTR_CAP
    )
    return dup_span_coverage(docs, spans)


def q_dsir_log_weights(spark, sf_dir):
    """DSIR importance-resampling weights (operators/curate.dsir_weights,
    Xie et al. 2023): per-document log-likelihood ratio between a
    target-domain hashed-n-gram LM (here: the alphabetically-first
    source, selected by a 1-row broadcast min) and the raw-corpus LM.
    The bucket space is fixed (4096), so both LMs broadcast; per-bucket
    log-ratios are floor-rounded 9dp, sums 6dp."""
    from nlp_cube_spark.operators.curate import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    msrc = docs.agg(F.min("source").alias("source"))
    target = docs.join(F.broadcast(msrc), "source")
    return dsir_weights(docs, target)


_LR_BUCKETS, _LR_ITERS, _LR_RATE = 1024, 4, 0.5


def _lr_labeled_docs(spark, sf_dir):
    """documents + 0/1 label: 1 when source is the alphabetically-first
    source (the same broadcast-min device as dsir_log_weights) — the
    GPT-3-style 'is this doc like the curated corpus' target."""
    docs = _t(spark, sf_dir, "documents")
    msrc = docs.agg(F.min("source").alias("source"))
    return docs.join(
        F.broadcast(msrc).withColumn("_is_t", F.lit(1)), "source", "left"
    ).withColumn("label", F.coalesce("_is_t", F.lit(0)))


def q_lr_quality_weights(spark, sf_dir):
    """Distributed logistic-regression quality-classifier training
    (operators/classifier.train_quality_lr, the GPT-3 appendix-A corpus
    filter): 4 full-batch gradient iterations, each one broadcast join +
    two aggs; weights/bias/sigmoid live as integer nano-units so the
    whole trajectory is exact and summation-order-independent. The
    oracle unrolls all 4 iterations as a DuckDB CTE chain."""
    from nlp_cube_spark.operators.classifier import train_quality_lr

    return train_quality_lr(
        _lr_labeled_docs(spark, sf_dir),
        "label",
        n_buckets=_LR_BUCKETS,
        iters=_LR_ITERS,
        lr=_LR_RATE,
    )


def q_doc_lr_scores(spark, sf_dir):
    """Per-document scores under the trained LR quality classifier
    (operators/classifier.score_quality_lr): sigmoid margin over the
    broadcast weight table, floor-rounded 6dp; featureless docs score
    sigmoid(bias)."""
    from nlp_cube_spark.operators.classifier import (
        score_quality_lr,
        train_quality_lr,
    )

    model = train_quality_lr(
        _lr_labeled_docs(spark, sf_dir),
        "label",
        n_buckets=_LR_BUCKETS,
        iters=_LR_ITERS,
        lr=_LR_RATE,
    )
    return score_quality_lr(
        _t(spark, sf_dir, "documents"), model, n_buckets=_LR_BUCKETS
    )


def q_lr_calibration(spark, sf_dir):
    """Reliability-diagram bins of the trained LR quality classifier
    (classifier.calibration_bins, Guo 2017): observed positive rate vs
    mean predicted score per decile — the calibration meter for the
    corpus filter. Scores are 6dp-quantized so the bin means are exact
    integer micro-unit sums."""
    from nlp_cube_spark.operators.classifier import (
        calibration_bins,
        score_quality_lr,
        train_quality_lr,
    )

    labeled = _lr_labeled_docs(spark, sf_dir)
    model = train_quality_lr(
        labeled, "label", n_buckets=_LR_BUCKETS, iters=_LR_ITERS, lr=_LR_RATE
    )
    scored = score_quality_lr(labeled, model, n_buckets=_LR_BUCKETS).join(
        labeled.select("doc_id", "label"), "doc_id"
    )
    return calibration_bins(scored)


def q_lineitem_correlations(spark, sf_dir):
    """Pairwise Pearson correlations of lineitem's measures
    (quantiles.correlation_matrix, ANSI-safe closed form)."""
    from nlp_cube_spark.operators.quantiles import correlation_matrix

    return correlation_matrix(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


def q_lineitem_profile(spark, sf_dir):
    """Single-pass numeric column profile of lineitem's four measures
    (quantiles.numeric_profile)."""
    from nlp_cube_spark.operators.quantiles import numeric_profile

    return numeric_profile(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


def q_kg_degree_histogram(spark, sf_dir):
    """Degree-distribution histogram of the entity graph — a pure
    COMPOSITION of two round-6 operators (neighborhood_stats ->
    equi_width_histogram, 8 bins): the power-law sanity view."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.graphstats import neighborhood_stats
    from nlp_cube_spark.operators.quantiles import equi_width_histogram

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir)).localCheckpoint()
    edges = trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return equi_width_histogram(neighborhood_stats(edges), "deg", 8)


def q_doc_containment_dedup(spark, sf_dir):
    """Asymmetric containment dedup (dedup.containment_pairs) over a
    corpus with injected PREFIX stubs (first 120 chars of every 25th
    doc, id+3e6): the subset-duplicate case symmetric Jaccard misses.
    Candidates come from winnow_match_pairs — the shared-substring
    guarantee is containment-shaped, where MinHash-LSH recall decays
    with |A|/|B|."""
    from nlp_cube_spark.operators.dedup import containment_pairs, winnow_match_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    stubs = docs.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + F.lit(3000000)).alias("doc_id"),
        F.expr("substr(text, 1, 120)").alias("text"),
    )
    corpus = docs.unionByName(stubs).localCheckpoint(eager=False)
    pairs = winnow_match_pairs(corpus, k=8, w=4, min_shared=2, max_bucket=64)
    return containment_pairs(pairs, corpus, threshold=0.8)


def q_doc_similar_tfidf(spark, sf_dir):
    """Term-space more-like-this (textstats.similar_docs): top-2
    cosine-similar docs per doc over L2-normalized tfidf vectors."""
    from nlp_cube_spark.operators.textstats import similar_docs

    return similar_docs(_t(spark, sf_dir, "documents"), k=2)


def q_events_trailing_hour(spark, sf_dir):
    """Per-event trailing 1-hour count/value-sum for the same user
    (temporal.trailing_window_stats, RANGE frame on whole epoch
    seconds)."""
    from nlp_cube_spark.operators.temporal import trailing_window_stats

    return trailing_window_stats(_t(spark, sf_dir, "events"), 3600)


def q_user_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention matrix over events
    (temporal.retention_cohorts): cohort = first-activity week, age in
    whole weeks, retention vs cohort size."""
    from nlp_cube_spark.operators.temporal import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


def q_rrf_top_terms(spark, sf_dir):
    """Reciprocal Rank Fusion of the tfidf and bm25 per-doc term
    rankings (textstats.rrf_top_terms, k=60, top 3 fused terms)."""
    from nlp_cube_spark.operators.textstats import rrf_top_terms

    return rrf_top_terms(_t(spark, sf_dir, "documents"), top_k=3)


def q_doc_readability(spark, sf_dir):
    """Flesch reading ease per document (textstats.readability)."""
    from nlp_cube_spark.operators.textstats import readability

    return readability(_t(spark, sf_dir, "documents"))


def q_search_docs_bm25(spark, sf_dir):
    """BM25 document retrieval (textstats.search_bm25) for a fixed
    3-term query over the salad vocabulary; top-50 docs, scores rounded
    before ranking."""
    from nlp_cube_spark.operators.textstats import search_bm25

    return search_bm25(
        _t(spark, sf_dir, "documents"), "scan column window", k=50
    )


def q_kg_entity_bfs(spark, sf_dir):
    """BFS hop levels from the lexicographically-first entity over the
    undirected KG graph (graphstats.bfs_levels, 4 hops): the
    neighborhood-expansion primitive, min-seed chosen by the same
    broadcast-min device the LM/DSIR queries use."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.graphstats import bfs_levels

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir)).localCheckpoint()
    edges = trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    )
    seeds = nodes.agg(F.min("node").alias("node"))
    return bfs_levels(edges, seeds, max_hops=4).select(
        F.col("node").alias("entity"), "level"
    )


def q_kg_entity_neighborhood(spark, sf_dir):
    """Per-entity neighborhood degree features over the undirected KG
    graph (graphstats.neighborhood_stats)."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.graphstats import neighborhood_stats

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir)).localCheckpoint()
    edges = trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return neighborhood_stats(edges).select(
        F.col("node").alias("entity"),
        "deg",
        "avg_nbr_deg",
        "max_nbr_deg",
        "n_two_hop_walks",
    )


def q_doc_length_histogram(spark, sf_dir):
    """Per-source equi-width histogram of document lengths
    (quantiles.equi_width_histogram): global edges so groups share
    comparable bins; 12 bins."""
    from nlp_cube_spark.operators.quantiles import equi_width_histogram

    return equi_width_histogram(
        _t(spark, sf_dir, "documents"), "n_chars", 12, ["source"]
    )


def q_doc_ngram_novelty(spark, sf_dir):
    """Per-doc 3-gram novelty vs the corpus (textstats.ngram_novelty):
    the boilerplate signal — share of a doc's distinct grams appearing
    in no other document."""
    from nlp_cube_spark.operators.textstats import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"), n=3)


def q_kg_entity_hits(spark, sf_dir):
    """HITS hubs/authorities over the directed KG entity graph
    (graphstats.hits): 3 power iterations, per-half-step 9dp-rounded
    trajectory replayed by an unrolled CTE chain."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.graphstats import hits

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir)).localCheckpoint()
    edges = trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return hits(edges, iters=3).select(
        F.col("node").alias("entity"), "hub", "authority"
    )


def q_weighted_sample_docs(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement
    (sampling.weighted_sample): weight = document length, k=100;
    hash-derived exact 52-bit uniforms, 9dp-rounded keys so the k-th
    boundary is never decided by a ulp."""
    from nlp_cube_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").withColumn(
        "w", F.length("text").cast("double")
    )
    return weighted_sample(docs, 100, "w")


def q_user_funnel(spark, sf_dir):
    """Ordered view->click->purchase funnel per user (temporal.funnel):
    greedy earliest-match with strict-> ordering; per-user step
    timestamps + depth."""
    from nlp_cube_spark.operators.temporal import funnel

    return funnel(_t(spark, sf_dir, "events"), ["view", "click", "purchase"])


def q_source_ngram_overlap(spark, sf_dir):
    """Cross-source 3-gram Jaccard matrix
    (textstats.source_ngram_overlap): the between-corpus contamination
    diagnostic; zero-overlap pairs included."""
    from nlp_cube_spark.operators.textstats import source_ngram_overlap

    return source_ngram_overlap(_t(spark, sf_dir, "documents"), n=3)


def q_doc_passage_chunks(spark, sf_dir):
    """Sliding token-window passages (sampling.passage_chunks, the
    RAG/embedding context-window prep): size 32, stride 24 — overlap 8;
    the oracle replays the same start grid and tail truncation."""
    from nlp_cube_spark.operators.sampling import passage_chunks

    return passage_chunks(_t(spark, sf_dir, "documents"), size=32, stride=24)


def q_corpus_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency OLS diagnostic (textstats.zipf_fit): ranks
    via the content-derived two-phase prefix sum (no single-task vocab
    sort), OLS closed form from one sufficient-statistics aggregate."""
    from nlp_cube_spark.operators.textstats import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"))


def q_kg_entity_ktruss(spark, sf_dir):
    """3-truss of the undirected KG entity graph (graphstats.k_truss):
    edges surviving support peeling, with final-round triangle support.
    Same unrolled-rounds oracle contract as kg_entity_kcore."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.graphstats import k_truss

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir)).localCheckpoint()
    edges = trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return k_truss(edges, t=3, max_iter=3).select(
        F.col("src").alias("entity_a"), F.col("dst").alias("entity_b"), "support"
    )


def q_doc_winnow_fps(spark, sf_dir):
    """Winnowing fingerprints (dedup.winnow_fingerprints, Schleimer et
    al. SIGMOD 2003): char 8-grams, window 4, packed-bigint window min
    so selection is a plain MIN on both engines."""
    from nlp_cube_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"), k=8, w=4)


def q_winnow_match_pairs(spark, sf_dir):
    """Fingerprint-overlap pairs over the clone-injected corpus
    (dedup.winnow_match_pairs): fp-keyed self-join with the hot-fp cap;
    every injected clone pair must surface with a large shared count."""
    from nlp_cube_spark.operators.dedup import winnow_match_pairs

    return winnow_match_pairs(
        _docs_with_dups(spark, sf_dir), k=8, w=4, min_shared=2, max_bucket=64
    )


def q_source_unimax_weights(spark, sf_dir):
    """UniMax epoch-capped budget allocation across sources
    (textstats.unimax_weights, Chung et al. 2023): half the corpus's
    characters as budget, 2-epoch ceiling per source — closed-form
    water-filling via one dimension-sized window pass. Complements
    source_sampling_weights (mT5 temperature) as the second published
    mixing scheme."""
    from nlp_cube_spark.operators.textstats import unimax_weights

    return unimax_weights(
        _t(spark, sf_dir, "documents"), budget_frac=0.5, max_epochs=2.0
    )


def q_doc_bigram_lm(spark, sf_dir):
    """Stupid Backoff bigram LM scoring (textstats.bigram_backoff_scores,
    Brants et al. 2007): LM trained on the alphabetically-first source
    (the broadcast-min device dsir/lr reuse), every document scored —
    cross-source bigrams exercise the backoff path, in-LM bigrams the
    hit path."""
    from nlp_cube_spark.operators.textstats import bigram_backoff_scores

    docs = _t(spark, sf_dir, "documents")
    msrc = docs.agg(F.min("source").alias("source"))
    return bigram_backoff_scores(docs, docs.join(F.broadcast(msrc), "source"))


def q_kg_entity_kcore(spark, sf_dir):
    """2-core of the undirected KG entity graph (graphstats.k_core,
    iterative peeling): the maximal subgraph of minimum degree >= 2,
    with each surviving entity's in-core degree. The oracle unrolls the
    same number of peel rounds as the operator's cap; peeling is
    idempotent at the fixpoint, so early convergence on either side
    cannot diverge."""
    from nlp_cube_spark.operators import annotate as A
    from nlp_cube_spark.operators.graphstats import k_core

    trip = A.fused_triples(_docs_as_pages(spark, sf_dir)).localCheckpoint()
    edges = trip.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return k_core(edges, k=2, max_iter=8).select(
        F.col("node").alias("entity"), "deg"
    )


def q_embedding_semdedup(spark, sf_dir):
    """SemDeDup (similarity.semdedup, Abbas et al. 2023): k-means cells
    -> within-cell eps-similarity components -> keep the least
    prototypical member per duplicate group. Random 64-d vectors have no
    natural near-dups (max natural pairwise cos = 0.513 at sf0.01), so
    the corpus is augmented with exact clones (vec_id+1e6, every 25th)
    and single-dimension x1.5 perturbations (vec_id+2e6, every 50th,
    cos in [0.98, 1.0] by construction) — every 50th vector therefore
    forms a 3-member transitive group (original + clone + perturbed)."""
    from nlp_cube_spark.operators.similarity import semdedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    clones = emb.where(F.col("vec_id") % 25 == 0).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1000000)
    )
    pert = emb.where(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(2000000)).alias("vec_id"),
        F.expr(
            "concat(array(cast(cast(element_at(embedding, 1) as double) * 1.5D as float)),"
            " slice(embedding, 2, size(embedding) - 1))"
        ).alias("embedding"),
    )
    return semdedup(
        emb.unionByName(clones).unionByName(pert),
        n_clusters=16,
        iters=2,
        eps=0.95,
    )


_CMS_DEPTH, _CMS_WIDTH = 3, 16
_DOREMI_ROUNDS, _DOREMI_ETA, _DOREMI_C_MICRO = 5, 1.0, 1000


def q_source_doremi_weights(spark, sf_dir):
    """DoReMi domain reweighting (operators/curate.doremi_weights, Xie
    et al. 2023): Group-DRO multiplicative-weights mixture over the 20
    sources, with per-domain excess cross-entropy under the corpus
    unigram LM as the loss signal. The n_rounds trajectory is exact
    integer micro-units; the corpus-sized work is one (domain, term)
    hash agg + a term-keyed LM join (open vocab — not broadcast)."""
    from nlp_cube_spark.operators.curate import doremi_weights

    docs = _t(spark, sf_dir, "documents")
    return doremi_weights(
        docs,
        n_rounds=_DOREMI_ROUNDS,
        eta=_DOREMI_ETA,
        smoothing=_DOREMI_C_MICRO / 1e6,
    )


def q_doc_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity terciles per language
    (operators/webclean.ccnet_ppl_buckets, Wenzek 2020 §4.4): per-doc
    cross-entropy under the per-language corpus unigram LM as exact
    integer nano-units, tercile rank via the no-global-sort
    exclusive-prefix-sum device + closed-form ntile(3)."""
    from nlp_cube_spark.operators.webclean import ccnet_ppl_buckets

    docs = _t(spark, sf_dir, "documents")
    return ccnet_ppl_buckets(docs)


def _doremi_duck(
    n_rounds: int = _DOREMI_ROUNDS,
    eta: float = _DOREMI_ETA,
    c_micro: int = _DOREMI_C_MICRO,
    max_excess_nano: int = 2_000_000_000,
    k: float = 0.5,
) -> str:
    rounds, prev = [], "w0"
    for t in range(1, n_rounds + 1):
        rounds.append(f"""
          r{t} AS (
            SELECT _dom, n_tokens, exc_nano, boost, nd,
                   CAST((({1000000 - c_micro} * ((raw * 1000000) // S)) // 1000000)
                        + ({c_micro} // nd) AS BIGINT) AS w
            FROM (SELECT *, w * boost AS raw,
                         sum(w * boost) OVER () AS S FROM {prev})
          )""")
        prev = f"r{t}"
    return f"""
      WITH toks AS (
        SELECT source AS _dom,
               unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t
        FROM documents
      ),
      dc AS (SELECT _dom, t, count(*) AS c FROM toks GROUP BY 1, 2),
      lm AS (SELECT t, sum(c) AS tc FROM dc GROUP BY 1),
      nv AS (SELECT sum(tc) AS N, count(*) AS V FROM lm),
      lp AS (SELECT t, CAST(floor(ln((tc + {k}) / (N + {k} * V)) * 1e9 + 0.5) AS BIGINT) AS lp_nano
             FROM lm CROSS JOIN nv),
      dnum AS (SELECT _dom, CAST(sum(c) AS BIGINT) AS n_tokens,
                      CAST(-sum(c * lp_nano) AS BIGINT) AS num
               FROM dc JOIN lp USING (t) GROUP BY 1),
      ref AS (SELECT CAST(sum(num) AS BIGINT) // CAST(sum(n_tokens) AS BIGINT) AS ref_ce
              FROM dnum),
      exc AS (SELECT _dom, n_tokens,
                     least(greatest((num // n_tokens) - ref_ce, 0), {max_excess_nano}) AS exc_nano
              FROM dnum CROSS JOIN ref),
      bst AS (SELECT _dom, n_tokens, exc_nano,
                     CAST(floor(exp({eta} * (exc_nano / 1e9)) * 1e6 + 0.5) AS BIGINT) AS boost
              FROM exc),
      nd AS (SELECT count(*) AS nd FROM bst),
      w0 AS (SELECT _dom, n_tokens, exc_nano, boost, nd,
                    CAST(1000000 // nd AS BIGINT) AS w
             FROM bst CROSS JOIN nd),
      {",".join(rounds)}
      SELECT _dom AS source, n_tokens,
             CAST(exc_nano // 1000 AS BIGINT) / 1e6 AS excess_ce,
             w / 1e6 AS weight
      FROM {prev}
    """


def q_cms_term_counts(spark, sf_dir):
    """Count-Min sketch term frequencies (operators/sketches.py, Cormode &
    Muthukrishnan 2005): d x w linear sketch of the whitespace-token
    stream, point-queried for every distinct term, reported as est vs
    exact with the one-sided overestimate. width=16 forces real
    collisions so the min-over-rows estimate path is exercised. The
    sketch is d*w cells regardless of corpus size (the 100 TB shape)."""
    from nlp_cube_spark.operators.sketches import cms_term_counts

    docs = _t(spark, sf_dir, "documents")
    return cms_term_counts(docs, depth=_CMS_DEPTH, width=_CMS_WIDTH)


def _wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def inner(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    return inner


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in _QUERIES.items()}


# Registry order matters: the driver's correctness gate checks the FIRST 50
# entries, so the newest / least-proven queries lead and long-stable trivial
# relational queries (green since round 1) trail.  Every entry is still
# replayed locally against its DuckDB oracle in tests/test_entry_queries.py.
_QUERIES = {
        # --- code changed since the window last moved: the 7 bench
        # queries rewritten in r8 (not correctness-checked since), then
        # the 4 dedup queries whose operators lost their alternative
        # kernels and hash options, then the 4 queries on the MinHash,
        # band, Jaccard-verify and exact-substring code that lost its
        # second paths ---
        "simhash_signatures": q_simhash_signatures,
        "ann_cosine_topk": q_ann_cosine_topk,
        "doc_quality": q_doc_quality,
        "doc_fingerprints": q_doc_fingerprints,
        "region_revenue": q_region_revenue,
        "top_revenue_orders": q_top_revenue_orders,
        "training_data_prep": q_training_data_prep,
        "simhash_near_dups": q_simhash_near_dups,
        "doc_winnow_fps": q_doc_winnow_fps,
        "winnow_match_pairs": q_winnow_match_pairs,
        "exact_substr_spans": q_exact_substr_spans,
        "doc_dup_coverage": q_doc_dup_coverage,
        "near_dup_clusters": q_near_dup_clusters,
        "minhash_band_pairs": q_minhash_band_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        # --- green in CORRECTNESS_r07 and CORRECTNESS_r08 ---
        "doc_containment_dedup": q_doc_containment_dedup,
        "doc_similar_tfidf": q_doc_similar_tfidf,
        "doc_ngram_novelty": q_doc_ngram_novelty,
        "kg_entity_bfs": q_kg_entity_bfs,
        "kg_entity_hits": q_kg_entity_hits,
        "kg_entity_neighborhood": q_kg_entity_neighborhood,
        "kg_degree_histogram": q_kg_degree_histogram,
        "ann_kmeans_centroids": q_ann_kmeans_centroids,
        "ann_pq_topk": q_ann_pq_topk,
        "embedding_semdedup": q_embedding_semdedup,
        "doc_c4_lines": q_doc_c4_lines,
        "doc_gopher_quality": q_doc_gopher_quality,
        "docs_capped_per_source": q_docs_capped_per_source,
        "kg_link_prediction": q_kg_link_prediction,
        "kg_negative_samples": q_kg_negative_samples,
        "kg_transe_embeddings": q_kg_transe_embeddings,
        "kg_completion_topk": q_kg_completion_topk,
        "kg_triples": q_kg_triples,
        "kg_words": q_kg_words,
        "kg_words_learned": q_kg_words_learned,
        "kg_heads_learned": q_kg_heads_learned,
        "kg_predicate_counts": q_kg_predicate_counts,
        "doc_perplexity": q_doc_perplexity,
        "kg_entity_triangles": q_kg_entity_triangles,
        "doc_decontaminate": q_doc_decontaminate,
        "doc_scrub_pii": q_doc_scrub_pii,
        "doc_repetition_stats": q_doc_repetition_stats,
        "doc_wordgram_embeddings": q_doc_wordgram_embeddings,
        "multimodal_decoded": q_multimodal_decoded,
        "multimodal_transformed": q_multimodal_transformed,
        "kg_linked_canonical": q_kg_linked_canonical,
        "doc_hash_embeddings": q_doc_hash_embeddings,
        "multimodal_features": q_multimodal_features,
        "pack_shards": q_pack_shards,
        "tokenizer_targets": q_tokenizer_targets,
        # ---------- window boundary (first 50 above) ----------
        # below: locally oracled on every pytest run, in rotation order.
        # --- displaced from the window by the lead block above
        # (green in CORRECTNESS_r07/r08), first to rotate back; the four
        # word-distribution rollups run the same fused_words stage as
        # kg_words, which stays in the window ---
        "kg_head_distribution": q_kg_head_distribution,
        "kg_deprel_distribution": q_kg_deprel_distribution,
        "kg_upos_distribution": q_kg_upos_distribution,
        "kg_tag_distribution": q_kg_tag_distribution,
        "events_trailing_hour": q_events_trailing_hour,
        "user_retention_cohorts": q_user_retention_cohorts,
        "lineitem_profile": q_lineitem_profile,
        "lineitem_correlations": q_lineitem_correlations,
        "doc_length_histogram": q_doc_length_histogram,
        "doc_readability": q_doc_readability,
        "rrf_top_terms": q_rrf_top_terms,
        "search_docs_bm25": q_search_docs_bm25,
        "source_sampling_weights": q_source_sampling_weights,
        "source_mix": q_source_mix,
        "doc_length_quantiles_twopass": q_doc_length_quantiles_twopass,
        # --- r7 additions past the window cut, then older rows ---
        "cms_term_counts": q_cms_term_counts,
        "source_doremi_weights": q_source_doremi_weights,
        "doc_ccnet_buckets": q_doc_ccnet_buckets,
        "ann_recall_ivf": q_ann_recall_ivf,
        "hard_negatives": q_hard_negatives,
        "embedding_pca_component": q_embedding_pca_component,
        "corpus_pmi_collocations": q_corpus_pmi_collocations,
        "embedding_int8_quant": q_embedding_int8_quant,
        "unigram_segmentations": q_unigram_segmentations,
        "unigram_em_counts": q_unigram_em_counts,
        "doc_kneser_ney": q_doc_kneser_ney,
        "corpus_heaps_fit": q_corpus_heaps_fit,
        "wordpiece_merges": q_wordpiece_merges,
        "corpus_sppmi": q_corpus_sppmi,
        "zorder_keys": q_zorder_keys,
        "lr_calibration": q_lr_calibration,
        "image_ahashes": q_image_ahashes,
        "audio_fingerprints": q_audio_fingerprints,
        "media_curation": q_media_curation,
        "source_diversity": q_source_diversity,
        "lang_id_confusion": q_lang_id_confusion,
        "events_hourly_anomalies": q_events_hourly_anomalies,
        "kg_completion_metrics": q_kg_completion_metrics,
        "events_asof_prev_click": q_events_asof_prev_click,
        "events_range_clicks": q_events_range_clicks,
        "tfidf_top_terms": q_tfidf_top_terms,
        "bm25_top_terms": q_bm25_top_terms,
        "kg_entity_pagerank": q_kg_entity_pagerank,
        "doc_length_quantiles": q_doc_length_quantiles,
        "vocab_words": q_vocab_words,
        "vocab_chars": q_vocab_chars,
        "shipdate_pruned_agg": q_shipdate_pruned_agg,
        "window_top3": q_window_top3,
        "semi_join": q_semi_join,
        "anti_join": q_anti_join,
        "rollup_orders": q_rollup_orders,
        "cube_order_counts": q_cube_order_counts,
        "orders_topk": q_orders_topk,
        "map_extract": q_map_extract,
        "events_json_props": q_events_json_props,
        "setops_brands": q_setops_brands,
        "string_folding": q_string_folding,
        "distinct_brand_type": q_distinct_brand_type,
        # --- green in CORRECTNESS_r06 ---
        "weighted_sample_docs": q_weighted_sample_docs,
        "user_funnel": q_user_funnel,
        "source_ngram_overlap": q_source_ngram_overlap,
        "doc_passage_chunks": q_doc_passage_chunks,
        "corpus_zipf_fit": q_corpus_zipf_fit,
        "kg_entity_ktruss": q_kg_entity_ktruss,
        "source_unimax_weights": q_source_unimax_weights,
        "doc_bigram_lm": q_doc_bigram_lm,
        "kg_entity_kcore": q_kg_entity_kcore,
        "lr_quality_weights": q_lr_quality_weights,
        "doc_lr_scores": q_doc_lr_scores,
        "dsir_log_weights": q_dsir_log_weights,
        "bpe_merges": q_bpe_merges,
        "bpe_token_counts": q_bpe_token_counts,
        "doc_length_quantiles_approx": q_doc_length_quantiles_approx,
        "kg_lemmas_transducer": q_kg_lemmas_transducer,
        "kg_entity_communities": q_kg_entity_communities,
        "doc_paragraph_dedup": q_doc_paragraph_dedup,
        "training_corpus_curation": q_training_corpus_curation,
        "exact_dups": q_exact_dups,
        "embedding_near_dups": q_embedding_near_dups,
        "ann_ivf_topk": q_ann_ivf_topk,
        "stratified_sample": q_stratified_sample,
        "train_val_test_split": q_train_val_test_split,
        "doc_token_counts": q_doc_token_counts,
        "doc_lang_id": q_doc_lang_id,
        "salted_supplier_counts": q_salted_supplier_counts,
        "salted_join_parts": q_salted_join_parts,
        "sampled_hot_parts": q_sampled_hot_parts,
        "approx_distinct_parts": q_approx_distinct_parts,
        "hot_parts": q_hot_parts,
        "user_sessions": q_user_sessions,
        "events_tumbling_window": q_events_tumbling_window,
        "events_sliding_window": q_events_sliding_window,
        "events_hourly": q_events_hourly,
        "pricing_summary": q_pricing_summary,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_H60_DUCK = "('0x' || substr(md5({x}), 1, 15))::BIGINT"


def _minhash_duck(k: int, n: int = 3, src: str = "documents") -> str:
    mins = ", ".join(
        "list_min(list_transform(sh, s -> %s))" % _H60_DUCK.format(x=f"'{j}:' || s")
        for j in range(k)
    )
    return f"""
      SELECT doc_id, [{mins}] AS minhash
      FROM (SELECT doc_id, list_distinct([substr(lower(text), i, {n})
             FOR i IN range(1, greatest(length(lower(text)) - {n - 1}, 1) + 1)]) AS sh
            FROM {src})
    """


_DOCS_DUPS_DUCK = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0
"""


def _simhash_duck() -> str:
    h = _H60_DUCK.format(x="t")
    bit_terms = " + ".join(
        f"(CASE WHEN len(list_filter(th, h -> (h >> {k}) & 1 = 1)) * 2 >= len(th)"
        f" THEN ({1 << k}::BIGINT) ELSE 0 END)"
        for k in range(60)
    )
    return f"""
      SELECT doc_id,
             CASE WHEN len(th) = 0 THEN 0 ELSE {bit_terms} END AS simhash
      FROM (SELECT doc_id, list_transform(
              list_filter(string_split(lower(text), ' '), t -> t <> ''), t -> {h}) AS th
            FROM documents)
    """


_KG_TRIPLES_DUCK = """
WITH tk AS (
  SELECT doc_id, lang,
         unnest([{'pos': i, 'tok': t[i]} FOR i IN range(1, len(t)+1)], recursive := true)
  FROM (SELECT doc_id, lang,
          CASE WHEN lang = 'zh'
               THEN [substr(replace(text, ' ', ''), i, 1)
                     FOR i IN range(1, length(replace(text, ' ', '')) + 1)]
               ELSE list_filter(string_split(text, ' '), x -> x <> '')
          END AS t
        FROM documents)
), tagged AS (
  SELECT doc_id, lang, pos, tok,
         CASE WHEN tok IN ('join','merge','sort','filter') THEN 'VERB'
              WHEN tok = 'a' AND lang = 'en' THEN 'DET'
              WHEN tok = 'a' THEN 'ADP'
              WHEN tok = 'the' AND lang = 'en' THEN 'DET'
              WHEN tok = 'o' AND lang <> 'en' THEN 'DET'
              ELSE 'NOUN' END AS upos
  FROM tk
), roots AS (
  SELECT doc_id,
         coalesce(min(pos) FILTER (upos = 'VERB'), min(pos) FILTER (upos = 'NOUN')) AS root_pos,
         min(pos) FILTER (upos = 'VERB') IS NOT NULL AS root_is_verb
  FROM tagged GROUP BY doc_id
), subj AS (
  SELECT t.doc_id, min(t.pos) AS subj_pos
  FROM tagged t JOIN roots r USING (doc_id)
  WHERE t.upos = 'NOUN' AND t.pos < r.root_pos
  GROUP BY t.doc_id
), obl AS (  -- nominals that are the next nominal after some ADP
  SELECT DISTINCT a.doc_id,
         (SELECT min(n.pos) FROM tagged n
          WHERE n.doc_id = a.doc_id AND n.upos = 'NOUN' AND n.pos > a.pos) AS obl_pos
  FROM tagged a WHERE a.upos = 'ADP'
), svo AS (
  SELECT o.doc_id, s.tok AS subj, rt.tok AS pred, o.tok AS obj, 'svo' AS pattern
  FROM tagged o
  JOIN roots r USING (doc_id)
  JOIN subj sj USING (doc_id)
  JOIN tagged s ON s.doc_id = o.doc_id AND s.pos = sj.subj_pos
  JOIN tagged rt ON rt.doc_id = o.doc_id AND rt.pos = r.root_pos
  WHERE r.root_is_verb AND o.upos = 'NOUN' AND o.pos > r.root_pos
    AND NOT EXISTS (SELECT 1 FROM obl b WHERE b.doc_id = o.doc_id AND b.obl_pos = o.pos)
), oblt AS (
  SELECT o.doc_id, s.tok AS subj, rt.tok || '_a' AS pred, o.tok AS obj, 'obl' AS pattern
  FROM tagged o
  JOIN roots r USING (doc_id)
  JOIN subj sj USING (doc_id)
  JOIN tagged s ON s.doc_id = o.doc_id AND s.pos = sj.subj_pos
  JOIN tagged rt ON rt.doc_id = o.doc_id AND rt.pos = r.root_pos
  WHERE r.root_is_verb AND o.upos = 'NOUN' AND o.pos > r.root_pos
    AND EXISTS (SELECT 1 FROM obl b WHERE b.doc_id = o.doc_id AND b.obl_pos = o.pos)
), pre_nom AS (
  SELECT t.doc_id, t.pos, t.tok,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS rk,
         lag(t.tok) OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS prev_tok
  FROM tagged t JOIN roots r USING (doc_id)
  WHERE t.upos = 'NOUN' AND t.pos < r.root_pos
), appos_pre AS (
  SELECT doc_id, prev_tok AS subj, 'appos' AS pred, tok AS obj, 'appos' AS pattern
  FROM pre_nom WHERE rk >= 2
), post_nom AS (
  SELECT t.doc_id, t.pos, t.tok,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS rk,
         lag(t.tok) OVER (PARTITION BY t.doc_id ORDER BY t.pos) AS prev_tok
  FROM tagged t JOIN roots r USING (doc_id)
  WHERE NOT r.root_is_verb AND t.upos = 'NOUN' AND t.pos > r.root_pos
), appos_post AS (
  -- an obl-marked nominal (next-after-ADP) gets deprel 'obl', not 'appos':
  -- it emits no pair itself but still serves as `prev` for the next one
  SELECT doc_id, prev_tok AS subj, 'appos' AS pred, tok AS obj, 'appos' AS pattern
  FROM post_nom p WHERE rk >= 2
    AND NOT EXISTS (SELECT 1 FROM obl b WHERE b.doc_id = p.doc_id AND b.obl_pos = p.pos)
), allt AS (
  SELECT * FROM svo UNION ALL SELECT * FROM oblt
  UNION ALL SELECT * FROM appos_pre UNION ALL SELECT * FROM appos_post
)
SELECT 'https://ex.org/doc/' || doc_id AS url, CAST(0 AS INT) AS sent_id,
       subj, pred, obj, pattern
FROM allt
"""


def _bpe_train_ctes(n: int) -> str:
    """Unrolled BPE training CTE chain mirroring bpe.train_bpe: word-freq
    dimension, char-split initial state, then per merge a pair agg
    (lead window over unnested symbols), deterministic argmax, and the
    same overlap-safe double-space merge apply.  Pure integer/string
    ops — bit-identical to the Spark trajectory by construction."""
    sql = """
      WITH wf AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
              FROM documents)
        GROUP BY word
      ),
      s0 AS MATERIALIZED (
        SELECT word, freq, array_to_string(string_split(word, ''), ' ') AS sym FROM wf
      )"""
    for k in range(n):
        sql += f""",
      p{k} AS (
        SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
          SELECT word, freq, s AS l,
                 lead(s) OVER (PARTITION BY word ORDER BY pos) AS r
          FROM (SELECT word, freq, unnest(string_split(sym, ' ')) AS s,
                       generate_subscripts(string_split(sym, ' '), 1) AS pos
                FROM s{k})
        ) WHERE r IS NOT NULL GROUP BY l, r
      ),
      b{k} AS MATERIALIZED (
        SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1
      ),
      s{k + 1} AS MATERIALIZED (
        SELECT word, freq,
               CASE WHEN b.l IS NULL THEN s.sym ELSE
                 trim(regexp_replace(
                   replace(replace(' ' || s.sym || ' ', ' ', '  '),
                           ' ' || b.l || '  ' || b.r || ' ',
                           ' ' || b.l || b.r || ' '),
                   ' +', ' ', 'g'))
               END AS sym
        FROM s{k} s LEFT JOIN b{k} b ON TRUE
      )"""
    return sql


def _bpe_merges_duck(n: int) -> str:
    parts = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS merge_rank, l AS lhs, r AS rhs,"
        f" cnt AS pair_freq FROM b{k}"
        for k in range(n)
    )
    return _bpe_train_ctes(n) + f" SELECT * FROM ({parts})"


def _bpe_token_counts_duck(n: int) -> str:
    return _bpe_train_ctes(n) + f""",
      wtok AS (SELECT word,
                      CAST(len(string_split(sym, ' ')) AS BIGINT) AS n_subwords
               FROM s{n}),
      dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n
             FROM (SELECT doc_id,
                          unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
                   FROM documents)
             GROUP BY doc_id, word)
      SELECT d.doc_id,
             CAST(coalesce(sum(dw.n), 0) AS BIGINT) AS n_words,
             CAST(coalesce(sum(dw.n * wtok.n_subwords), 0) AS BIGINT) AS n_bpe_tokens
      FROM documents d
      LEFT JOIN dw ON d.doc_id = dw.doc_id
      LEFT JOIN wtok ON dw.word = wtok.word
      GROUP BY d.doc_id"""


def _substr_span_ctes(k: int, min_len: int, cap: int) -> str:
    """CTE chain replaying substrdedup.exact_substring_spans: tokens ->
    hashed k-gram anchors (same 60-bit md5 hash as the engine, so even a
    hash collision reproduces identically) -> 2..cap gram filter ->
    anchor self-join -> diagonal gaps-and-islands -> spans >= min_len."""
    return f"""
      WITH toks AS MATERIALIZED (
        SELECT doc_id,
               list_filter(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '),
                           x -> x <> '') AS toks
        FROM documents
      ),
      anch AS MATERIALIZED (
        SELECT doc_id, pos - 1 AS pos,
               ('0x' || substr(md5(array_to_string(toks[pos:pos+{k - 1}], ' ')), 1, 15))::BIGINT AS gh
        FROM toks, unnest(range(1, len(toks) - {k - 2})) AS t(pos)
      ),
      keep AS (
        SELECT gh FROM anch GROUP BY gh
        HAVING count(DISTINCT doc_id) BETWEEN 2 AND {cap}
      ),
      sh AS (SELECT a.* FROM anch a JOIN keep USING (gh)),
      pairs AS (
        SELECT a.doc_id da, a.pos pa, b.doc_id db, b.pos pb
        FROM sh a JOIN sh b ON a.gh = b.gh AND a.doc_id < b.doc_id
      ),
      isl AS (
        SELECT da, db, pa - pb AS diag, pa, pb,
               pa - row_number() OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS grp
        FROM pairs
      ),
      spans AS MATERIALIZED (
        SELECT da AS doc_a, db AS doc_b,
               CAST(min(pa) AS BIGINT) AS a_start,
               CAST(min(pb) AS BIGINT) AS b_start,
               CAST(max(pa) - min(pa) + {k} AS BIGINT) AS span_len
        FROM isl GROUP BY da, db, diag, grp
        HAVING max(pa) - min(pa) + {k} >= {min_len}
      )"""


def _substr_spans_duck(k: int, min_len: int, cap: int) -> str:
    return (
        _substr_span_ctes(k, min_len, cap)
        + " SELECT doc_a, doc_b, a_start, b_start, span_len FROM spans"
    )


def _dup_coverage_duck(k: int, min_len: int, cap: int) -> str:
    """Replays substrdedup.dup_span_coverage on top of the span CTEs:
    distinct duplicate-side intervals, running-max-end island merge,
    per-doc sums, floor-rounded 6dp fraction."""
    return _substr_span_ctes(k, min_len, cap) + """,
      iv AS (SELECT DISTINCT doc_b AS id, b_start AS s, b_start + span_len AS e FROM spans),
      fl AS (
        SELECT id, s, e,
               CASE WHEN s > coalesce(max(e) OVER (PARTITION BY id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS nf
        FROM iv
      ),
      fl2 AS (
        SELECT id, s, e, sum(nf) OVER (PARTITION BY id ORDER BY s, e) AS island FROM fl
      ),
      per AS (
        SELECT id, CAST(sum(cov) AS BIGINT) AS dup_tokens FROM (
          SELECT id, island, max(e) - min(s) AS cov FROM fl2 GROUP BY id, island)
        GROUP BY id
      ),
      ntk AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM toks)
      SELECT ntk.doc_id, ntk.n_tokens,
             CAST(coalesce(per.dup_tokens, 0) AS BIGINT) AS dup_tokens,
             floor(coalesce(per.dup_tokens, 0) / greatest(ntk.n_tokens, 1) * 1e6 + 0.5) / 1e6 AS dup_fraction
      FROM ntk LEFT JOIN per ON ntk.doc_id = per.id"""


def _lr_train_ctes(iters: int, m: int, lr: float) -> str:
    """Unrolled full-batch LR training CTE chain mirroring
    classifier.train_quality_lr: hashed unigram counts, 0/1 labels from
    the broadcast-min source, then per iteration margin -> sigmoid (9dp
    nano-rounded) -> gradient -> integer nano-unit weight/bias update.
    Every sum is a sum of exact integers, so the trajectory is
    bit-identical to the Spark loop by construction."""
    sql = f"""
      WITH f AS MATERIALIZED (
        SELECT doc_id, ('0x' || substr(md5(f), 1, 15))::BIGINT % {m} AS bucket,
               CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS f FROM documents)
        GROUP BY doc_id, bucket
      ),
      lab AS MATERIALIZED (
        SELECT doc_id, CASE WHEN source = (SELECT min(source) FROM documents)
                       THEN 1000000000 ELSE 0 END::BIGINT AS yn
        FROM documents
      ),
      nd AS (SELECT count(*) AS n FROM lab),
      w0 AS (SELECT DISTINCT bucket, CAST(0 AS BIGINT) AS wn FROM f),
      b0 AS (SELECT CAST(0 AS BIGINT) AS bn)"""
    for k in range(iters):
        sql += f""",
      z{k} AS (SELECT doc_id, sum(c * wn) AS zn FROM f JOIN w{k} USING (bucket) GROUP BY doc_id),
      p{k} AS (
        SELECT lab.doc_id, yn,
               CAST(floor(1.0 / (1.0 + exp(-((coalesce(zn, 0) + bn) / 1e9))) * 1e9 + 0.5) AS BIGINT) AS pn
        FROM lab LEFT JOIN z{k} USING (doc_id) CROSS JOIN b{k}
      ),
      g{k} AS (SELECT bucket, sum((pn - yn) * c) AS gn FROM f JOIN p{k} USING (doc_id) GROUP BY bucket),
      w{k + 1} AS MATERIALIZED (
        SELECT w.bucket, wn - CAST(coalesce(floor({lr} * gn / n + 0.5), 0) AS BIGINT) AS wn
        FROM w{k} w LEFT JOIN g{k} g USING (bucket) CROSS JOIN nd
      ),
      b{k + 1} AS MATERIALIZED (
        SELECT bn - CAST(floor({lr} * gn / n + 0.5) AS BIGINT) AS bn
        FROM b{k} CROSS JOIN (SELECT sum(pn - yn) AS gn FROM p{k}) CROSS JOIN nd
      )"""
    return sql


def _lr_weights_duck(iters: int, m: int, lr: float) -> str:
    return _lr_train_ctes(iters, m, lr) + f"""
      SELECT bucket, wn / 1e9 AS weight FROM w{iters}
      UNION ALL SELECT -1, bn / 1e9 FROM b{iters}"""


def _lr_scores_duck(iters: int, m: int, lr: float) -> str:
    return _lr_train_ctes(iters, m, lr) + f""",
      sm AS (SELECT doc_id, sum(c) AS n_features, sum(c * wn) AS zn
             FROM f JOIN w{iters} USING (bucket) GROUP BY doc_id)
      SELECT d.doc_id, CAST(coalesce(n_features, 0) AS BIGINT) AS n_features,
             floor(1.0 / (1.0 + exp(-((coalesce(zn, 0) + bn) / 1e9))) * 1e6 + 0.5) / 1e6 AS score
      FROM documents d LEFT JOIN sm USING (doc_id) CROSS JOIN b{iters}"""


def _kmeans_ctes(iters: int = 2, n_c: int = 16, src: str = "embeddings") -> str:
    """Unrolled Lloyd CTE chain mirroring similarity.kmeans_refine:
    hash-seeded centroids, cosine-argmax assignment, per-dimension mean
    accumulated as integer NANO-UNITS (exact, summation-order- and
    engine-independent — see similarity._nano_mean; CAST to BIGINT
    first because DuckDB sum(BIGINT) widens to HUGEINT while Spark
    stays BIGINT). Returns the chain WITHOUT the leading WITH (ends at
    c{iters}) so callers can prepend WITH / WITH RECURSIVE and append
    their own consumers (_kmeans_duck, _semdedup_duck)."""
    sql = f"""
      c0 AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY _h) AS centroid_id,
               CAST(embedding AS DOUBLE[]) AS c_emb
        FROM (
          SELECT vec_id, embedding,
                 CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS VARCHAR) AS _h
          FROM {src} ORDER BY _h LIMIT {n_c}
        )
      )"""
    for i in range(iters):
        cos = _COS_DUCK.format(a="c.c_emb", b="v.embedding")
        sql += f""",
      a{i} AS (
        SELECT vec_id, embedding, centroid_id FROM (
          SELECT v.vec_id, v.embedding, c.centroid_id,
                 row_number() OVER (PARTITION BY v.vec_id
                                    ORDER BY {cos} DESC, c.centroid_id) AS rn
          FROM {src} v, c{i} c
        ) WHERE rn = 1
      ),
      m{i} AS (
        -- integer nano-unit mean (similarity._nano_mean replay): the sum
        -- is exact integer arithmetic so any summation order / engine
        -- gives the same bits; one IEEE division back to double.
        -- CAST(sum(..) AS BIGINT) because DuckDB widens to HUGEINT.
        SELECT centroid_id, pos,
               CAST(CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * 1e9) AS m
        FROM (SELECT centroid_id, unnest(embedding) AS val,
                     generate_subscripts(embedding, 1) AS pos
              FROM a{i})
        GROUP BY centroid_id, pos
      ),
      n{i} AS (SELECT centroid_id, list(m ORDER BY pos) AS new_emb
               FROM m{i} GROUP BY centroid_id),
      c{i + 1} AS MATERIALIZED (
        SELECT c.centroid_id, coalesce(n.new_emb, c.c_emb) AS c_emb
        FROM c{i} c LEFT JOIN n{i} n USING (centroid_id)
      )"""
    return sql


def _kmeans_duck(iters: int = 2, n_c: int = 16) -> str:
    """Final centroid table of the unrolled Lloyd chain, one row per
    (centroid, dimension)."""
    return "WITH " + _kmeans_ctes(iters, n_c) + f"""
      SELECT centroid_id,
             CAST(generate_subscripts(c_emb, 1) - 1 AS INT) AS pos,
             unnest(c_emb) AS val
      FROM c{iters}"""


_WEIGHTED_SAMPLE_DUCK = f"""
  SELECT doc_id, w AS weight, es_key FROM (
    SELECT doc_id, CAST(length(text) AS DOUBLE) AS w,
           round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
                    / {float(1 << 52)}) / CAST(length(text) AS DOUBLE), 9) AS es_key
    FROM documents
    WHERE length(text) > 0
  )
  ORDER BY es_key DESC, doc_id
  LIMIT 100"""


_FUNNEL_DUCK = """
  WITH e AS (SELECT user_id, event_type, ts FROM events),
  u AS (SELECT DISTINCT user_id FROM e),
  s1 AS (SELECT user_id, min(ts) AS view_ts FROM e
         WHERE event_type = 'view' GROUP BY user_id),
  s2 AS (SELECT e.user_id, min(ts) AS click_ts FROM e JOIN s1 USING (user_id)
         WHERE event_type = 'click' AND ts > view_ts GROUP BY e.user_id),
  s3 AS (SELECT e.user_id, min(ts) AS purchase_ts FROM e JOIN s2 USING (user_id)
         WHERE event_type = 'purchase' AND ts > click_ts GROUP BY e.user_id)
  SELECT u.user_id, view_ts, click_ts, purchase_ts,
         CASE WHEN purchase_ts IS NOT NULL THEN 3
              WHEN click_ts IS NOT NULL THEN 2
              WHEN view_ts IS NOT NULL THEN 1 ELSE 0 END AS funnel_depth
  FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         LEFT JOIN s3 USING (user_id)"""


_SOURCE_OVERLAP_DUCK = """
  WITH sg AS MATERIALIZED (
    SELECT DISTINCT source, gram FROM (
      SELECT source, tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS gram
      FROM (SELECT source, tk, unnest(range(1, greatest(len(tk) - 1, 1))) AS i
            FROM (SELECT source,
                         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
                  FROM documents))
    )
  ),
  sz AS (SELECT source, count(*) AS n_grams FROM sg GROUP BY source),
  inter AS (
    SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
    FROM sg a JOIN sg b USING (gram) WHERE a.source < b.source GROUP BY 1, 2
  ),
  pr AS (
    SELECT a.source AS source_a, b.source AS source_b,
           a.n_grams AS n_grams_a, b.n_grams AS n_grams_b
    FROM sz a, sz b WHERE a.source < b.source
  )
  SELECT source_a, source_b, n_grams_a, n_grams_b,
         CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
         round(coalesce(n_common, 0)
               / CAST(n_grams_a + n_grams_b - coalesce(n_common, 0) AS DOUBLE), 6) AS jaccard
  FROM pr LEFT JOIN inter USING (source_a, source_b)"""


def _passage_chunks_duck(size: int = 32, stride: int = 24) -> str:
    """Replay of sampling.passage_chunks: same start grid
    (k = 0 .. (n-1)//stride), same 1-based slice with tail truncation."""
    return f"""
      WITH tk AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS toks
        FROM documents
      ),
      base AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
      ks AS (
        SELECT doc_id, toks, n,
               CAST(unnest(range(0, (n - 1) // {stride} + 1)) AS BIGINT) AS chunk_id
        FROM base
      )
      SELECT doc_id, chunk_id,
             chunk_id * {stride} + 1 AS start_token,
             CAST(least(n - chunk_id * {stride}, {size}) AS BIGINT) AS n_tokens,
             array_to_string(
               toks[CAST(chunk_id * {stride} + 1 AS INT)
                    : CAST(least(chunk_id * {stride} + {size}, n) AS INT)], ' ') AS passage
      FROM ks"""


_ZIPF_DUCK = """
  WITH terms AS (
    SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS term
    FROM documents
  ),
  c AS (SELECT term, count(*) AS cnt FROM terms GROUP BY term),
  r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rk FROM c),
  xy AS (SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y FROM r),
  s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM xy)
  SELECT CAST(n AS BIGINT) AS n_terms,
         round((n*sxy - sx*sy) / nullif(n*sxx - sx*sx, 0), 6) AS slope,
         round((sy - (n*sxy - sx*sy) / nullif(n*sxx - sx*sx, 0) * sx) / n, 6) AS intercept,
         round((n*sxy - sx*sy) * (n*sxy - sx*sy)
               / (nullif(n*sxx - sx*sx, 0) * nullif(n*syy - sy*sy, 0)), 6) AS r2
  FROM s"""


def _ktruss_duck(t: int = 3, rounds: int = 3) -> str:
    """Unrolled support-peel rounds mirroring graphstats.k_truss over
    the relational triple oracle's entity graph. `rounds` must equal the
    operator's max_iter (idempotent-at-fixpoint contract, see
    _kcore_duck)."""
    sql = f"""
      WITH raw AS MATERIALIZED (
        SELECT DISTINCT subj AS s, obj AS o FROM ({_KG_TRIPLES_DUCK})
      ),
      e0 AS MATERIALIZED (
        SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b
        FROM raw WHERE s <> o AND s IS NOT NULL AND o IS NOT NULL
      )"""
    for i in range(rounds):
        sql += f""",
      t{i} AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
               FROM e{i} e1 JOIN e{i} e2 ON e1.b = e2.a
                            JOIN e{i} e3 ON e3.a = e1.a AND e3.b = e2.b),
      s{i} AS (SELECT a, b, count(*) AS sup FROM (
                 SELECT x AS a, y AS b FROM t{i}
                 UNION ALL SELECT y, z FROM t{i}
                 UNION ALL SELECT x, z FROM t{i})
               GROUP BY a, b),
      e{i + 1} AS MATERIALIZED (
        SELECT e.a, e.b, coalesce(s.sup, 0) AS sup
        FROM e{i} e LEFT JOIN s{i} s USING (a, b)
        WHERE coalesce(s.sup, 0) >= {t - 2}
      )"""
    return sql + f"""
      SELECT a AS entity_a, b AS entity_b, CAST(sup AS BIGINT) AS support
      FROM e{rounds}"""


def _winnow_fps_ctes(k: int, w: int, src: str = "documents") -> str:
    """Winnowing selection mirroring dedup.winnow_fingerprints over
    `src`(doc_id, text): same normalization, same packed-bigint key
    (h40 * 2^22 + pos), same truncated-frame window min with the
    sub-w-gram single-selection rule. Ends at CTE `s`(doc_id, mk)."""
    return f"""
      nrm AS (
        SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        FROM {src}
      ),
      g AS (
        SELECT doc_id, CAST(unnest(range(1, greatest(length(t) - {k - 1}, 0) + 1)) AS BIGINT) AS pos, t
        FROM nrm
      ),
      kg AS (
        SELECT doc_id, pos,
               ('0x' || substr(md5(substr(t, CAST(pos AS INT), {k})), 1, 10))::BIGINT
                 * {1 << 22} + pos AS key
        FROM g
      ),
      cg AS (SELECT doc_id, count(*) AS ng FROM kg GROUP BY doc_id),
      mw AS (
        SELECT doc_id, pos,
               min(key) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS mk
        FROM kg
      ),
      s AS (
        SELECT DISTINCT doc_id, mk
        FROM mw JOIN cg USING (doc_id)
        WHERE pos <= greatest(ng - {w - 1}, 1)
      )"""


def _winnow_fps_duck(k: int = 8, w: int = 4) -> str:
    return "WITH " + _winnow_fps_ctes(k, w) + f"""
      SELECT doc_id, CAST(mk % {1 << 22} AS BIGINT) AS pos,
             CAST(mk // {1 << 22} AS BIGINT) AS fp
      FROM s"""


def _winnow_pairs_duck(
    k: int = 8, w: int = 4, min_shared: int = 2, max_bucket: int = 64
) -> str:
    return f"""
      WITH dd AS ({_DOCS_DUPS_DUCK}),
      {_winnow_fps_ctes(k, w, src="dd")},
      fps AS (SELECT DISTINCT doc_id, CAST(mk // {1 << 22} AS BIGINT) AS fp FROM s),
      capped AS (
        SELECT doc_id, fp FROM (
          SELECT *, count(*) OVER (PARTITION BY fp) AS _n FROM fps
        ) WHERE _n <= {max_bucket}
      )
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM capped a JOIN capped b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
      HAVING count(*) >= {min_shared}"""


def _unimax_duck(budget_frac: float = 0.5, max_epochs: float = 2.0) -> str:
    """Water-filling replay mirroring textstats.unimax_weights: same
    cumulative-minus-self prefix window, same monotone capped predicate
    on exact integer-valued doubles, survivors split the remainder."""
    return f"""
      WITH per AS (
        SELECT source, CAST(sum(length(text)) AS BIGINT) AS n_chars
        FROM documents GROUP BY source
      ),
      tot AS (SELECT CAST(sum(n_chars) AS DOUBLE) AS t, count(*) AS l FROM per),
      rk AS (
        SELECT source, n_chars,
               n_chars * {max_epochs} AS cap_chars,
               t * {budget_frac} AS b, l,
               row_number() OVER (ORDER BY n_chars * {max_epochs}, source) AS i,
               sum(n_chars * {max_epochs}) OVER (ORDER BY n_chars * {max_epochs}, source)
                 - n_chars * {max_epochs} AS pfx
        FROM per, tot
      ),
      fl AS (SELECT *, (cap_chars * (l - i + 1) + pfx <= b) AS capped FROM rk),
      kk AS (
        SELECT sum(CASE WHEN capped THEN 1 ELSE 0 END) AS k,
               coalesce(sum(CASE WHEN capped THEN cap_chars END), 0) AS capsum
        FROM fl
      )
      SELECT source, n_chars, cap_chars,
             round(alloc, 6) AS alloc_chars,
             round(alloc / n_chars, 6) AS epochs,
             round(alloc / b, 6) AS weight
      FROM (
        SELECT fl.*,
               CASE WHEN capped THEN cap_chars
                    ELSE (b - capsum) / nullif(CAST(l - k AS DOUBLE), 0) END AS alloc
        FROM fl, kk
      )"""


def _bigram_lm_duck(alpha: float = 0.4) -> str:
    """Stupid Backoff replay mirroring textstats.bigram_backoff_scores:
    LM (unigram + bigram counts) from the min-source subset, every doc's
    distinct bigrams scored hit = cb/cu_prev, miss = alpha*(cu_cur+1)/(N+V),
    tf-weighted mean log10 rounded 6dp."""
    tk = "list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')"
    gs = "list_transform(list_zip(tk[1:len(tk)-1], tk[2:]), x -> x[1] || ' ' || x[2])"
    return f"""
      WITH lmdocs AS MATERIALIZED (
        SELECT text FROM documents WHERE source = (SELECT min(source) FROM documents)
      ),
      uni AS MATERIALIZED (
        SELECT term, count(*) AS cu
        FROM (SELECT unnest({tk}) AS term FROM lmdocs)
        GROUP BY term
      ),
      corpus AS (SELECT sum(cu) AS n, count(*) AS v FROM uni),
      big AS MATERIALIZED (
        SELECT gram, count(*) AS cb
        FROM (SELECT unnest(gs) AS gram
              FROM (SELECT {gs} AS gs FROM (SELECT {tk} AS tk FROM lmdocs)))
        GROUP BY gram
      ),
      docbig AS (
        SELECT doc_id, gram, count(*) AS tf
        FROM (SELECT doc_id, unnest(gs) AS gram
              FROM (SELECT doc_id, {gs} AS gs
                    FROM (SELECT doc_id, {tk} AS tk FROM documents)))
        GROUP BY doc_id, gram
      ),
      sc AS (
        SELECT doc_id, sum(tf) AS n_bigrams,
               round(sum(tf * CASE WHEN cb IS NOT NULL
                                   THEN log10(cb / CAST(cu_prev AS DOUBLE))
                                   ELSE log10({alpha} * (coalesce(cu_cur, 0) + 1)
                                              / CAST(n + v AS DOUBLE)) END)
                     / sum(tf), 6) AS lm_score
        FROM (
          SELECT db.doc_id, db.tf, b.cb, up.cu AS cu_prev, uc.cu AS cu_cur
          FROM docbig db
          LEFT JOIN big b USING (gram)
          LEFT JOIN uni up ON up.term = split_part(db.gram, ' ', 1)
          LEFT JOIN uni uc ON uc.term = split_part(db.gram, ' ', 2)
        ), corpus
        GROUP BY doc_id
      )
      SELECT d.doc_id, CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
             sc.lm_score
      FROM documents d LEFT JOIN sc USING (doc_id)"""


def _kcore_duck(k: int = 2, rounds: int = 8) -> str:
    """Unrolled peel rounds mirroring graphstats.k_core over the
    relational triple oracle's entity graph: per round, degrees of the
    canonical a<b edge set, survivors with deg >= k, edges restricted to
    survivors. `rounds` must equal the operator's max_iter — peeling is
    idempotent at the fixpoint, so early convergence cannot diverge."""
    sql = f"""
      WITH raw AS MATERIALIZED (
        SELECT DISTINCT subj AS s, obj AS o FROM ({_KG_TRIPLES_DUCK})
      ),
      e0 AS MATERIALIZED (
        SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b
        FROM raw WHERE s <> o AND s IS NOT NULL AND o IS NOT NULL
      )"""
    for i in range(rounds):
        sql += f""",
      d{i} AS (SELECT node, count(*) AS deg
               FROM (SELECT a AS node FROM e{i} UNION ALL SELECT b FROM e{i})
               GROUP BY node),
      r{i} AS (SELECT node FROM d{i} WHERE deg >= {k}),
      e{i + 1} AS MATERIALIZED (
        SELECT a, b FROM e{i}
        WHERE a IN (SELECT node FROM r{i}) AND b IN (SELECT node FROM r{i})
      )"""
    return sql + f"""
      SELECT node AS entity, deg FROM (
        SELECT node, count(*) AS deg
        FROM (SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds})
        GROUP BY node
      ) WHERE deg >= {k}"""


def _semdedup_duck(iters: int = 2, n_c: int = 16, eps: float = 0.95) -> str:
    """Full SemDeDup replay mirroring similarity.semdedup over the
    clone/perturbation-augmented corpus of q_embedding_semdedup:
    unrolled Lloyd (same CTE chain as ann_kmeans_centroids, re-rooted
    on the augmented table) -> final assignment -> rounded
    centroid-similarity -> within-cell eps pairs -> recursive-CTE
    min-label components -> lowest-centroid-sim keeper per group."""
    csim = _COS_DUCK.format(a="c.c_emb", b="a.embedding")
    pcos = _COS_DUCK.format(a="a.embedding", b="b.embedding")
    acos = _COS_DUCK.format(a="c.c_emb", b="v.embedding")
    return f"""
      WITH RECURSIVE emb AS MATERIALIZED (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 25 = 0
        UNION ALL
        SELECT vec_id + 2000000,
               list_concat([CAST(CAST(embedding[1] AS DOUBLE) * 1.5 AS FLOAT)],
                           embedding[2:]) AS embedding
        FROM embeddings WHERE vec_id % 50 = 0
      ),
      {_kmeans_ctes(iters, n_c, src="emb")},
      asg AS (
        SELECT vec_id, embedding, centroid_id FROM (
          SELECT v.vec_id, v.embedding, c.centroid_id,
                 row_number() OVER (PARTITION BY v.vec_id
                                    ORDER BY {acos} DESC, c.centroid_id) AS rn
          FROM emb v, c{iters} c
        ) WHERE rn = 1
      ),
      ws AS MATERIALIZED (
        SELECT a.vec_id, a.embedding, a.centroid_id,
               round({csim}, 6) AS centroid_sim
        FROM asg a JOIN c{iters} c USING (centroid_id)
      ),
      pr AS (
        SELECT a.vec_id AS ida, b.vec_id AS idb
        FROM ws a JOIN ws b USING (centroid_id)
        WHERE a.vec_id < b.vec_id AND round({pcos}, 6) >= {eps}
      ),
      sym AS (SELECT ida AS src, idb AS dst FROM pr
              UNION SELECT idb, ida FROM pr),
      walk(node, comp) AS (
        SELECT src, src FROM sym
        UNION
        SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node
      ),
      cmp AS (SELECT node AS vec_id, min(comp) AS component FROM walk GROUP BY node),
      lab AS (
        SELECT ws.vec_id, ws.centroid_id, ws.centroid_sim,
               coalesce(cmp.component, ws.vec_id) AS component
        FROM ws LEFT JOIN cmp USING (vec_id)
      ),
      kp AS (
        SELECT component, vec_id AS keep_id FROM (
          SELECT component, vec_id,
                 row_number() OVER (PARTITION BY component
                                    ORDER BY centroid_sim, vec_id) AS rn
          FROM lab
        ) WHERE rn = 1
      )
      SELECT l.vec_id, l.centroid_id, l.centroid_sim, l.component,
             (l.vec_id = kp.keep_id) AS keep
      FROM lab l JOIN kp USING (component)"""


_L2_DUCK = """
  list_aggregate(list_transform(list_zip({a}, {b}),
    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
    'sum')
"""


def _pq_duck(m: int = 4, d: int = 16, ksub: int = 8, k: int = 5) -> str:
    """Unrolled product-quantization replay (one Lloyd iteration):
    hash-seeded per-subspace codebooks -> argmin-L2 assignment ->
    exact nano-unit recenter -> encode -> ADC distance table -> summed
    approximate distances -> top-k. Mirrors similarity.pq_topk's exact
    arithmetic (subvector slices, tie-breaks, rounding points)."""
    dist_c0 = _L2_DUCK.format(a="c.c_emb", b="s.sub_emb")
    dist_c1 = _L2_DUCK.format(a="c.c_emb", b="s.sub_emb")
    dist_q = _L2_DUCK.format(a="c.c_emb", b="q.q_sub")
    return f"""
      WITH js AS (SELECT unnest(range({m})) AS sub_id),
      subs AS MATERIALIZED (
        SELECT vec_id, sub_id,
               list_transform(array_slice(embedding, sub_id * {d} + 1, sub_id * {d} + {d}),
                              x -> CAST(x AS DOUBLE)) AS sub_emb
        FROM embeddings, js
      ),
      seed AS (
        SELECT vec_id, row_number() OVER (ORDER BY _h) AS centroid_id
        FROM (
          SELECT vec_id,
                 CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS VARCHAR) AS _h
          FROM embeddings ORDER BY _h LIMIT {ksub}
        )
      ),
      c0 AS MATERIALIZED (
        SELECT s.sub_id, seed.centroid_id, s.sub_emb AS c_emb
        FROM seed JOIN subs s USING (vec_id)
      ),
      a0 AS (
        SELECT vec_id, sub_id, centroid_id FROM (
          SELECT s.vec_id, s.sub_id, c.centroid_id,
                 row_number() OVER (PARTITION BY s.vec_id, s.sub_id
                                    ORDER BY {dist_c0} ASC, c.centroid_id) AS rn
          FROM subs s JOIN c0 c USING (sub_id)
        ) WHERE rn = 1
      ),
      m0 AS (
        -- integer nano-unit mean (similarity._nano_mean replay; see
        -- _kmeans_ctes for the exactness argument)
        SELECT sub_id, centroid_id, pos,
               CAST(CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * 1e9) AS mval
        FROM (SELECT a.sub_id, a.centroid_id, unnest(s.sub_emb) AS val,
                     generate_subscripts(s.sub_emb, 1) AS pos
              FROM a0 a JOIN subs s USING (vec_id, sub_id))
        GROUP BY sub_id, centroid_id, pos
      ),
      n0 AS (SELECT sub_id, centroid_id, list(mval ORDER BY pos) AS new_emb
             FROM m0 GROUP BY sub_id, centroid_id),
      c1 AS MATERIALIZED (
        SELECT c.sub_id, c.centroid_id, coalesce(n.new_emb, c.c_emb) AS c_emb
        FROM c0 c LEFT JOIN n0 n USING (sub_id, centroid_id)
      ),
      codes AS (
        SELECT vec_id, sub_id, centroid_id AS code FROM (
          SELECT s.vec_id, s.sub_id, c.centroid_id,
                 row_number() OVER (PARTITION BY s.vec_id, s.sub_id
                                    ORDER BY {dist_c1} ASC, c.centroid_id) AS rn
          FROM subs s JOIN c1 c USING (sub_id)
        ) WHERE rn = 1
      ),
      q AS (SELECT vec_id AS q_id, sub_id, sub_emb AS q_sub FROM subs WHERE vec_id < 6),
      dtab AS (
        -- nano-unit ADC entries: the m-way sum below is exact integer
        SELECT q.q_id, c.sub_id, c.centroid_id AS code,
               CAST(floor(({dist_q}) * 1e9 + 0.5) AS BIGINT) AS dn
        FROM q JOIN c1 c USING (sub_id)
      ),
      scored AS (
        SELECT t.q_id, codes.vec_id,
               floor((CAST(CAST(sum(t.dn) AS BIGINT) AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1e6 AS approx_dist
        FROM codes JOIN dtab t USING (sub_id, code)
        GROUP BY t.q_id, codes.vec_id
      )
      SELECT q_id, vec_id, approx_dist, rank FROM (
        SELECT q_id, vec_id, approx_dist,
               CAST(row_number() OVER (PARTITION BY q_id
                                       ORDER BY approx_dist ASC, vec_id) AS INT) AS rank
        FROM scored
      ) WHERE rank <= {k}
    """


def _lpa_duck(iters: int = 3) -> str:
    """Unrolled synchronous label-propagation CTE chain over the
    relational triple replay — mirrors graphstats.label_propagation's
    exact vote/argmax/min-tie-break per round."""
    sql = f"""
      WITH clean AS MATERIALIZED (
        SELECT subj AS a, obj AS b FROM ({_KG_TRIPLES_DUCK})
        WHERE subj IS NOT NULL AND obj IS NOT NULL
      ),
      und AS (SELECT DISTINCT a, b FROM clean WHERE a <> b),
      e AS MATERIALIZED (SELECT a, b FROM und UNION SELECT b, a FROM und),
      l0 AS (
        SELECT node, node AS label FROM (
          SELECT a AS node FROM clean UNION SELECT b FROM clean
        )
      )"""
    for i in range(iters):
        sql += f""",
      v{i} AS (SELECT e.b AS node, l.label, count(*) AS c
               FROM e JOIN l{i} l ON e.a = l.node GROUP BY e.b, l.label),
      t{i} AS (SELECT node, max(c) AS cmax FROM v{i} GROUP BY node),
      w{i} AS (SELECT v.node, min(v.label) AS label
               FROM v{i} v JOIN t{i} t ON v.node = t.node AND v.c = t.cmax
               GROUP BY v.node),
      l{i + 1} AS MATERIALIZED (
        SELECT l.node, coalesce(w.label, l.node) AS label
        FROM l{i} l LEFT JOIN w{i} w ON l.node = w.node
      )"""
    return sql + f"""
      SELECT node AS entity, label AS community FROM l{iters}"""


def _transe_ctes(iters: int = 2, dim: int = 4, lr: float = 0.01) -> str:
    """Unrolled full-batch TransE replay mirroring kgtrain.transe_train:
    hash init in integer micro-units, k=1 hash-derived filtered
    negatives, per-pair squared-L2 margin mask on exact integers,
    gradient sums per (kind, name, pos), floor(lr * G + 0.5) updates.
    Every arithmetic step is either exact integer or a single IEEE
    double op shared by both engines.  Returns the chain WITH the
    leading WITH, ending at e{iters} (+ trips), so consumers append
    their own final CTE/SELECT (_transe_duck, the completion ranker)."""
    margin_mu2 = 10**12  # margin 1.0 in micro^2 units
    neg_h = (
        "('0x' || substr(md5(subj || chr(1) || pred || chr(1) || obj"
        " || chr(1) || CAST(sample_id AS VARCHAR)), 1, 15))::BIGINT"
    )
    init_h = (
        "('0x' || substr(md5(kind || chr(1) || name || chr(1)"
        " || CAST(pos AS VARCHAR)), 1, 13))::BIGINT"
    )
    sql = f"""
      WITH trips AS MATERIALIZED (
        SELECT DISTINCT subj, pred, obj FROM ({_KG_TRIPLES_DUCK})
        WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL
      ),
      entnames AS (SELECT subj AS name FROM trips UNION SELECT obj FROM trips),
      ents AS (SELECT name, CAST(row_number() OVER (ORDER BY name) - 1 AS BIGINT) AS rnk
               FROM entnames),
      nn AS (SELECT count(*) AS _n FROM ents),
      pairs AS MATERIALIZED (
        SELECT r.subj, r.pred, r.obj, r.sample_id, r.neg_subj, r.neg_obj
        FROM (
          SELECT e.subj, e.pred, e.obj, CAST(e.sample_id AS INT) AS sample_id,
                 CASE WHEN e.h % 2 = 0 THEN en.name ELSE e.subj END AS neg_subj,
                 CASE WHEN e.h % 2 = 0 THEN e.obj ELSE en.name END AS neg_obj
          FROM (SELECT subj, pred, obj, sample_id, {neg_h} AS h
                FROM trips, (SELECT unnest(range(1, 2)) AS sample_id)) e
          CROSS JOIN nn JOIN ents en ON en.rnk = (e.h // 2) % nn._n
        ) r
        LEFT JOIN trips t
          ON r.neg_subj = t.subj AND r.pred = t.pred AND r.neg_obj = t.obj
        WHERE t.subj IS NULL AND (r.neg_subj <> r.subj OR r.neg_obj <> r.obj)
      ),
      allparams AS (
        SELECT 'entity' AS kind, name FROM entnames
        UNION ALL
        SELECT 'relation', pred FROM (SELECT DISTINCT pred FROM trips)
      ),
      e0 AS MATERIALIZED (
        SELECT kind, name, pos, {init_h} % 2000001 - 1000000 AS v
        FROM allparams, (SELECT CAST(unnest(range({dim})) AS INT) AS pos)
      )"""
    for i in range(iters):
        join_m = (
            f"JOIN m{i} m ON b.subj = m.subj AND b.pred = m.pred"
            f" AND b.obj = m.obj AND b.sample_id = m.sample_id"
        )
        sql += f""",
      b{i} AS MATERIALIZED (
        SELECT p.subj, p.pred, p.obj, p.sample_id, p.neg_subj, p.neg_obj,
               s.pos, s.v + rr.v - oo.v AS rp, n1.v + rr.v - n2.v AS rn
        FROM pairs p
        JOIN e{i} s  ON s.kind  = 'entity'   AND s.name  = p.subj
        JOIN e{i} rr ON rr.kind = 'relation' AND rr.name = p.pred     AND rr.pos = s.pos
        JOIN e{i} oo ON oo.kind = 'entity'   AND oo.name = p.obj      AND oo.pos = s.pos
        JOIN e{i} n1 ON n1.kind = 'entity'   AND n1.name = p.neg_subj AND n1.pos = s.pos
        JOIN e{i} n2 ON n2.kind = 'entity'   AND n2.name = p.neg_obj  AND n2.pos = s.pos
      ),
      m{i} AS (
        SELECT subj, pred, obj, sample_id FROM b{i}
        GROUP BY 1, 2, 3, 4
        HAVING sum(rp * rp) + {margin_mu2} > sum(rn * rn)
      ),
      g{i} AS (
        SELECT kind, name, pos, CAST(sum(g) AS BIGINT) AS g FROM (
          SELECT 'entity' AS kind, b.subj AS name, b.pos, 2 * b.rp AS g
          FROM b{i} b {join_m}
          UNION ALL SELECT 'entity', b.obj, b.pos, -2 * b.rp
          FROM b{i} b {join_m}
          UNION ALL SELECT 'relation', b.pred, b.pos, 2 * (b.rp - b.rn)
          FROM b{i} b {join_m}
          UNION ALL SELECT 'entity', b.neg_subj, b.pos, -2 * b.rn
          FROM b{i} b {join_m}
          UNION ALL SELECT 'entity', b.neg_obj, b.pos, 2 * b.rn
          FROM b{i} b {join_m}
        ) GROUP BY 1, 2, 3
      ),
      e{i + 1} AS MATERIALIZED (
        SELECT e.kind, e.name, e.pos,
               e.v - CAST(coalesce(floor({lr} * g.g + 0.5), 0) AS BIGINT) AS v
        FROM e{i} e LEFT JOIN g{i} g
          ON e.kind = g.kind AND e.name = g.name AND e.pos = g.pos
      )"""
    return sql


def _transe_duck(iters: int = 2, dim: int = 4, lr: float = 0.01) -> str:
    """Final trained-vector table of the unrolled TransE chain."""
    return _transe_ctes(iters, dim, lr) + f"""
      SELECT kind, name, pos, CAST(v AS DOUBLE) / 1e6 AS val FROM e{iters}"""


def _transe_completion_duck(iters: int = 2, dim: int = 4, k: int = 3) -> str:
    """kgtrain.transe_completion_topk replay over the trained chain:
    e{iters}.v IS the micro integer the Spark side recovers via its
    lossless floor(val*1e6+0.5) round trip, so the squared distances
    are the same exact BIGINTs and the rank is integer-decided."""
    return _transe_ctes(iters, dim) + f""",
      sq AS (
        SELECT q.subj, q.pred, c.name AS candidate,
               CAST(sum((s.v + r.v - c.v) * (s.v + r.v - c.v)) AS BIGINT) AS d
        FROM (SELECT DISTINCT subj, pred FROM trips) q
        JOIN e{iters} s ON s.kind = 'entity'   AND s.name = q.subj
        JOIN e{iters} r ON r.kind = 'relation' AND r.name = q.pred AND r.pos = s.pos
        JOIN e{iters} c ON c.kind = 'entity'   AND c.pos = s.pos
        GROUP BY 1, 2, 3
      ),
      fl AS (
        SELECT sq.* FROM sq
        LEFT JOIN trips t
          ON sq.subj = t.subj AND sq.pred = t.pred AND sq.candidate = t.obj
        WHERE t.subj IS NULL
      )
      SELECT subj, pred, candidate, CAST(d AS DOUBLE) / 1e12 AS dist, rank
      FROM (
        SELECT subj, pred, candidate, d,
               CAST(row_number() OVER (PARTITION BY subj, pred
                                       ORDER BY d, candidate) AS INT) AS rank
        FROM fl
      ) WHERE rank <= {k}"""


def _transe_eval_duck(iters: int = 2, dim: int = 4) -> str:
    """kgtrain.transe_filtered_eval replay: rank of every true tail as
    1 + an integer beats-count over the exact BIGINT distances, then
    MRR / mean-rank / Hits@k aggregates (reciprocals as 1e9 // rank
    integer units)."""
    return _transe_ctes(iters, dim) + f""",
      dtr AS (SELECT DISTINCT subj, pred, obj FROM trips),
      sq AS MATERIALIZED (
        SELECT q.subj, q.pred, c.name AS candidate,
               CAST(sum((s.v + r.v - c.v) * (s.v + r.v - c.v)) AS BIGINT) AS d
        FROM (SELECT DISTINCT subj, pred FROM trips) q
        JOIN e{iters} s ON s.kind = 'entity'   AND s.name = q.subj
        JOIN e{iters} r ON r.kind = 'relation' AND r.name = q.pred AND r.pos = s.pos
        JOIN e{iters} c ON c.kind = 'entity'   AND c.pos = s.pos
        GROUP BY 1, 2, 3
      ),
      rk AS (
        SELECT dq.subj, dq.pred, dq.obj,
               1 + CAST(sum(CASE WHEN tt.obj IS NULL
                                  AND (sq.d < dq.d_o
                                       OR (sq.d = dq.d_o AND sq.candidate < dq.obj))
                                 THEN 1 ELSE 0 END) AS BIGINT) AS rank
        FROM (SELECT t.subj, t.pred, t.obj, s2.d AS d_o
              FROM dtr t
              JOIN sq s2 ON s2.subj = t.subj AND s2.pred = t.pred
                        AND s2.candidate = t.obj) dq
        JOIN sq ON sq.subj = dq.subj AND sq.pred = dq.pred
        LEFT JOIN dtr tt
          ON tt.subj = dq.subj AND tt.pred = dq.pred AND tt.obj = sq.candidate
        GROUP BY 1, 2, 3
      ),
      ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(1000000000 // rank) AS BIGINT) AS rr,
                    CAST(sum(rank) AS BIGINT) AS sr,
                    CAST(sum(CASE WHEN rank <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
                    CAST(sum(CASE WHEN rank <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3,
                    CAST(sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS h10
             FROM rk)
      SELECT n AS n_queries,
             floor((CAST(rr AS DOUBLE) / CAST(n AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1e6 AS mrr,
             floor((CAST(sr AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS mean_rank,
             floor((CAST(h1 AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS hits_at_1,
             floor((CAST(h3 AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS hits_at_3,
             floor((CAST(h10 AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS hits_at_10
      FROM ag"""


def _pagerank_duck(iters: int = 3, d: float = 0.85) -> str:
    """Unrolled power-iteration CTE chain over the relational triple
    replay — mirrors graphstats.pagerank's r7 integer NANO-unit
    trajectory: BIGINT ranks, `rank // deg` edge contributions (exact,
    order-free), `dang // n` redistribution, and per iteration exactly
    two floor(x + 0.5) double constants whose operand order matches
    the Spark expressions token for token."""
    bd = repr(1.0 - d)  # python-double repr round-trips bit-exactly
    sql = f"""
      WITH e AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM ({_KG_TRIPLES_DUCK})),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      degt AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      nd AS MATERIALIZED (SELECT node, coalesce(deg, 0) AS deg FROM nodes LEFT JOIN degt ON node = src),
      nc AS (SELECT count(*) AS n FROM nd),
      r0 AS (SELECT node, deg, 1000000000 // n AS rn FROM nd CROSS JOIN nc)"""
    for i in range(iters):
        sql += f""",
      dang{i} AS (SELECT CAST(coalesce(sum(rn), 0) AS BIGINT) AS dm FROM r{i} WHERE deg = 0),
      contrib{i} AS (SELECT e.dst AS node, CAST(sum(r.rn // r.deg) AS BIGINT) AS c
                     FROM r{i} r JOIN e ON r.node = e.src GROUP BY e.dst),
      r{i + 1} AS (SELECT nd.node, nd.deg,
                   CAST(floor({bd} * 1e9 / n + 0.5) AS BIGINT)
                   + CAST(floor({d!r} * (coalesce(c.c, 0) + dang{i}.dm // n) + 0.5) AS BIGINT) AS rn
                   FROM nd CROSS JOIN nc CROSS JOIN dang{i}
                   LEFT JOIN contrib{i} c ON nd.node = c.node)"""
    return sql + f"""
      SELECT node AS entity,
             floor((CAST(rn AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1e6 AS pagerank
      FROM r{iters}"""


def _bfs_duck(max_hops: int = 4) -> str:
    """Unrolled BFS frontier expansion mirroring graphstats.bfs_levels
    over the undirected entity graph, seeded at the min entity. Empty
    frontiers make extra rounds no-ops (the k_core contract)."""
    sql = f"""
      WITH raw AS MATERIALIZED (
        SELECT DISTINCT subj AS s, obj AS o FROM ({_KG_TRIPLES_DUCK})
        WHERE subj IS NOT NULL AND obj IS NOT NULL
      ),
      sym AS (SELECT DISTINCT s, o FROM (SELECT s, o FROM raw
              UNION ALL SELECT o, s FROM raw)),
      l0 AS (SELECT min(node) AS node, 0 AS level
             FROM (SELECT s AS node FROM sym UNION SELECT o FROM sym))"""
    prev_all, prev_frontier = "l0", "l0"
    for h in range(1, max_hops + 1):
        sql += f""",
      n{h} AS (
        SELECT DISTINCT sym.o AS node, {h} AS level
        FROM sym JOIN {prev_frontier} f ON sym.s = f.node
        WHERE sym.o NOT IN (SELECT node FROM {prev_all})
      ),
      l{h} AS (SELECT node, level FROM {prev_all}
               UNION ALL SELECT node, level FROM n{h})"""
        prev_all, prev_frontier = f"l{h}", f"n{h}"
    return sql + f"""
      SELECT node AS entity, CAST(level AS INT) AS level FROM l{max_hops}"""


def _hits_duck(iters: int = 3) -> str:
    """Unrolled HITS trajectory mirroring graphstats.hits' r7 integer
    MICRO-unit form: exact BIGINT neighbor sums, squared-norm sums in
    HUGEINT (the exact-integer twin of Spark's DECIMAL(38,0)), one
    int->double cast + sqrt + floor(r / nz * 1e6 + 0.5) per half-step;
    nullif'd norms."""
    sql = f"""
      WITH e AS MATERIALIZED (
        SELECT DISTINCT subj AS src, obj AS dst FROM ({_KG_TRIPLES_DUCK})
        WHERE subj IS NOT NULL AND obj IS NOT NULL
      ),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes)"""
    for i in range(iters):
        sql += f""",
      ar{i} AS (SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS r
                FROM e JOIN h{i} h ON h.node = e.src GROUP BY e.dst),
      an{i} AS (SELECT sqrt(CAST(sum(CAST(r AS HUGEINT) * r) AS DOUBLE)) AS nz FROM ar{i}),
      a{i} AS (SELECT nodes.node,
                      CAST(floor(CAST(coalesce(ar{i}.r, 0) AS DOUBLE)
                                 / nullif(an{i}.nz, 0.0) * 1e6 + 0.5) AS BIGINT) AS authority
               FROM nodes CROSS JOIN an{i} LEFT JOIN ar{i} ON nodes.node = ar{i}.node),
      hr{i} AS (SELECT e.src AS node, CAST(sum(a.authority) AS BIGINT) AS r
                FROM e JOIN a{i} a ON a.node = e.dst GROUP BY e.src),
      hn{i} AS (SELECT sqrt(CAST(sum(CAST(r AS HUGEINT) * r) AS DOUBLE)) AS nz FROM hr{i}),
      h{i + 1} AS (SELECT nodes.node,
                          CAST(floor(CAST(coalesce(hr{i}.r, 0) AS DOUBLE)
                                     / nullif(hn{i}.nz, 0.0) * 1e6 + 0.5) AS BIGINT) AS hub
                   FROM nodes CROSS JOIN hn{i} LEFT JOIN hr{i} ON nodes.node = hr{i}.node)"""
    return sql + f"""
      SELECT h{iters}.node AS entity,
             CAST(h{iters}.hub AS DOUBLE) / 1e6 AS hub,
             CAST(a{iters - 1}.authority AS DOUBLE) / 1e6 AS authority
      FROM h{iters} JOIN a{iters - 1} ON h{iters}.node = a{iters - 1}.node"""


def _srp_sig_duck(vec: str = "embedding", dim: int = 64, n_planes: int = 16) -> str:
    """SRP-LSH bit-string, identical plane math to similarity.hyperplane_sig_expr."""
    bits = []
    for k in range(n_planes):
        dot = (
            f"list_aggregate(list_transform(range(0, {dim}), i -> "
            f"CAST({vec}[i + 1] AS DOUBLE) * "
            f"(('0x' || substr(md5('h{k}:' || CAST(i AS VARCHAR)), 1, 15))::BIGINT"
            f" / 1152921504606846976.0 - 0.5)), 'sum')"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


_COS_DUCK = """
  list_aggregate(list_transform(list_zip({a}, {b}), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
  / (sqrt(list_aggregate(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
     * sqrt(list_aggregate(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')))
"""

_SW_EN = "['the','a','an','is','of','and','to','in','that','it']"
_SW_ES = "['el','la','de','que','y','en','un','los','del','al']"
_SW_FR = "['le','la','de','et','les','des','un','une','du','au']"


def _sw_hits(lst: str) -> str:
    return (
        "len(list_filter(list_filter(string_split(lower(text), ' '), t -> t <> ''),"
        f" t -> list_contains({lst}, t)))"
    )


_KG_LABELED_DUCK = """
          WITH tk AS (
            SELECT doc_id, lang,
                   unnest([{'pos': i, 'tok': t[i]} FOR i IN range(1, len(t)+1)], recursive := true)
            FROM (SELECT doc_id, lang,
                    CASE WHEN lang = 'zh'
                         THEN [substr(replace(text, ' ', ''), i, 1)
                               FOR i IN range(1, length(replace(text, ' ', '')) + 1)]
                         ELSE list_filter(string_split(text, ' '), x -> x <> '')
                    END AS t
                  FROM documents)
          ), tagged AS (
            SELECT doc_id, lang, pos, tok,
                   CASE WHEN tok IN ('join','merge','sort','filter') THEN 'VERB'
                        WHEN tok = 'a' AND lang = 'en' THEN 'DET'
                        WHEN tok = 'a' THEN 'ADP'
                        WHEN tok = 'the' AND lang = 'en' THEN 'DET'
                        WHEN tok = 'o' AND lang <> 'en' THEN 'DET'
                        ELSE 'NOUN' END AS upos
            FROM tk
          ), roots AS (
            SELECT doc_id,
                   coalesce(min(pos) FILTER (upos = 'VERB'),
                            min(pos) FILTER (upos = 'NOUN')) AS root_pos,
                   min(pos) FILTER (upos = 'VERB') IS NOT NULL AS root_is_verb,
                   min(pos) FILTER (upos = 'NOUN') AS first_nom
            FROM tagged GROUP BY doc_id
          ), nom_next AS (  -- nearest nominal strictly after each position
            SELECT t.doc_id, t.pos,
                   (SELECT min(n.pos) FROM tagged n
                    WHERE n.doc_id = t.doc_id AND n.upos = 'NOUN' AND n.pos > t.pos) AS next_nom
            FROM tagged t
          ), obl AS (  -- nominals that are the next nominal after some ADP
            SELECT DISTINCT a.doc_id, nn.next_nom AS pos
            FROM tagged a JOIN nom_next nn ON a.doc_id = nn.doc_id AND a.pos = nn.pos
            WHERE a.upos = 'ADP' AND nn.next_nom IS NOT NULL
          ), nominal_seq AS (  -- prev nominal-or-root position per nominal
            SELECT doc_id, pos,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_nom
            FROM (SELECT t.doc_id, t.pos FROM tagged t JOIN roots r USING (doc_id)
                  WHERE t.upos = 'NOUN' OR t.pos = r.root_pos)
          ), labeled AS (
            SELECT t.doc_id, t.pos, t.tok, t.lang, t.upos,
              CASE
                WHEN t.pos = r.root_pos THEN 0
                WHEN t.upos = 'DET' THEN coalesce(nn.next_nom, r.root_pos)
                WHEN t.upos = 'ADP' THEN coalesce(nn.next_nom, r.root_pos)
                WHEN t.upos = 'VERB' THEN r.root_pos
                WHEN t.pos < r.root_pos THEN
                  CASE WHEN t.pos = r.first_nom THEN r.root_pos ELSE ns.prev_nom END
                WHEN b.pos IS NOT NULL THEN r.root_pos
                WHEN r.root_is_verb THEN r.root_pos
                WHEN ns.prev_nom > r.root_pos THEN ns.prev_nom
                ELSE r.root_pos
              END AS head_pos,
              CASE
                WHEN t.pos = r.root_pos THEN 'root'
                WHEN t.upos = 'DET' THEN CASE WHEN nn.next_nom IS NOT NULL THEN 'det' ELSE 'dep' END
                WHEN t.upos = 'ADP' THEN CASE WHEN nn.next_nom IS NOT NULL THEN 'case' ELSE 'dep' END
                WHEN t.upos = 'VERB' THEN 'dep'
                WHEN t.pos < r.root_pos THEN
                  CASE WHEN t.pos = r.first_nom THEN 'nsubj' ELSE 'appos' END
                WHEN b.pos IS NOT NULL THEN 'obl'
                WHEN r.root_is_verb THEN 'obj'
                WHEN ns.prev_nom > r.root_pos THEN 'appos'
                ELSE 'obj'
              END AS deprel
            FROM tagged t
            JOIN roots r USING (doc_id)
            LEFT JOIN nom_next nn ON nn.doc_id = t.doc_id AND nn.pos = t.pos
            LEFT JOIN obl b ON b.doc_id = t.doc_id AND b.pos = t.pos
            LEFT JOIN nominal_seq ns ON ns.doc_id = t.doc_id AND ns.pos = t.pos
          )
"""

def _wordgram_duck() -> str:
    """SQL replay of the WordGram char-ngram encoder: the committed gram
    vectors (first 4 dims) inlined as a relation, char 3-5 grams of
    '<'||word||'>' unnested per token instance, word vector = AVG over
    matched gram rows (duplicate grams count per occurrence, same as the
    kernel's mean), hash-encoder fallback for tokens matching no gram,
    then the doc-level mean-pool of doc_hash_embeddings."""
    import json as _json
    import os

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "nlp_cube_spark", "kernels", "micro_wordgram_vectors.json",
    )
    with open(path) as f:
        art = _json.load(f)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    gv_rows = ", ".join(
        f"({q(g)}, {v[0]!r}, {v[1]!r}, {v[2]!r}, {v[3]!r})"
        for g, v in sorted(art["ngrams"].items())
    )
    hashf = "('0x' || substr(md5(lower(tok) || ':{j}'), 1, 15))::BIGINT / 1152921504606846976.0"
    return f"""
          WITH toks AS (
            SELECT doc_id, row_number() OVER () AS tid, tok,
                   '<' || lower(tok) || '>' AS s
            FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
                  FROM documents)
          ),
          gv(g, e0, e1, e2, e3) AS (VALUES {gv_rows}),
          grams AS (
            SELECT t.tid, t.doc_id, substr(t.s, i.i::INT, n.n::INT) AS g
            FROM toks t
            CROSS JOIN (SELECT unnest([3, 4, 5]) AS n) n
            CROSS JOIN LATERAL (SELECT unnest(range(1, length(t.s) - n.n + 2)) AS i) i
          ),
          wordvec AS (
            SELECT g.tid, g.doc_id,
                   avg(gv.e0) AS e0, avg(gv.e1) AS e1, avg(gv.e2) AS e2, avg(gv.e3) AS e3
            FROM grams g JOIN gv ON gv.g = g.g
            GROUP BY g.tid, g.doc_id
          ),
          fallback AS (
            SELECT t.tid, t.doc_id,
                   {hashf.format(j=0)} AS e0, {hashf.format(j=1)} AS e1,
                   {hashf.format(j=2)} AS e2, {hashf.format(j=3)} AS e3
            FROM toks t LEFT JOIN wordvec w ON w.tid = t.tid
            WHERE w.tid IS NULL
          ),
          allvec AS (SELECT * FROM wordvec UNION ALL SELECT * FROM fallback)
          SELECT doc_id, round(avg(e0), 6) AS e0, round(avg(e1), 6) AS e1,
                 round(avg(e2), 6) AS e2, round(avg(e3), 6) AS e3
          FROM allvec GROUP BY doc_id
    """


def _learned_tagger_duck() -> str:
    """SQL replay of the pinned-weight joint tagger (kernels/learned.py
    tag_features + perceptron_predict): the committed weights inlined as a
    relation, the per-token feature list built with window functions,
    score = feature-join + SUM, argmax = row_number ordered by
    (score DESC, committed class order) — tie-break identical to
    perceptron_predict. Weights are integers (vanilla-perceptron ±1
    updates), so the sum is order-independent across engines."""
    import json as _json
    import os

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "nlp_cube_spark", "kernels", "micro_tagger_weights.json",
    )
    with open(path) as f:
        art = _json.load(f)
    classes = art["classes"]

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    wt_rows = ", ".join(
        f"({q(feat)}, {classes.index(cls)}, {float(w)!r})"
        for feat, cw in art["w"].items()
        for cls, w in cw.items()
    )
    cls_rows = ", ".join(
        "({}, {}, {}, {})".format(i, *(q(p) for p in cls.split("\t")))
        for i, cls in enumerate(classes)
    )
    return f"""
          WITH wt(feat, cls_idx, w) AS (VALUES {wt_rows}),
          cls(cls_idx, upos, xpos, feats) AS (VALUES {cls_rows}),
          tk AS (
            SELECT doc_id, lang,
                   unnest([{{'pos': i, 'tok': t[i]}} FOR i IN range(1, len(t)+1)], recursive := true)
            FROM (SELECT doc_id, lang,
                    CASE WHEN lang = 'zh'
                         THEN [substr(replace(text, ' ', ''), i, 1)
                               FOR i IN range(1, length(replace(text, ' ', '')) + 1)]
                         ELSE list_filter(string_split(text, ' '), x -> x <> '')
                    END AS t
                  FROM documents)
          ), ctx AS (
            SELECT doc_id, lang, pos, tok, lower(tok) AS low,
                   coalesce(lag(lower(tok)) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS prev,
                   coalesce(lead(lower(tok)) OVER (PARTITION BY doc_id ORDER BY pos), '</s>') AS nxt
            FROM tk
          ), feat AS (
            SELECT doc_id, pos, unnest([
              'w:' || low,
              'wl:' || low || ':' || lang,
              'suf1:' || right(low, 1),
              'suf2:' || right(low, 2),
              'suf3:' || right(low, 3),
              'shape:U' || (CASE WHEN substr(tok, 1, 1) BETWEEN 'A' AND 'Z' THEN 'True' ELSE 'False' END)
                 || ':F' || (CASE WHEN pos = 1 THEN 'True' ELSE 'False' END),
              'num:' || (CASE WHEN regexp_matches(tok, '^[0-9][0-9.,]*$') THEN 'True' ELSE 'False' END),
              'prev:' || prev,
              'next:' || nxt,
              'lang:' || lang,
              'bias'
            ]) AS feat
            FROM ctx
          ), sc AS (
            SELECT f.doc_id, f.pos, w.cls_idx, sum(w.w) AS s
            FROM feat f JOIN wt w USING (feat)
            GROUP BY f.doc_id, f.pos, w.cls_idx
          ), best AS (
            SELECT t.doc_id, t.pos, t.tok, c.upos, c.xpos, c.feats,
                   row_number() OVER (PARTITION BY t.doc_id, t.pos
                                      ORDER BY coalesce(sc.s, 0) DESC, c.cls_idx ASC) AS rk
            FROM tk t CROSS JOIN cls c
            LEFT JOIN sc ON sc.doc_id = t.doc_id AND sc.pos = t.pos AND sc.cls_idx = c.cls_idx
          )
          SELECT 'https://ex.org/doc/' || doc_id AS url, pos AS word_id,
                 tok AS form, upos, xpos, feats
          FROM best WHERE rk = 1
    """


def oracle_sql() -> dict[str, str]:
    sw_en, sw_es, sw_fr = _sw_hits(_SW_EN), _sw_hits(_SW_ES), _sw_hits(_SW_FR)
    return {
        "source_doremi_weights": _doremi_duck(),
        "doc_ccnet_buckets": """
          WITH toks AS (
            SELECT doc_id, lang,
                   unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t
            FROM documents
          ),
          tf AS (SELECT lang, doc_id, t, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
          lm AS (SELECT lang, t, sum(tf) AS c FROM tf GROUP BY 1, 2),
          nv AS (SELECT lang, sum(c) AS N, count(*) AS V FROM lm GROUP BY 1),
          lp AS (SELECT lang, t,
                        CAST(floor(ln((c + 0.5) / (N + 0.5 * V)) * 1e9 + 0.5) AS BIGINT)
                          AS lp_nano
                 FROM lm JOIN nv USING (lang)),
          ce AS (
            SELECT tf.lang, tf.doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
                   CAST(-sum(tf * lp_nano) AS BIGINT) // CAST(sum(tf) AS BIGINT) AS ce_nano
            FROM tf JOIN lp USING (lang, t) GROUP BY 1, 2
          )
          SELECT doc_id, lang, n_tokens,
                 CAST(ce_nano // 1000 AS BIGINT) / 1e6 AS cross_entropy,
                 CASE ntile(3) OVER (PARTITION BY lang ORDER BY ce_nano, doc_id)
                   WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
                 END AS ppl_bucket
          FROM ce
        """,
        "cms_term_counts": f"""
          WITH toks AS (
            SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> '')) AS term
            FROM documents
          ),
          exact AS (SELECT term, count(*) AS exact_count FROM toks GROUP BY term),
          hashed AS (
            SELECT term, exact_count AS c, r,
                   ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 13))::BIGINT
                     % {_CMS_WIDTH} AS bucket
            FROM exact, range(0, {_CMS_DEPTH}) t(r)
          ),
          sketch AS (SELECT r, bucket, sum(c) AS cell FROM hashed GROUP BY r, bucket),
          est AS (
            SELECT h.term, min(coalesce(s.cell, 0)) AS est_count
            FROM hashed h LEFT JOIN sketch s ON h.r = s.r AND h.bucket = s.bucket
            GROUP BY h.term
          )
          SELECT e.term, CAST(e.exact_count AS BIGINT) AS exact_count,
                 CAST(est.est_count AS BIGINT) AS est_count,
                 CAST(est.est_count - e.exact_count AS BIGINT) AS overestimate
          FROM exact e JOIN est USING (term)
        """,
        "pricing_summary": """
          SELECT l_returnflag, l_linestatus,
                 round(sum(l_quantity), 2) AS sum_qty,
                 round(sum(l_extendedprice), 2) AS sum_base_price,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                 round(avg(l_discount), 6) AS avg_disc,
                 count(*) AS count_order
          FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
          GROUP BY l_returnflag, l_linestatus
        """,
        "top_revenue_orders": """
          SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
          GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10
        """,
        "region_revenue": """
          SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name
        """,
        "semi_join": """
          SELECT c_custkey, c_name FROM customer c
          WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "anti_join": """
          SELECT c_custkey, c_name FROM customer c
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1998-01-01')
        """,
        "window_top3": """
          SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
          FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
                FROM orders) WHERE rn <= 3
        """,
        "distinct_brand_type": "SELECT DISTINCT p_brand, p_type FROM part",
        "rollup_orders": """
          SELECT o_orderstatus, o_orderpriority, count(*) AS n
          FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "events_hourly": """
          SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                 event_type, count(*) AS n, round(sum(value), 2) AS sum_value
          FROM events GROUP BY 1, 2
        """,
        "events_json_props": """
          SELECT event_type,
                 round(avg(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT)), 6) AS avg_k,
                 max(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT)) AS max_k
          FROM events GROUP BY event_type
        """,
        "string_folding": """
          SELECT c_custkey, lower(c_name) AS name_lower,
                 regexp_replace(c_name, '[0-9]', '0', 'g') AS name_digitfold
          FROM customer
        """,
        "setops_brands": """
          -- (A ∩ B) ∪ (A − B) == A  (Spark side exercises intersect/exceptAll)
          SELECT DISTINCT p_brand FROM part WHERE p_type = 'ECONOMY'
        """,
        "shipdate_pruned_agg": """
          SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
                 round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
          GROUP BY 1
        """,
        "orders_topk": """
          SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
          FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
        """,
        "map_extract": """
          SELECT p_partkey, p_brand AS brand, p_size AS size FROM part
        """,
        "salted_supplier_counts": """
          SELECT l_suppkey, count(*) AS count FROM lineitem GROUP BY l_suppkey
        """,
        "hot_parts": """
          SELECT l_partkey FROM lineitem GROUP BY l_partkey HAVING count(*) >= 40
        """,
        "sampled_hot_parts": """
          SELECT l_partkey, count(*) * 10 AS est_count
          FROM lineitem
          WHERE (('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                                     CAST(l_partkey AS VARCHAR) || ':' ||
                                     CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % 10) = 0
          GROUP BY l_partkey HAVING count(*) >= 4
        """,
        "approx_distinct_parts": """
          SELECT l_returnflag, true AS within_tol
          FROM lineitem GROUP BY l_returnflag
        """,
        "salted_join_parts": """
          SELECT p_brand, round(sum(l_quantity), 2) AS qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY p_brand
        """,
        "events_sliding_window": """
          SELECT strftime(to_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS w_start,
                 count(*) AS n, round(sum(value), 2) AS sum_value
          FROM (
            SELECT value,
                   unnest([CAST(floor(epoch(ts) / 10800) * 10800 AS BIGINT),
                           CAST(floor(epoch(ts) / 10800) * 10800 - 10800 AS BIGINT)]) AS ws,
                   epoch(ts) AS et
            FROM events
          )
          WHERE et >= ws AND et < ws + 21600
          GROUP BY ws
        """,
        "user_sessions": """
          WITH marked AS (
            SELECT user_id, ts, value,
                   -- INCLUSIVE boundary: Spark merges an event at exactly
                   -- session_end (gap <= 30min), verified empirically
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             <= INTERVAL 30 MINUTE
                        THEN 0 ELSE 1 END AS new_sess
            FROM events
          ),
          sess AS (
            SELECT user_id, ts, value,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked
          )
          SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
                 count(*) AS n_events, round(sum(value), 2) AS sum_value
          FROM sess GROUP BY user_id, sid
        """,
        "cube_order_counts": """
          SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                 round(sum(o_totalprice), 2) AS total
          FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "events_tumbling_window": """
          SELECT strftime(to_timestamp(floor(epoch(ts) / 21600) * 21600),
                          '%Y-%m-%d %H:%M:%S') AS w_start,
                 count(*) AS n, round(avg(value), 6) AS avg_value
          FROM events GROUP BY 1
        """,
        "doc_fingerprints": """
          SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
          FROM documents
        """,
        "doc_token_counts": """
          SELECT doc_id,
                 len(list_filter(string_split(text, ' '), t -> t <> '')) AS ws_tokens,
                 len(regexp_extract_all(text, '[0-9A-Za-z]+|[^0-9A-Za-z ]')) AS pre_tokens
          FROM documents
        """,
        "lang_id_confusion": f"""
          SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n,
                 count(*) / CAST(sum(count(*)) OVER (PARTITION BY lang) AS DOUBLE)
                   AS class_share
          FROM (
            SELECT lang,
                   CASE WHEN greatest(h_en, h_es, h_fr) = 0 THEN 'und'
                        WHEN h_en = greatest(h_en, h_es, h_fr) THEN 'en'
                        WHEN h_es = greatest(h_en, h_es, h_fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM (SELECT lang, {sw_en} AS h_en, {sw_es} AS h_es, {sw_fr} AS h_fr
                  FROM documents)
          ) GROUP BY lang, lang_pred
        """,
        "doc_lang_id": f"""
          SELECT lang_pred, count(*) AS n FROM (
            SELECT CASE WHEN greatest(h_en, h_es, h_fr) = 0 THEN 'und'
                        WHEN h_en = greatest(h_en, h_es, h_fr) THEN 'en'
                        WHEN h_es = greatest(h_en, h_es, h_fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM (SELECT {sw_en} AS h_en, {sw_es} AS h_es, {sw_fr} AS h_fr FROM documents)
          ) GROUP BY lang_pred
        """,
        "doc_quality": f"""
          WITH base AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
                   round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                         / greatest(length(text), 1), 6) AS alpha_ratio,
                   round({sw_en} / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1), 6) AS stopword_ratio,
                   round((length(text) - length(regexp_replace(text, '[^ ]', '', 'g')))
                         / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1), 6) AS mean_token_len
            FROM documents)
          SELECT doc_id, n_tokens, alpha_ratio, stopword_ratio,
                 floor((alpha_ratio * 0.5 + stopword_ratio * 0.3
                       + (CASE WHEN mean_token_len BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END)) * 1e6 + 0.5) / 1e6 AS quality
          FROM base
        """,
        "doc_c4_lines": """
          -- C4 line verdicts replay (webclean.c4_line_verdicts with
          -- require_terminal_punct=False over the manufactured lines)
          WITH lined AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 37 = 0
                        THEN 'this page uses lorem ipsum filler' || chr(10) || t
                        ELSE t END AS text
            FROM (SELECT doc_id,
                         regexp_replace(text,
                           '(\\S+ \\S+ \\S+ \\S+ \\S+ \\S+ \\S+ \\S+) ',
                           '\\1' || chr(10), 'g') AS t
                  FROM documents)
          ),
          lines AS (
            SELECT doc_id,
                   CAST(generate_subscripts(ls, 1) - 1 AS INT) AS line_id,
                   trim(unnest(ls)) AS line
            FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined)
          ),
          v AS (
            SELECT doc_id, line_id, line,
                   CAST(len(list_filter(string_split_regex(line, ' +'), t -> t <> '')) AS BIGINT) AS n_words
            FROM lines
          )
          SELECT doc_id, line_id, line, n_words,
                 reason IS NULL AS keep, reason
          FROM (
            SELECT *,
                   CASE WHEN line = '' THEN 'empty'
                        WHEN n_words < 3 THEN 'too_short'
                        WHEN contains(line, '{') THEN 'brace'
                        WHEN contains(lower(line), 'lorem ipsum')
                             OR contains(lower(line), 'javascript') THEN 'blocklist'
                   END AS reason
            FROM v)
        """,
        "doc_gopher_quality": """
          -- Gopher document gates replay (webclean.gopher_quality,
          -- min_words=30, min_stop_hits=1); every ratio is one IEEE
          -- division of exact integers + the portable floor rounding
          WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks,
                   text AS t
            FROM documents
          ),
          m AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_words,
                   CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS DOUBLE)
                     / nullif(CAST(len(toks) AS DOUBLE), 0.0) AS mwl_raw,
                   (length(t) - length(regexp_replace(t, '[#]|\\.\\.\\.', '', 'g')))
                     / nullif(CAST(len(toks) AS DOUBLE), 0.0) AS sym_raw,
                   len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                     / nullif(CAST(len(toks) AS DOUBLE), 0.0) AS alpha_raw,
                   CAST(len(list_intersect(list_distinct(toks),
                        ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS BIGINT) AS stop_hits
            FROM base
          ),
          r AS (
            SELECT doc_id, n_words,
                   floor(mwl_raw * 1e6 + 0.5) / 1e6 AS mean_word_len,
                   floor(sym_raw * 1e6 + 0.5) / 1e6 AS symbol_ratio,
                   floor(alpha_raw * 1e6 + 0.5) / 1e6 AS alpha_frac,
                   stop_hits,
                   -- gates replay the Spark operator EXACTLY: the mean
                   -- gate sees the rounded value (the operator computes
                   -- reason over its rounded mean_word_len column), the
                   -- ratio gates see the raw quotients
                   CASE WHEN n_words < 30 THEN 'too_few_words'
                        WHEN n_words > 100000 THEN 'too_many_words'
                        WHEN floor(mwl_raw * 1e6 + 0.5) / 1e6 < 3.0 THEN 'mean_word_len_low'
                        WHEN floor(mwl_raw * 1e6 + 0.5) / 1e6 > 10.0 THEN 'mean_word_len_high'
                        WHEN sym_raw > 0.1 THEN 'symbol_ratio'
                        WHEN alpha_raw < 0.8 THEN 'alpha_frac'
                        WHEN stop_hits < 1 THEN 'stop_words'
                   END AS reason
            FROM m
          )
          SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
                 stop_hits, reason IS NULL AS keep, reason
          FROM r
        """,
        "docs_capped_per_source": """
          SELECT doc_id, source, n_chars, rank FROM (
            SELECT doc_id, source, n_chars,
                   CAST(row_number() OVER (PARTITION BY source
                                           ORDER BY n_chars DESC, doc_id) AS INT) AS rank
            FROM documents
          ) WHERE rank <= 10
        """,
        "stratified_sample": f"""
          SELECT doc_id, lang FROM documents
          WHERE ({_H60_DUCK.format(x="CAST(doc_id AS VARCHAR) || ''")}) % 1000000
                < CASE lang WHEN 'en' THEN 500000 WHEN 'es' THEN 250000
                            WHEN 'zh' THEN 100000 ELSE 50000 END
        """,
        "train_val_test_split": f"""
          SELECT split, count(*) AS n FROM (
            SELECT CASE
              WHEN ({_H60_DUCK.format(x="CAST(doc_id AS VARCHAR) || ''")}) % 1000000 < 50000 THEN 'test'
              WHEN ({_H60_DUCK.format(x="CAST(doc_id AS VARCHAR) || ''")}) % 1000000 < 950000 THEN 'train'
              ELSE 'val' END AS split
            FROM documents
          ) GROUP BY split
        """,
        "pack_shards": """
          -- CAST: DuckDB sum(BIGINT) returns HUGEINT, which pandas renders as
          -- float64 ("2000.0") while Spark emits int64 ("2000") — a stringify
          -- hash mismatch invisible to fetchall() value comparison.
          SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars FROM (
            SELECT CAST(floor(coalesce(sum(n_chars) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000) AS INT) AS shard,
                   n_chars
            FROM documents
          ) GROUP BY shard
        """,
        "tokenizer_targets": """
          WITH tk AS (
            SELECT doc_id, lang,
                   unnest([{'pos': i, 'tok': t[i]} FOR i IN range(1, len(t)+1)], recursive := true)
            FROM (SELECT doc_id, lang,
                    CASE WHEN lang = 'zh'
                         THEN [substr(replace(text, ' ', ''), i, 1)
                               FOR i IN range(1, length(replace(text, ' ', '')) + 1)]
                         ELSE list_filter(string_split(text, ' '), x -> x <> '')
                    END AS t
                  FROM documents)
          )
          SELECT 'https://ex.org/doc/' || doc_id AS url, CAST(0 AS INT) AS sent_id,
                 CAST(pos AS INT) AS pretok_id, tok AS pretok,
                 CAST(CASE WHEN pos = max(pos) OVER (PARTITION BY doc_id)
                      THEN 4 ELSE 2 END AS INT) AS target
          FROM tk
        """,
        "doc_length_histogram": """
          WITH b AS (
            SELECT min(CAST(n_chars AS DOUBLE)) AS glo, max(CAST(n_chars AS DOUBLE)) AS ghi
            FROM documents WHERE n_chars IS NOT NULL
          ),
          g AS (
            SELECT source,
                   CASE WHEN ghi = glo THEN 0
                        ELSE CAST(least(floor((CAST(n_chars AS DOUBLE) - glo)
                                              / ((ghi - glo) / 12.0)), 11) AS BIGINT)
                   END AS bin,
                   count(*) AS n, any_value(glo) AS glo, any_value(ghi) AS ghi
            FROM documents, b WHERE n_chars IS NOT NULL
            GROUP BY source, bin
          )
          SELECT source, bin,
                 round(glo + bin * (ghi - glo) / 12, 6) AS lo,
                 round(glo + (bin + 1) * (ghi - glo) / 12, 6) AS hi,
                 CAST(n AS BIGINT) AS n
          FROM g""",
        "doc_ngram_novelty": """
          WITH dg AS MATERIALIZED (
            SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS gram
            FROM (SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 1, 1))) AS i
                  FROM (SELECT doc_id,
                               list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS tk
                        FROM documents))
          ),
          gc AS (SELECT gram, count(*) AS nd FROM dg GROUP BY gram),
          per AS (
            SELECT doc_id, count(*) AS n_distinct_grams,
                   sum(CASE WHEN nd = 1 THEN 1 ELSE 0 END) AS n_novel
            FROM dg JOIN gc USING (gram) GROUP BY doc_id
          )
          SELECT d.doc_id,
                 CAST(coalesce(n_distinct_grams, 0) AS BIGINT) AS n_distinct_grams,
                 CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
                 round(n_novel / CAST(n_distinct_grams AS DOUBLE), 6) AS novel_frac
          FROM documents d LEFT JOIN per USING (doc_id)""",
        "lineitem_correlations": " UNION ALL ".join(
            f"""
          SELECT '{a}' AS col_a, '{b}' AS col_b,
                 round((n * sxy - sx * sy)
                       / sqrt(nullif(n * sxx - sx * sx, 0) * nullif(n * syy - sy * sy, 0)), 6) AS corr
          FROM (
            SELECT CAST(sum(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS n,
                   sum(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL THEN CAST({a} AS DOUBLE) END) AS sx,
                   sum(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL THEN CAST({b} AS DOUBLE) END) AS sy,
                   sum(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL THEN CAST({a} AS DOUBLE) * CAST({b} AS DOUBLE) END) AS sxy,
                   sum(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL THEN CAST({a} AS DOUBLE) * CAST({a} AS DOUBLE) END) AS sxx,
                   sum(CASE WHEN {a} IS NOT NULL AND {b} IS NOT NULL THEN CAST({b} AS DOUBLE) * CAST({b} AS DOUBLE) END) AS syy
            FROM lineitem
          )"""
            for a, b in [
                ("l_quantity", "l_extendedprice"),
                ("l_quantity", "l_discount"),
                ("l_quantity", "l_tax"),
                ("l_extendedprice", "l_discount"),
                ("l_extendedprice", "l_tax"),
                ("l_discount", "l_tax"),
            ]
        ),
        "lineitem_profile": " UNION ALL ".join(
            f"""
          SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
                 round(min(CAST({c} AS DOUBLE)), 6) AS min,
                 round(max(CAST({c} AS DOUBLE)), 6) AS max,
                 round(avg(CAST({c} AS DOUBLE)), 6) AS mean,
                 round(stddev_samp(CAST({c} AS DOUBLE)), 6) AS stddev
          FROM lineitem"""
            for c in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
        ),
        "kg_degree_histogram": f"""
          WITH raw AS MATERIALIZED (
            SELECT DISTINCT subj AS s, obj AS o FROM ({_KG_TRIPLES_DUCK})
          ),
          e AS (
            SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b
            FROM raw WHERE s <> o AND s IS NOT NULL AND o IS NOT NULL
          ),
          sym AS (SELECT a AS node, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
          deg AS (SELECT node, CAST(count(*) AS DOUBLE) AS v FROM sym GROUP BY node),
          b0 AS (SELECT min(v) AS glo, max(v) AS ghi FROM deg),
          g AS (
            SELECT CASE WHEN ghi = glo THEN 0
                        ELSE CAST(least(floor((v - glo) / ((ghi - glo) / 8.0)), 7) AS BIGINT)
                   END AS bin,
                   count(*) AS n, any_value(glo) AS glo, any_value(ghi) AS ghi
            FROM deg, b0 GROUP BY bin
          )
          SELECT bin,
                 round(glo + bin * (ghi - glo) / 8, 6) AS lo,
                 round(glo + (bin + 1) * (ghi - glo) / 8, 6) AS hi,
                 CAST(n AS BIGINT) AS n
          FROM g""",
        "doc_containment_dedup": f"""
          WITH cc AS MATERIALIZED (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 3000000, substr(text, 1, 120)
            FROM documents WHERE doc_id % 25 = 0
          ),
          {_winnow_fps_ctes(8, 4, src="cc")},
          fps AS (SELECT DISTINCT doc_id, CAST(mk // {1 << 22} AS BIGINT) AS fp FROM s),
          capped AS (
            SELECT doc_id, fp FROM (
              SELECT *, count(*) OVER (PARTITION BY fp) AS _n FROM fps
            ) WHERE _n <= 64
          ),
          cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped a JOIN capped b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
          ),
          shg AS (
            SELECT doc_id, list_distinct([substr(lower(text), i, 3)
                   FOR i IN range(1, greatest(length(lower(text)) - 2, 1) + 1)]) AS sh
            FROM cc
          ),
          scored AS (
            SELECT doc_a, doc_b,
                   round(len(list_intersect(a.sh, b.sh))
                         / nullif(CAST(len(a.sh) AS DOUBLE), 0), 6) AS containment_a_in_b,
                   round(len(list_intersect(a.sh, b.sh))
                         / nullif(CAST(len(b.sh) AS DOUBLE), 0), 6) AS containment_b_in_a
            FROM cand JOIN shg a ON a.doc_id = doc_a JOIN shg b ON b.doc_id = doc_b
          )
          SELECT * FROM scored
          WHERE greatest(coalesce(containment_a_in_b, 0), coalesce(containment_b_in_a, 0)) >= 0.8""",
        "doc_similar_tfidf": """
          WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
            FROM documents
          ), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
          corpus AS (SELECT count(*) AS n_docs FROM dl),
          vec AS MATERIALIZED (
            SELECT doc_id, term,
                   tf * (ln((n_docs + 1) / (df + 1)) + 1) AS w
            FROM tf JOIN dfreq USING (term) CROSS JOIN corpus
          ),
          nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nr FROM vec GROUP BY doc_id),
          dots AS (
            SELECT a.doc_id AS ida, b.doc_id AS idb, sum(a.w * b.w) AS dt
            FROM vec a JOIN vec b USING (term)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
          ),
          cs AS (
            SELECT ida, idb,
                   round(dt / nullif(na.nr * nb.nr, 0), 6) AS cos_sim
            FROM dots JOIN nrm na ON na.doc_id = ida JOIN nrm nb ON nb.doc_id = idb
          ),
          sym AS (SELECT ida AS doc_id, idb AS other_id, cos_sim FROM cs
                  UNION ALL SELECT idb, ida, cos_sim FROM cs)
          SELECT doc_id, other_id, cos_sim,
                 CAST(row_number() OVER (PARTITION BY doc_id
                                         ORDER BY cos_sim DESC, other_id) AS INT) AS rank
          FROM sym QUALIFY rank <= 2""",
        "events_trailing_hour": """
          SELECT event_id, user_id, ts,
                 CAST(count(*) OVER w AS BIGINT) AS n_trailing,
                 round(sum(value) OVER w, 6) AS sum_trailing
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts) // 1000
                       RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",
        "user_retention_cohorts": """
          WITH ev AS (
            SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS w FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
          ),
          fst AS (SELECT user_id, min(w) AS cohort_week FROM ev GROUP BY user_id),
          act AS (SELECT DISTINCT user_id, w FROM ev),
          sizes AS (SELECT cohort_week, count(*) AS n_users FROM fst GROUP BY cohort_week),
          mat AS (
            SELECT cohort_week,
                   CAST(date_diff('day', cohort_week, w) // 7 AS INT) AS age,
                   count(*) AS n_active
            FROM act JOIN fst USING (user_id) GROUP BY 1, 2
          )
          SELECT cohort_week, age,
                 CAST(n_active AS BIGINT) AS n_active,
                 CAST(n_users AS BIGINT) AS n_users,
                 round(n_active / CAST(n_users AS DOUBLE), 6) AS retention
          FROM mat JOIN sizes USING (cohort_week)""",
        "rrf_top_terms": """
          WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
            FROM documents
          ), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
          corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
          r1 AS (
            SELECT doc_id, term,
                   CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term) AS INT) AS r_tfidf
            FROM (SELECT tf.doc_id, tf.term,
                         round(tf.tf * (ln((n_docs + 1) / (df + 1)) + 1), 6) AS s
                  FROM tf JOIN dfreq USING (term) CROSS JOIN corpus)
          ),
          r2 AS (
            SELECT doc_id, term,
                   CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, term) AS INT) AS r_bm25
            FROM (SELECT tf.doc_id, tf.term,
                         round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                               * (tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))), 6) AS s
                  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus)
          ),
          fused AS (
            SELECT doc_id, term, r_tfidf, r_bm25,
                   round(1.0 / (60 + r_tfidf) + 1.0 / (60 + r_bm25), 6) AS rrf
            FROM r1 JOIN r2 USING (doc_id, term)
          )
          SELECT doc_id, term, r_tfidf, r_bm25, rrf,
                 CAST(row_number() OVER (PARTITION BY doc_id ORDER BY rrf DESC, term) AS INT) AS rank
          FROM fused QUALIFY rank <= 3""",
        "doc_readability": """
          SELECT doc_id,
                 CAST(n_words AS INT) AS n_words,
                 CAST(n_sentences AS INT) AS n_sentences,
                 CAST(n_syllables AS INT) AS n_syllables,
                 round(206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
                       - 84.6 * (n_syllables / CAST(nullif(n_words, 0) AS DOUBLE)), 6) AS flesch
          FROM (
            SELECT doc_id,
                   len(regexp_extract_all(text, '\\S+')) AS n_words,
                   greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
                   len(regexp_extract_all(lower(text), '[aeiouy]+'))
                   + len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'),
                                                 t -> t <> ''),
                         t -> NOT regexp_matches(t, '[aeiouy]'))) AS n_syllables
            FROM documents
          )""",
        "search_docs_bm25": """
          WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
            FROM documents
          ),
          dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
          corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                 WHERE term IN ('column', 'scan', 'window') GROUP BY doc_id, term),
          dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          sc AS (
            SELECT tf.doc_id, count(*) AS n_matched,
                   round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                             * (tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)))), 6) AS score
            FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus
            GROUP BY tf.doc_id
          )
          SELECT doc_id, CAST(n_matched AS BIGINT) AS n_matched, score,
                 CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
          FROM sc ORDER BY score DESC, doc_id LIMIT 50""",
        "kg_entity_bfs": _bfs_duck(),
        "kg_entity_neighborhood": f"""
          WITH raw AS MATERIALIZED (
            SELECT DISTINCT subj AS s, obj AS o FROM ({{kg}})
          ),
          e AS (
            SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b
            FROM raw WHERE s <> o AND s IS NOT NULL AND o IS NOT NULL
          ),
          sym AS (SELECT a AS node, b AS nbr FROM e
                  UNION ALL SELECT b, a FROM e),
          deg AS (SELECT node, count(*) AS deg FROM sym GROUP BY node),
          agg AS (
            SELECT sym.node,
                   round(avg(CAST(d2.deg AS DOUBLE)), 6) AS avg_nbr_deg,
                   max(d2.deg) AS max_nbr_deg,
                   sum(d2.deg - 1) AS n_two_hop_walks
            FROM sym JOIN deg d2 ON d2.node = sym.nbr
            GROUP BY sym.node
          )
          SELECT deg.node AS entity, CAST(deg.deg AS BIGINT) AS deg,
                 avg_nbr_deg, CAST(max_nbr_deg AS BIGINT) AS max_nbr_deg,
                 CAST(n_two_hop_walks AS BIGINT) AS n_two_hop_walks
          FROM deg JOIN agg USING (node)""".replace("{kg}", _KG_TRIPLES_DUCK),
        "kg_entity_hits": _hits_duck(),
        "kg_entity_pagerank": _pagerank_duck(),
        "kg_transe_embeddings": _transe_duck(),
        "kg_completion_topk": _transe_completion_duck(),
        "kg_completion_metrics": _transe_eval_duck(),
        "kg_link_prediction": f"""
          -- graphstats.link_prediction (adamic_adar) replay: canonical
          -- simple edges -> symmetric adjacency -> per-mid nano weight
          -- floor(1/ln(deg)*1e9+0.5) -> wedge join -> exact BIGINT sum
          -- -> anti-join existing edges -> /1e9 then 6dp floor-round
          WITH clean AS MATERIALIZED (
            SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
            FROM ({_KG_TRIPLES_DUCK})
            WHERE subj IS NOT NULL AND obj IS NOT NULL AND subj <> obj
          ),
          sym AS (SELECT a AS z, b AS n FROM clean
                  UNION ALL SELECT b, a FROM clean),
          deg AS (SELECT z, count(*) AS d FROM sym GROUP BY z),
          mids AS (
            SELECT s.z, s.n,
                   CAST(floor(1.0 / nullif(ln(CAST(d AS DOUBLE)), 0.0) * 1e9 + 0.5) AS BIGINT) AS w
            FROM sym s JOIN deg USING (z)
          ),
          pr AS (
            SELECT l.n AS entity_a, r.n AS entity_b,
                   CAST(count(*) AS BIGINT) AS n_common,
                   CAST(sum(l.w) AS BIGINT) AS aa
            FROM mids l JOIN mids r ON l.z = r.z AND l.n < r.n
            GROUP BY 1, 2
          )
          SELECT entity_a, entity_b, n_common,
                 floor((CAST(aa AS DOUBLE) / 1e9) * 1e6 + 0.5) / 1e6 AS score
          FROM pr LEFT JOIN clean ON pr.entity_a = clean.a AND pr.entity_b = clean.b
          WHERE clean.a IS NULL
        """,
        "kg_negative_samples": f"""
          -- kgtrain.corrupt_triples replay (k=2, filtered setting):
          -- hash-derived side + replacement rank, dense entity rank,
          -- no-op and true-triple negatives dropped
          WITH trips AS MATERIALIZED (
            SELECT DISTINCT subj, pred, obj FROM ({_KG_TRIPLES_DUCK})
            WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj IS NOT NULL
          ),
          ents AS (
            SELECT entity, CAST(row_number() OVER (ORDER BY entity) - 1 AS BIGINT) AS rnk
            FROM (SELECT subj AS entity FROM trips UNION SELECT obj FROM trips)
          ),
          nn AS (SELECT count(*) AS _n FROM ents),
          exp AS (
            SELECT subj, pred, obj, CAST(sample_id AS INT) AS sample_id,
                   ('0x' || substr(md5(subj || chr(1) || pred || chr(1) || obj
                                       || chr(1) || CAST(sample_id AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM trips, (SELECT unnest(range(1, 3)) AS sample_id)
          ),
          repl AS (
            SELECT e.subj, e.pred, e.obj, e.sample_id,
                   CASE WHEN e.h % 2 = 0 THEN 'subj' ELSE 'obj' END AS corrupted,
                   CASE WHEN e.h % 2 = 0 THEN en.entity ELSE e.subj END AS neg_subj,
                   CASE WHEN e.h % 2 = 0 THEN e.obj ELSE en.entity END AS neg_obj
            FROM exp e
            CROSS JOIN nn
            JOIN ents en ON en.rnk = (e.h // 2) % nn._n
          )
          SELECT r.subj, r.pred, r.obj, r.sample_id, r.corrupted,
                 r.neg_subj, r.neg_obj
          FROM repl r
          LEFT JOIN trips t
            ON r.neg_subj = t.subj AND r.pred = t.pred AND r.neg_obj = t.obj
          WHERE t.subj IS NULL
            AND (r.neg_subj <> r.subj OR r.neg_obj <> r.obj)
        """,
        "ann_kmeans_centroids": _kmeans_duck(),
        "ann_pq_topk": _pq_duck(),
        "kg_entity_communities": _lpa_duck(),
        "weighted_sample_docs": _WEIGHTED_SAMPLE_DUCK,
        "user_funnel": _FUNNEL_DUCK,
        "source_ngram_overlap": _SOURCE_OVERLAP_DUCK,
        "doc_passage_chunks": _passage_chunks_duck(),
        "corpus_zipf_fit": _ZIPF_DUCK,
        "kg_entity_ktruss": _ktruss_duck(),
        "doc_winnow_fps": _winnow_fps_duck(),
        "winnow_match_pairs": _winnow_pairs_duck(),
        "source_unimax_weights": _unimax_duck(),
        "doc_bigram_lm": _bigram_lm_duck(),
        "kg_entity_kcore": _kcore_duck(),
        "embedding_semdedup": _semdedup_duck(),
        "lr_quality_weights": _lr_weights_duck(_LR_ITERS, _LR_BUCKETS, _LR_RATE),
        "doc_lr_scores": _lr_scores_duck(_LR_ITERS, _LR_BUCKETS, _LR_RATE),
        "lr_calibration": f"""
          WITH sc AS MATERIALIZED ({_lr_scores_duck(_LR_ITERS, _LR_BUCKETS, _LR_RATE)}),
          lab AS (SELECT doc_id,
                         CASE WHEN source = (SELECT min(source) FROM documents)
                              THEN 1 ELSE 0 END AS label
                  FROM documents),
          j AS (SELECT s.doc_id, s.score, l.label
                FROM sc s JOIN lab l USING (doc_id) WHERE s.score IS NOT NULL),
          agg AS (SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bin,
                         CAST(count(*) AS BIGINT) AS n_docs,
                         CAST(sum(label) AS BIGINT) AS n_pos,
                         CAST(sum(CAST(floor(score * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sm
                  FROM j GROUP BY 1)
          SELECT bin, n_docs, n_pos,
                 (sm // n_docs) / 1e6 AS mean_score,
                 n_pos / CAST(n_docs AS DOUBLE) AS pos_rate
          FROM agg
        """,
        "dsir_log_weights": """
          WITH toks AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
            FROM documents
          ),
          feats AS (
            SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS f FROM documents
            UNION ALL
            SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS f
            FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM toks)
          ),
          fb AS (SELECT doc_id, ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS b FROM feats),
          tgt_ids AS (SELECT doc_id FROM documents
                      WHERE source = (SELECT min(source) FROM documents)),
          tc AS (SELECT b, count(*) AS c FROM fb JOIN tgt_ids USING (doc_id) GROUP BY b),
          rc AS (SELECT b, count(*) AS c FROM fb GROUP BY b),
          tN AS (SELECT sum(c) AS N FROM tc), rN AS (SELECT sum(c) AS N FROM rc),
          db AS (SELECT doc_id, b, count(*) AS dc FROM fb GROUP BY doc_id, b),
          scored AS (
            -- ratio accumulated as INTEGER nano-units: exact,
            -- summation-order-independent (mirrors dsir_weights)
            SELECT db.doc_id, sum(dc) AS n_features,
                   sum(dc * CAST(floor((ln((coalesce(tc.c, 0) + 0.5) / (tN.N + 0.5 * 4096))
                                    - ln((rc.c + 0.5) / (rN.N + 0.5 * 4096))) * 1e9 + 0.5) AS BIGINT)) AS lw_nano
            FROM db LEFT JOIN tc USING (b) JOIN rc USING (b) CROSS JOIN tN CROSS JOIN rN
            GROUP BY db.doc_id
          )
          SELECT d.doc_id, CAST(coalesce(s.n_features, 0) AS BIGINT) AS n_features,
                 floor(s.lw_nano / 1e9 * 1e6 + 0.5) / 1e6 AS log_weight,
                 floor(s.lw_nano / 1e9 / s.n_features * 1e6 + 0.5) / 1e6 AS log_weight_per_feat
          FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "exact_substr_spans": _substr_spans_duck(
            _SUBSTR_K, _SUBSTR_MINLEN, _SUBSTR_CAP
        ),
        "doc_dup_coverage": _dup_coverage_duck(
            _SUBSTR_K, _SUBSTR_MINLEN, _SUBSTR_CAP
        ),
        "bpe_merges": _bpe_merges_duck(_BPE_N_MERGES),
        "bpe_token_counts": _bpe_token_counts_duck(_BPE_N_MERGES),
        "training_corpus_curation": """
          WITH wrapped AS MATERIALIZED (
            SELECT doc_id,
                   'HOME | ABOUT | CONTACT' || chr(10) ||
                   (text
                    || CASE WHEN doc_id % 7 = 0
                       THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
                    || CASE WHEN doc_id % 11 = 0
                       THEN ' call +1 555-01' || doc_id || ' today' ELSE '' END)
                   || chr(10) || 'COPYRIGHT 2025 EXAMPLE CORP'
                   || chr(10) || 'SOURCE: ' || source AS text
            FROM documents
          ),
          lines AS (
            SELECT doc_id, idx, para FROM (
              SELECT doc_id,
                     generate_subscripts(string_split(text, chr(10)), 1) AS idx,
                     unnest(string_split(text, chr(10))) AS para
              FROM wrapped
            ) WHERE para <> ''
          ),
          ranked AS (
            SELECT doc_id, idx, para,
                   row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
            FROM lines
          ),
          kept_l AS (SELECT doc_id, idx, para FROM ranked WHERE rn = 1),
          tot AS (SELECT doc_id, count(*) AS n_paragraphs FROM lines GROUP BY doc_id),
          reb AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS text,
                         count(*) AS n_kept
                  FROM kept_l GROUP BY doc_id),
          pd AS MATERIALIZED (
            SELECT d.doc_id, coalesce(reb.text, '') AS text,
                   CAST(coalesce(tot.n_paragraphs, 0) - coalesce(reb.n_kept, 0) AS BIGINT)
                     AS n_removed
            FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)
          ),
          s1 AS (
            SELECT doc_id, n_removed,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS n_emails,
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
            FROM pd
          ),
          sc AS MATERIALIZED (
            SELECT doc_id, n_removed,
                   CAST(n_emails AS INT) AS n_emails,
                   CAST(len(regexp_extract_all(t1, '[+]?[0-9][0-9 -]{7,}[0-9]')) AS INT)
                     AS n_phones,
                   regexp_replace(t1, '[+]?[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g')
                     AS scrubbed
            FROM s1
          ),
          t5 AS MATERIALIZED (
            SELECT doc_id,
                   list_filter(string_split_regex(scrubbed, '\\s+'), x -> x <> '') AS tk,
                   list_filter(string_split(scrubbed, chr(10)), x -> x <> '') AS lns
            FROM sc
          ),
          g5 AS (SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS gram
                 FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM t5)),
          bg AS (
            SELECT DISTINCT array_to_string(btk[i:i+4], ' ') AS gram FROM (
              SELECT btk, unnest(range(1, len(btk) - 3)) AS i FROM (
                SELECT list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS btk
                FROM documents WHERE doc_id % 50 = 0))
          ),
          hits AS (SELECT DISTINCT g5.doc_id FROM g5 JOIN bg USING (gram)),
          g2 AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS gram
                 FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM t5)),
          gc AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
          gm AS (SELECT doc_id, max(c) AS top_c FROM gc GROUP BY 1),
          qual AS (
            SELECT doc_id,
                   len(list_filter(string_split(scrubbed, ' '), t -> t <> '')) AS n_tokens_sp,
                   round(length(regexp_replace(scrubbed, '[^A-Za-z]', '', 'g'))
                         / greatest(length(scrubbed), 1), 6) AS alpha_ratio,
                   round(len(list_filter(list_filter(string_split(lower(scrubbed), ' '),
                             t -> t <> ''),
                             t -> list_contains(['the','a','an','is','of','and','to','in','that','it'], t)))
                         / greatest(len(list_filter(string_split(scrubbed, ' '), t -> t <> '')), 1), 6)
                     AS stopword_ratio,
                   round((length(scrubbed)
                          - length(regexp_replace(scrubbed, '[^ ]', '', 'g')))
                         / greatest(len(list_filter(string_split(scrubbed, ' '), t -> t <> '')), 1), 6)
                     AS mean_token_len
            FROM sc
          ),
          scored AS (
            SELECT sc.doc_id, md5(sc.scrubbed) AS text_md5, sc.n_removed,
                   sc.n_emails, sc.n_phones,
                   (h.doc_id IS NOT NULL) AS contaminated,
                   round(coalesce(1 - len(list_distinct(t5.lns))
                         / nullif(CAST(len(t5.lns) AS DOUBLE), 0), 0), 6) AS dup_line_frac,
                   round(gm.top_c * 2 / nullif(CAST(len(t5.tk) AS DOUBLE), 0), 6)
                     AS top_ngram_frac,
                   floor((q.alpha_ratio * 0.5 + q.stopword_ratio * 0.3
                         + (CASE WHEN q.mean_token_len BETWEEN 3 AND 10
                            THEN 0.2 ELSE 0.0 END)) * 1e6 + 0.5) / 1e6 AS quality,
                   q.n_tokens_sp
            FROM sc
            JOIN t5 USING (doc_id)
            JOIN qual q USING (doc_id)
            LEFT JOIN gm USING (doc_id)
            LEFT JOIN hits h USING (doc_id)
          )
          SELECT doc_id, text_md5, n_removed, n_emails, n_phones, contaminated,
                 dup_line_frac, top_ngram_frac, quality,
                 (quality >= 0.6 AND NOT contaminated AND dup_line_frac <= 0.5
                  AND coalesce(top_ngram_frac <= 0.5, TRUE)
                  AND n_tokens_sp > 0) AS kept
          FROM scored
        """,
        "doc_paragraph_dedup": """
          WITH base AS (
            SELECT doc_id,
                   'HOME | ABOUT | CONTACT' || chr(10) || text || chr(10) ||
                   'COPYRIGHT 2025 EXAMPLE CORP' || chr(10) || 'SOURCE: ' || source AS text
            FROM documents
          ),
          lines AS (
            SELECT doc_id, idx, para FROM (
              SELECT doc_id,
                     generate_subscripts(string_split(text, chr(10)), 1) AS idx,
                     unnest(string_split(text, chr(10))) AS para
              FROM base
            ) WHERE para <> ''
          ),
          ranked AS (
            SELECT doc_id, idx, para,
                   row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
            FROM lines
          ),
          kept AS (SELECT doc_id, idx, para FROM ranked WHERE rn = 1),
          tot AS (SELECT doc_id, count(*) AS n_paragraphs FROM lines GROUP BY doc_id),
          reb AS (SELECT doc_id, string_agg(para, chr(10) ORDER BY idx) AS text,
                         count(*) AS n_kept
                  FROM kept GROUP BY doc_id)
          SELECT d.doc_id,
                 coalesce(reb.text, '') AS text,
                 CAST(coalesce(tot.n_paragraphs, 0) AS BIGINT) AS n_paragraphs,
                 CAST(coalesce(tot.n_paragraphs, 0) - coalesce(reb.n_kept, 0) AS BIGINT)
                   AS n_removed
          FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)
        """,
        "doc_perplexity": """
          WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS term
            FROM documents
          ), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
          lm AS (SELECT term, sum(tf) AS c FROM tf GROUP BY term),
          corpus AS (SELECT sum(c) AS N, count(*) AS V FROM lm),
          scored AS (
            SELECT tf.doc_id,
                   -sum(tf.tf * ln((c + 0.5) / (N + 0.5 * V))) / sum(tf.tf) AS ce,
                   sum(tf.tf) AS n_tokens
            FROM tf JOIN lm USING (term) CROSS JOIN corpus
            GROUP BY tf.doc_id
          )
          SELECT d.doc_id,
                 CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
                 round(s.ce, 6) AS cross_entropy,
                 round(exp(s.ce), 6) AS ppl
          FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "kg_entity_triangles": f"""
          WITH raw AS MATERIALIZED (
            SELECT DISTINCT subj AS s, obj AS o FROM ({_KG_TRIPLES_DUCK})
          ), e AS MATERIALIZED (
            SELECT DISTINCT least(s, o) AS a, greatest(s, o) AS b
            FROM raw WHERE s <> o
          ), tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1 JOIN e e2 ON e1.b = e2.a
                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
          ), corners AS (
            SELECT unnest([x, y, z]) AS node FROM tri
          ), tc AS (
            SELECT node, count(*) AS triangles FROM corners GROUP BY node
          ), nodes AS (
            SELECT s AS node FROM raw UNION SELECT o FROM raw
          )
          SELECT node AS entity, CAST(coalesce(triangles, 0) AS BIGINT) AS triangles
          FROM nodes LEFT JOIN tc USING (node)
        """,
        "doc_length_quantiles": """
          SELECT lang,
                 round(quantile_cont(length(text), 0.5), 4) AS p50,
                 round(quantile_cont(length(text), 0.9), 4) AS p90,
                 round(quantile_cont(length(text), 0.99), 4) AS p99,
                 count(*) AS n
          FROM documents GROUP BY lang
        """,
        "source_sampling_weights": """
          WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
          t AS (SELECT sum(n_docs) AS N FROM c),
          s AS (
            SELECT source, n_docs,
                   round(n_docs / CAST(N AS DOUBLE), 6) AS natural_frac,
                   pow(n_docs / CAST(N AS DOUBLE), 0.3) AS p
            FROM c CROSS JOIN t
          )
          SELECT source, n_docs, natural_frac,
                 round(p / (SELECT sum(p) FROM s), 6) AS weight
          FROM s
        """,
        "doc_decontaminate": """
          WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
            FROM documents
          ), g AS (
            SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram
            FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i FROM t)
          ), bg AS (
            SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0
          ), hits AS (
            SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram)
          )
          SELECT d.doc_id,
                 CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS INT) AS contaminated
          FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        "doc_scrub_pii": """
          WITH d AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 7 = 0
                      THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
                   || CASE WHEN doc_id % 11 = 0
                      THEN ' call +1 555-01' || doc_id || ' today' ELSE '' END AS text
            FROM documents
          ), s AS (
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS n_emails,
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
            FROM d
          )
          SELECT doc_id,
                 CAST(n_emails AS INT) AS n_emails,
                 CAST(len(regexp_extract_all(t1, '[+]?[0-9][0-9 -]{7,}[0-9]')) AS INT)
                   AS n_phones,
                 md5(regexp_replace(t1, '[+]?[0-9][0-9 -]{7,}[0-9]', '<PHONE>', 'g'))
                   AS scrubbed_md5
          FROM s
        """,
        "doc_repetition_stats": """
          WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
                   list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
            FROM documents
          ), g AS (
            SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
            FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)
          ), gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
          gm AS (SELECT doc_id, max(c) AS top_c FROM gc GROUP BY 1)
          SELECT t.doc_id,
                 CAST(len(toks) AS INT) AS n_tokens,
                 CAST(len(lines) AS INT) AS n_lines,
                 round(coalesce(1 - len(list_distinct(lines))
                       / nullif(CAST(len(lines) AS DOUBLE), 0), 0), 6) AS dup_line_frac,
                 round(top_c * 2 / nullif(CAST(len(toks) AS DOUBLE), 0), 6) AS top_ngram_frac
          FROM t LEFT JOIN gm USING (doc_id)
        """,
        "source_mix": """
          SELECT source,
                 count(*) AS n_docs,
                 count(DISTINCT md5(text)) AS n_unique_texts,
                 round(1 - count(DISTINCT md5(text)) / CAST(count(*) AS DOUBLE), 6)
                   AS exact_dup_frac,
                 round(avg(length(text)), 4) AS avg_chars
          FROM documents GROUP BY source
        """,
        "doc_length_quantiles_approx": """
          WITH l AS (SELECT lang, length(text) AS len FROM documents),
          e AS (
            SELECT lang,
                   round(quantile_cont(len, 0.5), 4) AS p50,
                   round(quantile_cont(len, 0.9), 4) AS p90,
                   round(quantile_cont(len, 0.99), 4) AS p99,
                   count(*) AS n
            FROM l GROUP BY lang
          )
          SELECT lang, CAST(0.5 AS DOUBLE) AS q, p50 AS exact, n, TRUE AS rank_ok FROM e
          UNION ALL
          SELECT lang, CAST(0.9 AS DOUBLE), p90, n, TRUE FROM e
          UNION ALL
          SELECT lang, CAST(0.99 AS DOUBLE), p99, n, TRUE FROM e
        """,
        "doc_length_quantiles_twopass": """
          SELECT lang,
                 round(quantile_cont(length(text), 0.5), 4) AS p50,
                 round(quantile_cont(length(text), 0.9), 4) AS p90,
                 round(quantile_cont(length(text), 0.99), 4) AS p99,
                 count(*) AS n
          FROM documents GROUP BY lang
        """,
        "tfidf_top_terms": """
          WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
            FROM documents
          ), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
          corpus AS (SELECT count(*) AS n_docs FROM dl),
          scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                   round(tf.tf * (ln((n_docs + 1) / (df + 1)) + 1), 6) AS score
            FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus
          )
          SELECT doc_id, term, tf, df, score,
                 CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
          FROM scored QUALIFY rank <= 3
        """,
        "bm25_top_terms": """
          WITH toks AS (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
            FROM documents
          ), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
          dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
          corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
          scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                   round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                         * tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)), 6) AS score
            FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus
          )
          SELECT doc_id, term, tf, df, score,
                 CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
          FROM scored QUALIFY rank <= 3
        """,
        "events_asof_prev_click": """
          WITH clicks AS (
            SELECT user_id, ts, max(event_id) AS click_id FROM events
            WHERE event_type = 'click' GROUP BY user_id, ts
          )
          SELECT e.event_id, e.user_id, e.ts,
                 coalesce(c.click_id, -1) AS prev_click_id
          FROM events e ASOF LEFT JOIN clicks c
            ON e.user_id = c.user_id AND e.ts > c.ts
        """,
        "events_range_clicks": """
          SELECT e.event_id, count(c.event_id) AS n_clicks
          FROM events e LEFT JOIN events c
            ON c.user_id = e.user_id AND c.event_type = 'click'
           AND c.ts >= e.ts AND c.ts < e.ts + INTERVAL 1 HOUR
          WHERE e.event_type = 'error'
          GROUP BY e.event_id
        """,
        "exact_dups": f"""
          WITH docs AS ({_DOCS_DUPS_DUCK})
          SELECT md5(text) AS content_hash, count(*) AS n_dups, min(doc_id) AS keep_doc_id
          FROM docs GROUP BY md5(text) HAVING count(*) > 1
        """,
        "minhash_band_pairs": f"""
          WITH sig AS ({_minhash_duck(8)}),
          banded AS (
            SELECT doc_id, b AS band_id,
                   md5(array_to_string(minhash[b * 4 + 1 : b * 4 + 4], '_')) AS band_sig
            FROM sig, (SELECT unnest(range(0, 2)) AS b)
          )
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM banded a JOIN banded b USING (band_id, band_sig)
          WHERE a.doc_id < b.doc_id
        """,
        "simhash_signatures": _simhash_duck(),
        "near_dup_clusters": f"""
          WITH RECURSIVE docs AS ({_DOCS_DUPS_DUCK}),
          sig AS ({_minhash_duck(16, src="docs")}),
          banded AS (
            SELECT doc_id, b AS band_id,
                   md5(array_to_string(minhash[b * 8 + 1 : b * 8 + 8], '_')) AS band_sig
            FROM sig, (SELECT unnest(range(0, 2)) AS b)
          ),
          capped AS (
            SELECT doc_id, band_id, band_sig FROM (
              SELECT *, count(*) OVER (PARTITION BY band_id, band_sig) AS _bn FROM banded
            ) WHERE _bn <= 64
          ),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped a JOIN capped b USING (band_id, band_sig)
            WHERE a.doc_id < b.doc_id
          ),
          shg AS (
            SELECT doc_id, list_distinct([substr(lower(text), i, 3)
                   FOR i IN range(1, greatest(length(lower(text)) - 2, 1) + 1)]) AS s
            FROM docs
          ),
          verified AS (
            SELECT doc_a, doc_b
            FROM cand JOIN shg a ON a.doc_id = doc_a JOIN shg b ON b.doc_id = doc_b
            WHERE len(list_intersect(a.s, b.s))
                  / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
          ),
          sym AS (SELECT doc_a AS src, doc_b AS dst FROM verified
                  UNION SELECT doc_b, doc_a FROM verified),
          walk(node, comp) AS (
            SELECT src, src FROM sym
            UNION
            SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node
          )
          SELECT node AS doc_id, min(comp) AS cluster_id FROM walk GROUP BY node
        """,
        "training_data_prep": f"""
          WITH qbase AS (
            SELECT doc_id, text, n_chars,
                   round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                         / greatest(length(text), 1), 6) AS alpha_ratio,
                   round(len(list_filter(list_filter(string_split(lower(text), ' '), t -> t <> ''),
                             t -> list_contains(['the','a','an','is','of','and','to','in','that','it'], t)))
                         / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1), 6) AS stopword_ratio,
                   round((length(text) - length(regexp_replace(text, '[^ ]', '', 'g')))
                         / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1), 6) AS mean_token_len
            FROM documents
          ),
          keptq AS (
            SELECT doc_id, text, n_chars FROM qbase
            WHERE floor((alpha_ratio * 0.5 + stopword_ratio * 0.3
                        + (CASE WHEN mean_token_len BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END)) * 1e6 + 0.5) / 1e6 >= 0.62
          ),
          keep_ids AS (SELECT min(doc_id) AS doc_id FROM keptq GROUP BY md5(text)),
          kept AS (SELECT k.* FROM keptq k JOIN keep_ids USING (doc_id)),
          sig AS ({_minhash_duck(16, src="kept")}),
          banded AS (
            SELECT doc_id, b AS band_id,
                   md5(array_to_string(minhash[b * 8 + 1 : b * 8 + 8], '_')) AS band_sig
            FROM sig, (SELECT unnest(range(0, 2)) AS b)
          ),
          capped AS (
            SELECT doc_id, band_id, band_sig FROM (
              SELECT *, count(*) OVER (PARTITION BY band_id, band_sig) AS _bn FROM banded
            ) WHERE _bn <= 64
          ),
          cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped a JOIN capped b USING (band_id, band_sig)
            WHERE a.doc_id < b.doc_id
          ),
          shg AS (
            SELECT doc_id, list_distinct([substr(lower(text), i, 3)
                   FOR i IN range(1, greatest(length(lower(text)) - 2, 1) + 1)]) AS s
            FROM kept
          ),
          dropped AS (
            SELECT DISTINCT doc_b AS doc_id
            FROM cand JOIN shg a ON a.doc_id = doc_a JOIN shg b ON b.doc_id = doc_b
            WHERE len(list_intersect(a.s, b.s))
                  / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
          ),
          final AS (
            SELECT doc_id, n_chars,
                   CASE
                     WHEN ({_H60_DUCK.format(x="CAST(doc_id AS VARCHAR) || ''")}) % 1000000 < 50000 THEN 'test'
                     WHEN ({_H60_DUCK.format(x="CAST(doc_id AS VARCHAR) || ''")}) % 1000000 < 950000 THEN 'train'
                     ELSE 'val' END AS split
            FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
          )
          SELECT doc_id, split,
                 CAST(floor(coalesce(sum(n_chars) OVER (PARTITION BY split ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 20000) AS INT) AS shard,
                 n_chars
          FROM final
        """,
        "simhash_near_dups": f"""
          WITH sig AS ({_simhash_duck()}),
          chunks AS (
            SELECT doc_id, simhash, n.n AS chunk_id,
                   (simhash >> (CAST(n.n AS INT) * 15)) & 32767 AS chunk
            FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS n) n
          )
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          FROM chunks a JOIN chunks b ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
          WHERE a.doc_id < b.doc_id
            AND bit_count(xor(a.simhash, b.simhash)) <= 8
        """,
        "ngram_jaccard": f"""
          WITH docs AS ({_DOCS_DUPS_DUCK}),
          sig AS ({_minhash_duck(8, src="docs")}),
          banded AS (
            SELECT doc_id, b AS band_id,
                   md5(array_to_string(minhash[b * 4 + 1 : b * 4 + 4], '_')) AS band_sig
            FROM sig, (SELECT unnest(range(0, 2)) AS b)
          ),
          capped AS (
            SELECT doc_id, band_id, band_sig FROM (
              SELECT *, count(*) OVER (PARTITION BY band_id, band_sig) AS _bn FROM banded
            ) WHERE _bn <= 64
          ),
          pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM capped a JOIN capped b USING (band_id, band_sig)
            WHERE a.doc_id < b.doc_id
          ),
          sh AS (
            SELECT doc_id, list_distinct([substr(lower(text), i, 3)
                   FOR i IN range(1, greatest(length(lower(text)) - 2, 1) + 1)]) AS s
            FROM docs)
          SELECT doc_a, doc_b,
                 round(len(list_intersect(a.s, b.s))
                       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
          FROM pairs JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b
          WHERE len(list_intersect(a.s, b.s))
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
        """,
        "ann_cosine_topk": f"""
          WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
          scored AS (
            SELECT q_id, vec_id,
                   round({_COS_DUCK.format(a="q_emb", b="embedding")}, 6) AS cos_sim
            FROM embeddings, q)
          SELECT q_id, vec_id, rank FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
            FROM scored) WHERE rank <= 5
        """,
        "kg_upos_distribution": """
          SELECT upos, count(*) AS n FROM (
            SELECT CASE WHEN tok IN ('join','merge','sort','filter') THEN 'VERB'
                        WHEN tok = 'a' AND lang = 'en' THEN 'DET'
                        WHEN tok = 'a' THEN 'ADP'
                        WHEN tok = 'the' AND lang = 'en' THEN 'DET'
                        WHEN tok = 'o' AND lang <> 'en' THEN 'DET'
                        ELSE 'NOUN' END AS upos
            FROM (SELECT lang, unnest(
                    CASE WHEN lang = 'zh'
                         THEN [substr(replace(text, ' ', ''), i, 1)
                               FOR i IN range(1, length(replace(text, ' ', '')) + 1)]
                         ELSE list_filter(string_split(text, ' '), t -> t <> '')
                    END) AS tok
                  FROM documents)
          ) GROUP BY upos
        """,
        "kg_tag_distribution": """
          SELECT upos, xpos, feats, count(*) AS n FROM (
            SELECT CASE WHEN tok IN ('join','merge','sort','filter') THEN 'VERB'
                        WHEN tok = 'a' AND lang = 'en' THEN 'DET'
                        WHEN tok = 'a' THEN 'ADP'
                        WHEN tok = 'the' AND lang = 'en' THEN 'DET'
                        WHEN tok = 'o' AND lang <> 'en' THEN 'DET'
                        ELSE 'NOUN' END AS upos,
                   CASE WHEN tok IN ('join','merge','sort','filter') THEN 'VB'
                        WHEN tok = 'a' AND lang = 'en' THEN 'DT'
                        WHEN tok = 'a' THEN 'IN'
                        WHEN tok = 'the' AND lang = 'en' THEN 'DT'
                        WHEN tok = 'o' AND lang <> 'en' THEN 'DT'
                        ELSE 'NN' END AS xpos,
                   CASE WHEN tok IN ('join','merge','sort','filter') THEN 'VerbForm=Inf'
                        WHEN tok = 'a' AND lang = 'en' THEN 'Definite=Ind|PronType=Art'
                        WHEN tok = 'a' THEN '_'
                        WHEN tok = 'the' AND lang = 'en' THEN 'Definite=Def|PronType=Art'
                        WHEN tok = 'o' AND lang <> 'en' THEN 'Definite=Def|PronType=Art'
                        ELSE 'Number=Sing' END AS feats
            FROM (SELECT lang, unnest(
                    CASE WHEN lang = 'zh'
                         THEN [substr(replace(text, ' ', ''), i, 1)
                               FOR i IN range(1, length(replace(text, ' ', '')) + 1)]
                         ELSE list_filter(string_split(text, ' '), t -> t <> '')
                    END) AS tok
                  FROM documents)
          ) GROUP BY upos, xpos, feats
        """,
        "kg_deprel_distribution": f"""
          {_KG_LABELED_DUCK}
          SELECT deprel, count(*) AS n FROM labeled GROUP BY deprel
        """,
        "kg_head_distribution": f"""
          {_KG_LABELED_DUCK}
          SELECT deprel, CASE WHEN head_pos = 0 THEN 0 ELSE head_pos - pos END AS dist,
                 count(*) AS n
          FROM labeled GROUP BY 1, 2
        """,
        "kg_lemmas_transducer": f"""
          {_KG_LABELED_DUCK}
          SELECT 'https://ex.org/doc/' || doc_id AS url, pos AS word_id,
                 tok AS form, tok AS lemma, upos
          FROM labeled
        """,
        "kg_words": f"""
          {_KG_LABELED_DUCK}
          SELECT 'https://ex.org/doc/' || doc_id AS url, CAST(0 AS INT) AS sent_id,
                 pos AS word_id, tok AS form, tok AS lemma, upos,
                 CASE WHEN tok IN ('join','merge','sort','filter') THEN 'VB'
                      WHEN tok = 'a' AND lang = 'en' THEN 'DT'
                      WHEN tok = 'a' THEN 'IN'
                      WHEN tok = 'the' AND lang = 'en' THEN 'DT'
                      WHEN tok = 'o' AND lang <> 'en' THEN 'DT'
                      ELSE 'NN' END AS xpos,
                 CASE WHEN tok IN ('join','merge','sort','filter') THEN 'VerbForm=Inf'
                      WHEN tok = 'a' AND lang = 'en' THEN 'Definite=Ind|PronType=Art'
                      WHEN tok = 'a' THEN '_'
                      WHEN tok = 'the' AND lang = 'en' THEN 'Definite=Def|PronType=Art'
                      WHEN tok = 'o' AND lang <> 'en' THEN 'Definite=Def|PronType=Art'
                      ELSE 'Number=Sing' END AS feats,
                 head_pos AS head, deprel
          FROM labeled
        """,
        "kg_words_learned": _learned_tagger_duck(),
        "doc_wordgram_embeddings": _wordgram_duck(),
        "kg_heads_learned": f"""
          {_KG_LABELED_DUCK}
          SELECT 'https://ex.org/doc/' || doc_id AS url, pos AS word_id,
                 tok AS form, head_pos AS head, deprel
          FROM labeled
        """,
        "kg_triples": _KG_TRIPLES_DUCK,
        "kg_linked_canonical": f"""
          WITH RECURSIVE trip AS ({_KG_TRIPLES_DUCK}),
          toks AS (
            SELECT DISTINCT lower(tok) AS alias
            FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
                  FROM documents)
          ),
          -- linker argmax replay: the alt candidate (prior 0.9) wins for
          -- s/m-initial aliases, else the base candidate (prior 0.8)
          links AS (
            SELECT alias,
                   CASE WHEN regexp_matches(alias, '^[sm]')
                        THEN ({_H60_DUCK.format(x="alias || '#2'")}) % 9000 + 10000
                        ELSE ({_H60_DUCK.format(x="alias")}) % 9000 + 1000
                   END AS entity_id
            FROM toks
          ),
          linked AS (
            SELECT t.*, ls.entity_id AS subj_id, lo.entity_id AS obj_id
            FROM trip t
            LEFT JOIN links ls ON lower(t.subj) = ls.alias
            LEFT JOIN links lo ON lower(t.obj) = lo.alias
          ),
          edges_dir AS (
            SELECT lower(subj) AS src, lower(obj) AS dst FROM linked WHERE pattern = 'appos'
            UNION
            SELECT m AS src, 'eid:' || CAST(eid AS VARCHAR) AS dst
            FROM (SELECT lower(subj) AS m, subj_id AS eid FROM linked
                  UNION SELECT lower(obj) AS m, obj_id AS eid FROM linked)
            WHERE eid IS NOT NULL
          ),
          sym AS (SELECT src, dst FROM edges_dir UNION SELECT dst, src FROM edges_dir),
          walk(node, comp) AS (
            SELECT src, src FROM sym
            UNION
            SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node
          ),
          labels AS (SELECT node, min(comp) AS component FROM walk GROUP BY node),
          mention_labels AS (SELECT * FROM labels WHERE node NOT LIKE 'eid:%'),
          canon AS (
            SELECT ml.node AS mention, c.canonical
            FROM mention_labels ml
            JOIN (SELECT component, min(node) AS canonical
                  FROM mention_labels GROUP BY component) c USING (component)
          )
          SELECT l.url, l.sent_id, l.subj, l.pred, l.obj, l.pattern,
                 l.subj_id, l.obj_id,
                 coalesce(cs.canonical, lower(l.subj)) AS subj_canon,
                 coalesce(co.canonical, lower(l.obj)) AS obj_canon
          FROM linked l
          LEFT JOIN canon cs ON lower(l.subj) = cs.mention
          LEFT JOIN canon co ON lower(l.obj) = co.mention
        """,
        "kg_predicate_counts": f"""
          SELECT pred, count(*) AS n FROM ({_KG_TRIPLES_DUCK}) GROUP BY pred
        """,
        "doc_hash_embeddings": """
          SELECT doc_id,
                 round(avg(('0x' || substr(md5(lower(tok) || ':0'), 1, 15))::BIGINT / 1152921504606846976.0), 6) AS e0,
                 round(avg(('0x' || substr(md5(lower(tok) || ':1'), 1, 15))::BIGINT / 1152921504606846976.0), 6) AS e1,
                 round(avg(('0x' || substr(md5(lower(tok) || ':2'), 1, 15))::BIGINT / 1152921504606846976.0), 6) AS e2,
                 round(avg(('0x' || substr(md5(lower(tok) || ':3'), 1, 15))::BIGINT / 1152921504606846976.0), 6) AS e3
          FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
                FROM documents)
          GROUP BY doc_id
        """,
        "vocab_words": """
          SELECT word, count, row_number() OVER (ORDER BY count DESC, word) - 1 AS id
          FROM (SELECT word, count(*) AS count
                FROM (SELECT regexp_replace(lower(tok), '[0-9]', '0', 'g') AS word
                      FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
                            FROM documents))
                GROUP BY word HAVING count(*) >= 7)
        """,
        "embedding_near_dups": f"""
          WITH vecs AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0
          ),
          sig AS (SELECT vec_id, embedding, {_srp_sig_duck()} AS s FROM vecs),
          banded AS (
            SELECT vec_id, embedding, b AS band_id, substr(s, b * 4 + 1, 4) AS band_bits
            FROM sig, (SELECT unnest(range(0, 4)) AS b)
          ),
          pairs AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   a.embedding AS emb_a, b.embedding AS emb_b
            FROM banded a JOIN banded b USING (band_id, band_bits)
            WHERE a.vec_id < b.vec_id
          )
          SELECT vec_a, vec_b, round({_COS_DUCK.format(a="emb_a", b="emb_b")}, 6) AS cos_sim
          FROM pairs
          WHERE round({_COS_DUCK.format(a="emb_a", b="emb_b")}, 6) >= 0.99
        """,
        "embedding_pca_component": _pca_duck(),
        "wordpiece_merges": _wp_merges_duck(),
        "events_hourly_anomalies": """
          WITH hrs AS (SELECT date_trunc('hour', ts) AS hour,
                              CAST(count(*) AS BIGINT) AS n_events
                       FROM events GROUP BY 1),
          base AS (
            SELECT hour, n_events,
                   CAST(count(*) OVER w AS BIGINT) AS k,
                   CAST(sum(n_events) OVER w AS BIGINT) AS s1,
                   CAST(sum(n_events * n_events) OVER w AS BIGINT) AS s2
            FROM hrs
            WINDOW w AS (ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
          ),
          sc AS (
            SELECT hour, n_events, k, s1, s2,
                   s1 / CAST(k AS DOUBLE) AS m,
                   (s2 - s1 * s1 / CAST(k AS DOUBLE))
                     / nullif(CAST(k - 1 AS DOUBLE), 0.0) AS v
            FROM base
          )
          SELECT hour, n_events,
                 coalesce(k, 0) AS baseline_n,
                 floor(m * 1e6 + 0.5) / 1e6 AS baseline_mean,
                 floor(((n_events - m) / nullif(sqrt(v), 0.0)) * 1e6 + 0.5) / 1e6 AS z,
                 coalesce(abs(floor(((n_events - m) / nullif(sqrt(v), 0.0))
                                    * 1e6 + 0.5) / 1e6) >= 3.0, FALSE)
                   AS is_anomaly
          FROM sc
        """,
        "source_diversity": """
          WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS c
                       FROM documents GROUP BY source),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM per),
          terms AS (SELECT c, N,
                           -CAST(floor((c / CAST(N AS DOUBLE))
                                       * ln(c / CAST(N AS DOUBLE)) * 1e9 + 0.5)
                                 AS BIGINT) AS h_nano
                    FROM per CROSS JOIN tot),
          agg AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
                         CAST(sum(h_nano) AS BIGINT) AS H,
                         CAST(sum(c * c) AS BIGINT) AS sq,
                         CAST(max(c) AS BIGINT) AS mx,
                         CAST(max(N) AS BIGINT) AS N
                  FROM terms)
          SELECT n_groups,
                 floor((H / 1e9) * 1e6 + 0.5) / 1e6 AS shannon_entropy,
                 floor(exp(H / 1e9) * 1e6 + 0.5) / 1e6 AS effective_groups,
                 floor((1.0 - sq / (CAST(N AS DOUBLE) * CAST(N AS DOUBLE)))
                       * 1e6 + 0.5) / 1e6 AS simpson,
                 floor((mx / CAST(N AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS max_share
          FROM agg
        """,
        "media_curation": """
          WITH png AS (SELECT doc_id AS asset_id,
                              16 + doc_id % 49 AS width,
                              16 + (doc_id * 7) % 49 AS height
                       FROM documents
                       WHERE doc_id % 6 = 0 AND doc_id % 97 <> 0),
          grid AS (SELECT asset_id, width, height, j, i,
                          (j * height) // 8 AS sy, (i * width) // 8 AS sx
                   FROM png, range(0, 8) a(j), range(0, 8) b(i)),
          samp AS (SELECT asset_id, j, i,
                          (((sx * 3 + sy * 7) % 256)
                           + ((sx * 3 + sy * 7 + 11) % 256)
                           + ((sx * 3 + sy * 7 + 22) % 256)) // 3 AS g
                   FROM grid),
          m AS (SELECT asset_id, CAST(sum(g) AS BIGINT) // 64 AS mean
                FROM samp GROUP BY asset_id),
          ib AS (SELECT s.asset_id,
                        string_agg(CAST(CASE WHEN g > mean THEN 1 ELSE 0 END
                                        AS VARCHAR), '' ORDER BY j, i) AS hsh
                 FROM samp s JOIN m USING (asset_id) GROUP BY s.asset_id),
          img_drop AS (SELECT asset_id FROM (
                         SELECT asset_id, min(asset_id) OVER (PARTITION BY hsh) AS kp
                         FROM ib) WHERE asset_id <> kp),
          wav AS (SELECT doc_id AS asset_id, 1 + doc_id % 2 AS ch,
                         100 + doc_id % 900 AS n
                  FROM documents
                  WHERE doc_id % 3 = 1 AND doc_id % 97 <> 0),
          fr AS (SELECT asset_id, ch, n, unnest(range(0, n)) AS t FROM wav),
          mono AS (SELECT asset_id, n, t,
                          CASE WHEN ch = 1
                               THEN ((t * 257 + 19) % 2003) - 1001
                               ELSE (((t * 2) * 257 + 19) % 2003) - 1001
                                    + (((t * 2 + 1) * 257 + 19) % 2003) - 1001
                          END AS s
                   FROM fr),
          seg AS (SELECT asset_id, (t * 16) // n AS k,
                         CAST(sum(s * s) AS BIGINT) AS e
                  FROM mono GROUP BY 1, 2),
          ab AS (SELECT asset_id,
                        string_agg(CAST(CASE WHEN ne > e THEN 1 ELSE 0 END AS VARCHAR),
                                   '' ORDER BY k) AS fp
                 FROM (SELECT asset_id, k, e,
                              lead(e) OVER (PARTITION BY asset_id ORDER BY k) AS ne
                       FROM seg)
                 WHERE ne IS NOT NULL GROUP BY asset_id),
          aud_drop AS (SELECT asset_id FROM (
                         SELECT asset_id, min(asset_id) OVER (PARTITION BY fp) AS kp
                         FROM ab) WHERE asset_id <> kp),
          drops AS (SELECT asset_id FROM img_drop UNION ALL SELECT asset_id FROM aud_drop)
          SELECT d.doc_id AS asset_id,
                 ['image','audio','video'][CAST(d.doc_id % 3 AS INT) + 1] AS kind,
                 (d.doc_id % 97 <> 0 AND dr.asset_id IS NULL) AS kept,
                 CASE WHEN d.doc_id % 97 = 0 THEN 'malformed'
                      WHEN dr.asset_id IS NOT NULL THEN 'perceptual_dup'
                      ELSE 'kept' END AS reason
          FROM documents d LEFT JOIN drops dr ON d.doc_id = dr.asset_id
        """,
        "audio_fingerprints": """
          WITH wav AS (SELECT doc_id AS asset_id,
                              CAST(1 + doc_id % 2 AS INT) AS ch,
                              CAST(100 + doc_id % 900 AS INT) AS n
                       FROM documents WHERE doc_id % 3 = 1),
          fr AS (SELECT asset_id, ch, n, unnest(range(0, n)) AS t FROM wav),
          mono AS (SELECT asset_id, n, t,
                          CASE WHEN ch = 1
                               THEN ((t * 257 + 19) % 2003) - 1001
                               ELSE (((t * 2) * 257 + 19) % 2003) - 1001
                                    + (((t * 2 + 1) * 257 + 19) % 2003) - 1001
                          END AS m
                   FROM fr),
          seg AS (SELECT asset_id, (t * 16) // n AS k,
                         CAST(sum(m * m) AS BIGINT) AS e
                  FROM mono GROUP BY 1, 2),
          bits AS (SELECT asset_id, k, e,
                          lead(e) OVER (PARTITION BY asset_id ORDER BY k) AS ne
                   FROM seg),
          packed AS (
            SELECT asset_id,
                   string_agg(CAST(CASE WHEN ne > e THEN 1 ELSE 0 END AS VARCHAR),
                              '' ORDER BY k) AS fp_bits,
                   CAST(sum((CASE WHEN ne > e THEN 1 ELSE 0 END)::BIGINT
                            << (14 - k)) AS BIGINT) AS fp
            FROM bits WHERE ne IS NOT NULL GROUP BY asset_id)
          SELECT w.asset_id, n AS n_frames, ch AS channels, fp_bits, fp
          FROM wav w JOIN packed USING (asset_id)
        """,
        "image_ahashes": """
          WITH png AS (SELECT doc_id AS asset_id,
                              CAST(16 + doc_id % 49 AS INT) AS width,
                              CAST(16 + (doc_id * 7) % 49 AS INT) AS height
                       FROM documents WHERE doc_id % 6 = 0),
          grid AS (SELECT asset_id, width, height, j, i,
                          (j * height) // 8 AS sy, (i * width) // 8 AS sx
                   FROM png, range(0, 8) a(j), range(0, 8) b(i)),
          samp AS (SELECT asset_id, width, height, j, i,
                          (((sx * 3 + sy * 7) % 256)
                           + ((sx * 3 + sy * 7 + 11) % 256)
                           + ((sx * 3 + sy * 7 + 22) % 256)) // 3 AS g
                   FROM grid),
          m AS (SELECT asset_id, CAST(sum(g) AS BIGINT) // 64 AS mean
                FROM samp GROUP BY asset_id),
          bits AS (SELECT s.asset_id, width, height, j, i,
                          CASE WHEN g > mean THEN 1 ELSE 0 END AS b
                   FROM samp s JOIN m USING (asset_id))
          SELECT asset_id, width, height,
                 string_agg(CAST(b AS VARCHAR), '' ORDER BY j, i) AS ahash_bits,
                 CAST(sum(CASE WHEN j * 8 + i < 32
                               THEN b::BIGINT << (31 - (j * 8 + i)) ELSE 0 END)
                      AS BIGINT) AS ahash_hi,
                 CAST(sum(CASE WHEN j * 8 + i >= 32
                               THEN b::BIGINT << (63 - (j * 8 + i)) ELSE 0 END)
                      AS BIGINT) AS ahash_lo
          FROM bits GROUP BY asset_id, width, height
        """,
        "zorder_keys": f"""
          SELECT l_orderkey, l_partkey,
                 CAST({" + ".join(
                     f"((((l_orderkey % 65536) >> {i}) & 1) << {2 * i})"
                     f" + ((((l_partkey % 65536) >> {i}) & 1) << {2 * i + 1})"
                     for i in range(16)
                 )} AS BIGINT) AS zkey
          FROM lineitem WHERE l_orderkey <= 640
        """,
        "corpus_sppmi": """
          WITH tk AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
            FROM documents
          ),
          pos AS MATERIALIZED (
            SELECT doc_id, i, toks[i] AS t
            FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM tk)
          ),
          ordered AS (
            SELECT a.t AS w, b.t AS c
            FROM pos a JOIN pos b
              ON a.doc_id = b.doc_id AND b.i - a.i BETWEEN 1 AND 2
          ),
          sym AS (SELECT w, c FROM ordered UNION ALL SELECT c AS w, w AS c FROM ordered),
          pairs AS MATERIALIZED (SELECT w, c, count(*) AS n_cooc FROM sym GROUP BY 1, 2),
          wm AS (SELECT w, CAST(sum(n_cooc) AS BIGINT) AS nw FROM pairs GROUP BY w),
          cm AS (SELECT c, CAST(sum(n_cooc) AS BIGINT) AS nc FROM pairs GROUP BY c),
          tot AS (SELECT CAST(sum(n_cooc) AS BIGINT) AS N FROM pairs),
          scored AS (
            SELECT w, c, n_cooc,
                   greatest(CAST(floor((ln((CAST(n_cooc AS DOUBLE) * CAST(N AS DOUBLE))
                                           / (CAST(nw AS DOUBLE) * CAST(nc AS DOUBLE)))
                                        - ln(1.0)) * 1e9 + 0.5) AS BIGINT),
                            0) AS nano
            FROM pairs JOIN wm USING (w) JOIN cm USING (c) CROSS JOIN tot
            WHERE n_cooc >= 5
          )
          SELECT w AS word, c AS context, CAST(n_cooc AS BIGINT) AS n_cooc,
                 CAST(nano // 1000 AS BIGINT) / 1e6 AS sppmi
          FROM scored WHERE nano > 0
        """,
        "corpus_heaps_fit": """
          WITH toks AS (
            SELECT source AS g,
                   unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t
            FROM documents
          ),
          per AS (SELECT g, CAST(sum(c) AS BIGINT) AS N, count(*) AS V
                  FROM (SELECT g, t, count(*) AS c FROM toks GROUP BY 1, 2)
                  GROUP BY g),
          pts AS (SELECT CAST(floor(ln(CAST(N AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
                         CAST(floor(ln(CAST(V AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y
                  FROM per),
          s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x * y) AS BIGINT) AS sxy,
                       CAST(sum(x * x) AS BIGINT) AS sxx,
                       CAST(sum(y * y) AS BIGINT) AS syy
                FROM pts)
          SELECT n AS n_points,
                 floor((CAST(n * sxy - sx * sy AS DOUBLE)
                        / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0)) * 1e6 + 0.5)
                   / 1e6 AS beta,
                 floor(((CAST(sy AS DOUBLE)
                         - (CAST(n * sxy - sx * sy AS DOUBLE)
                            / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0))
                           * CAST(sx AS DOUBLE))
                        / (CAST(n AS DOUBLE) * 1e6)) * 1e6 + 0.5) / 1e6 AS log_k,
                 floor((CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
                        / (nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0.0)
                           * nullif(CAST(n * syy - sy * sy AS DOUBLE), 0.0)))
                       * 1e6 + 0.5) / 1e6 AS r2
          FROM s
        """,
        "doc_kneser_ney": """
          WITH tk AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
            FROM documents
          ),
          db AS (
            SELECT doc_id, prev, cur, count(*) AS tf FROM (
              SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
              FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tk)
            ) GROUP BY 1, 2, 3
          ),
          big AS MATERIALIZED (
            SELECT prev, cur, CAST(sum(tf) AS BIGINT) AS cb FROM db GROUP BY 1, 2
          ),
          lft AS (SELECT prev, CAST(sum(cb) AS BIGINT) AS cl,
                         count(*) AS n1l FROM big GROUP BY prev),
          rgt AS (SELECT cur, count(*) AS n1r FROM big GROUP BY cur),
          tot AS (SELECT count(*) AS T FROM big),
          scored AS (
            SELECT db.doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
                   CAST(-sum(tf * CAST(floor(ln((greatest(CAST(cb AS DOUBLE) - 0.75, 0)
                            + 0.75 * CAST(n1l AS DOUBLE)
                              * (CAST(n1r AS DOUBLE) / CAST(T AS DOUBLE)))
                          / CAST(cl AS DOUBLE)) * 1e9 + 0.5) AS BIGINT))
                     AS BIGINT) AS num
            FROM db JOIN big USING (prev, cur) JOIN lft USING (prev)
                 JOIN rgt USING (cur) CROSS JOIN tot
            GROUP BY db.doc_id
          ),
          ce AS (SELECT doc_id, n_bigrams, num // n_bigrams AS ce_nano FROM scored)
          SELECT d.doc_id,
                 CAST(coalesce(ce.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                 CAST(ce_nano // 1000 AS BIGINT) / 1e6 AS kn_cross_entropy,
                 floor(exp(ce_nano / 1e9) * 1e6 + 0.5) / 1e6 AS kn_ppl
          FROM documents d LEFT JOIN ce USING (doc_id)
        """,
        "unigram_segmentations": _unigram_duck("seg"),
        "unigram_em_counts": _unigram_duck("em"),
        "embedding_int8_quant": """
          WITH base AS (
            SELECT vec_id, embedding,
                   CAST(list_min(embedding) AS DOUBLE) AS zero_point,
                   (CAST(list_max(embedding) AS DOUBLE)
                    - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
            FROM embeddings
          ),
          q AS (
            SELECT vec_id, embedding, zero_point, scale,
                   [CAST(least(greatest(coalesce(
                        floor((CAST(x AS DOUBLE) - zero_point)
                              / nullif(scale, 0.0) + 0.5), 0), 0), 255) AS INT)
                    FOR x IN embedding] AS qvec
            FROM base
          )
          SELECT vec_id, zero_point, scale,
                 array_to_string(qvec, ',') AS qcodes,
                 floor(list_max([abs(CAST(embedding[i] AS DOUBLE)
                                     - (qvec[i] * scale + zero_point))
                                 FOR i IN range(1, len(embedding) + 1)]) * 1e6 + 0.5)
                   / 1e6 AS max_abs_err
          FROM q
        """,
        "corpus_pmi_collocations": """
          WITH tk AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
            FROM documents
          ),
          uni AS (SELECT t, count(*) AS c
                  FROM (SELECT unnest(toks) AS t FROM tk) GROUP BY t),
          bi_all AS (
            SELECT term_a, term_b, count(*) AS n_pair FROM (
              SELECT toks[i] AS term_a, toks[i + 1] AS term_b
              FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM tk)
            ) GROUP BY 1, 2
          ),
          scal AS (SELECT (SELECT sum(c) FROM uni) AS N,
                          (SELECT sum(n_pair) FROM bi_all) AS B),
          scored AS (
            SELECT term_a, term_b, n_pair,
                   CAST(floor(ln((n_pair / B) / ((ca / N) * (cb / N))) * 1e9 + 0.5)
                        AS BIGINT) AS pmi_nano
            FROM bi_all
            JOIN (SELECT t AS term_a, c AS ca FROM uni) USING (term_a)
            JOIN (SELECT t AS term_b, c AS cb FROM uni) USING (term_b)
            CROSS JOIN scal
            WHERE n_pair >= 5
          )
          SELECT term_a, term_b, CAST(n_pair AS BIGINT) AS n_pair,
                 CAST(pmi_nano // 1000 AS BIGINT) / 1e6 AS pmi, rank
          FROM (SELECT *, row_number() OVER (ORDER BY pmi_nano DESC, term_a, term_b)
                            AS rank
                FROM scored)
          WHERE rank <= 50
        """,
        "hard_negatives": f"""
          WITH a AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
                     FROM embeddings WHERE vec_id < 8),
          scored AS (
            SELECT q_id, vec_id,
                   round({_COS_DUCK.format(a="q_emb", b="embedding")}, 6) AS cos_sim
            FROM embeddings, a WHERE label <> q_label)
          SELECT q_id, vec_id, rank FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
            FROM scored) WHERE rank <= 5
        """,
        "ann_recall_ivf": f"""
          WITH cents AS (
            SELECT row_number() OVER (ORDER BY _h) AS centroid_id, embedding AS c_emb
            FROM (
              SELECT vec_id, embedding,
                     CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS VARCHAR) AS _h
              FROM embeddings ORDER BY _h LIMIT 16
            )
          ),
          assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
              SELECT v.vec_id, v.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY v.vec_id
                                        ORDER BY {_COS_DUCK.format(a="c_emb", b="v.embedding")} DESC,
                                                 c.centroid_id) AS rn
              FROM embeddings v, cents c
            ) WHERE rn = 1
          ),
          q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
          probes AS (
            SELECT q_id, q_emb, centroid_id FROM (
              SELECT q.q_id, q.q_emb, c.centroid_id,
                     row_number() OVER (PARTITION BY q.q_id
                                        ORDER BY {_COS_DUCK.format(a="c_emb", b="q.q_emb")} DESC,
                                                 c.centroid_id) AS rn
              FROM q, cents c
            ) WHERE rn <= 4
          ),
          ivf AS (
            SELECT q_id, vec_id FROM (
              SELECT q_id, vec_id,
                     row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
              FROM (SELECT p.q_id, a.vec_id,
                           round({_COS_DUCK.format(a="p.q_emb", b="a.embedding")}, 6) AS cos_sim
                    FROM assigned a JOIN probes p USING (centroid_id))
            ) WHERE rank <= 5
          ),
          ex AS (
            SELECT q_id, vec_id FROM (
              SELECT q_id, vec_id,
                     row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
              FROM (SELECT q_id, vec_id,
                           round({_COS_DUCK.format(a="q_emb", b="embedding")}, 6) AS cos_sim
                    FROM embeddings, q)
            ) WHERE rank <= 5
          ),
          hits AS (SELECT q_id, count(*) AS n_hits
                   FROM ex JOIN ivf USING (q_id, vec_id) GROUP BY q_id)
          SELECT q.q_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                 coalesce(h.n_hits, 0) / 5.0 AS recall
          FROM q LEFT JOIN hits h USING (q_id)
        """,
        "ann_ivf_topk": f"""
          WITH cents AS (
            SELECT row_number() OVER (ORDER BY _h) AS centroid_id, embedding AS c_emb
            FROM (
              SELECT vec_id, embedding,
                     CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS VARCHAR) AS _h
              FROM embeddings ORDER BY _h LIMIT 16
            )
          ),
          assigned AS (
            SELECT vec_id, embedding, centroid_id FROM (
              SELECT v.vec_id, v.embedding, c.centroid_id,
                     row_number() OVER (PARTITION BY v.vec_id
                                        ORDER BY {_COS_DUCK.format(a="c_emb", b="v.embedding")} DESC,
                                                 c.centroid_id) AS rn
              FROM embeddings v, cents c
            ) WHERE rn = 1
          ),
          q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 8),
          probes AS (
            SELECT q_id, q_emb, centroid_id FROM (
              SELECT q.q_id, q.q_emb, c.centroid_id,
                     row_number() OVER (PARTITION BY q.q_id
                                        ORDER BY {_COS_DUCK.format(a="c_emb", b="q.q_emb")} DESC,
                                                 c.centroid_id) AS rn
              FROM q, cents c
            ) WHERE rn <= 4
          ),
          scored AS (
            SELECT p.q_id, a.vec_id,
                   round({_COS_DUCK.format(a="p.q_emb", b="a.embedding")}, 6) AS cos_sim
            FROM assigned a JOIN probes p USING (centroid_id)
          )
          SELECT q_id, vec_id, rank FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rank
            FROM scored
          ) WHERE rank <= 5
        """,
        "multimodal_features": """
          SELECT doc_id AS asset_id,
                 ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
                 CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                 md5(text) AS content_hash
          FROM documents
        """,
        "multimodal_decoded": """
          SELECT doc_id AS asset_id,
                 ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
                 CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END)
                      WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'mp4' END AS format,
                 CAST(CASE
                      WHEN doc_id % 3 = 0 AND doc_id % 2 = 0
                           THEN 68 + (16 + (doc_id * 7) % 49) * (1 + 3 * (16 + doc_id % 49))
                      WHEN doc_id % 3 = 0 THEN 55 + 64 + doc_id % 937
                      WHEN doc_id % 3 = 1 THEN 44 + (100 + doc_id % 900) * (1 + doc_id % 2) * 2
                      ELSE 144 + 32 + doc_id % 701 END AS INT) AS n_bytes,
                 CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + doc_id % 49 END AS INT) AS width,
                 CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + (doc_id * 7) % 49 END AS INT) AS height,
                 CAST(CASE WHEN doc_id % 3 = 0 THEN 8 WHEN doc_id % 3 = 1 THEN 16 END AS INT) AS bit_depth,
                 CAST(CASE WHEN doc_id % 3 = 0 THEN 3
                           WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2 END AS INT) AS channels,
                 CAST(CASE WHEN doc_id % 3 = 1
                           THEN [8000,16000,22050,44100][CAST(doc_id % 4 AS INT) + 1] END AS INT) AS sample_rate,
                 CAST(CASE WHEN doc_id % 3 = 1 THEN 100 + doc_id % 900 END AS BIGINT) AS n_samples,
                 CAST(CASE WHEN doc_id % 3 = 2 THEN 600 + (doc_id % 5) * 600 END AS BIGINT) AS timescale,
                 CAST(CASE WHEN doc_id % 3 = 2 THEN 500 * (1 + doc_id % 20) + doc_id % 7 END AS BIGINT) AS duration
          FROM documents
        """,
        "multimodal_transformed": """
          SELECT doc_id AS asset_id,
                 ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
                 CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END)
                      WHEN doc_id % 3 = 1 THEN 'wav' ELSE 'mp4' END AS format,
                 CAST(CASE
                      WHEN doc_id % 3 = 0 AND doc_id % 2 = 0
                           THEN 68 + CAST(floor((16 + (doc_id * 7) % 49) / 2) AS INT)
                                    * (1 + 3 * CAST(floor((16 + doc_id % 49) / 2) AS INT))
                      WHEN doc_id % 3 = 0 THEN 55 + 64 + doc_id % 937
                      WHEN doc_id % 3 = 1
                           THEN 44 + CAST(floor((100 + doc_id % 900 + 1) / 2) AS INT) * (1 + doc_id % 2) * 2
                      ELSE 144 + 32 + doc_id % 701 END AS INT) AS n_bytes,
                 CAST(CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN floor((16 + doc_id % 49) / 2)
                           WHEN doc_id % 3 = 0 THEN 16 + doc_id % 49 END AS INT) AS width,
                 CAST(CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN floor((16 + (doc_id * 7) % 49) / 2)
                           WHEN doc_id % 3 = 0 THEN 16 + (doc_id * 7) % 49 END AS INT) AS height,
                 CAST(CASE WHEN doc_id % 3 = 0 THEN 8 WHEN doc_id % 3 = 1 THEN 16 END AS INT) AS bit_depth,
                 CAST(CASE WHEN doc_id % 3 = 0 THEN 3
                           WHEN doc_id % 3 = 1 THEN 1 + doc_id % 2 END AS INT) AS channels,
                 CAST(CASE WHEN doc_id % 3 = 1
                           THEN [8000,16000,22050,44100][CAST(doc_id % 4 AS INT) + 1] // 2 END AS INT) AS sample_rate,
                 CAST(CASE WHEN doc_id % 3 = 1 THEN floor((100 + doc_id % 900 + 1) / 2) END AS BIGINT) AS n_samples,
                 CAST(CASE WHEN doc_id % 3 = 2 THEN 600 + (doc_id % 5) * 600 END AS BIGINT) AS timescale,
                 CAST(CASE WHEN doc_id % 3 = 2 THEN 500 * (1 + doc_id % 20) + doc_id % 7 END AS BIGINT) AS duration
          FROM documents
        """,
        "vocab_chars": """
          SELECT ch, count, row_number() OVER (ORDER BY count DESC, ch) - 1 AS id
          FROM (SELECT ch, count(*) AS count
                FROM (SELECT unnest([substr(lower(tok), i, 1) FOR i IN range(1, length(tok) + 1)]) AS ch
                      FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
                            FROM documents))
                GROUP BY ch HAVING count(*) >= 5 OR regexp_matches(ch, '^[0-9]$'))
        """,
        # Every query is oracled (38/38): the closed sf-documents
        # vocabulary makes even the full pipeline SQL-replayable —
        # _KG_TRIPLES_DUCK replays tagging/root/attachment/emission,
        # kg_linked_canonical adds linking argmax + a recursive-CTE
        # connected-components replay, ann_ivf_topk replays centroid pick +
        # assignment + probing, multimodal replays the md5 content kernel.
    }

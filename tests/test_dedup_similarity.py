"""Dedup + similarity operator tests with planted structure, plus
engine-portability checks against DuckDB for the md5-based hash math."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from nlp_cube_spark.operators import dedup as D, similarity as S


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),      # exact dup of 1
        (3, "the quick brown fox jumped over the lazy dog", "en"),     # near dup of 1
        (4, "completely different text about spark pipelines", "en"),
        (5, "el rapido zorro marron salta sobre el perro", "es"),
        (6, "the quick brown fox jumps over the lazy cat", "en"),      # near dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string").localCheckpoint()


def test_exact_duplicates(spark, docs):
    d = D.exact_duplicates(docs).collect()
    assert len(d) == 1 and d[0].n_dups == 2 and d[0].keep_doc_id == 1


def test_minhash_matches_duckdb(spark, docs):
    """Signature values identical in DuckDB (engine-portable hash math)."""
    sig = {r.doc_id: r.minhash for r in D.minhash_signature(docs, k=4).collect()}
    con = duckdb.connect()
    for j in range(4):
        q = f"""
        select doc_id, list_min(list_transform(sh, s ->
          ('0x' || substr(md5('{j}:' || s), 1, 15))::BIGINT)) as mh
        from (select doc_id, list_distinct([substr(lower(text), i, 3)
               for i in range(1, greatest(length(lower(text)) - 2, 1) + 1)]) as sh
              from (values {','.join(f"({r.doc_id}, '{r.text}')" for r in docs.collect())} ) t(doc_id, text))
        order by doc_id"""
        for doc_id, mh in con.sql(q).fetchall():
            assert sig[doc_id][j] == mh, (doc_id, j)


def test_lsh_finds_planted_near_dups(spark, docs):
    pairs = {(r.doc_a, r.doc_b) for r in D.lsh_candidate_pairs(docs, k=16, bands=8).collect()}
    assert (1, 2) in pairs  # exact dup always collides
    assert any(p in pairs for p in [(1, 3), (1, 6), (3, 6), (2, 3), (2, 6)])
    assert (4, 5) not in pairs


def test_ngram_jaccard(spark, docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in D.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0


def test_simhash_properties(spark, docs):
    sig = {r.doc_id: r.simhash for r in D.simhash64_agg(docs).collect()}
    assert sig[1] == sig[2]  # identical text -> identical signature
    nd = {(r.doc_a, r.doc_b): r.hamming for r in D.simhash_near_dups(docs, max_hamming=12).collect()}
    assert nd[(1, 2)] == 0
    # reported hammings are the true bit distances
    for (a, b), h in nd.items():
        assert bin(sig[a] ^ sig[b]).count("1") == h
    # pigeonhole guarantee: every pair within hamming<=3 is found
    ids = sorted(sig)
    for i in ids:
        for j in ids:
            if i < j and bin(sig[i] ^ sig[j]).count("1") <= 3:
                assert (i, j) in nd


def test_cosine_topk_exact(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    rows.append((4, [0.9, 0.1, 0.0, 0.0]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])], "q_id long, embedding array<float>")
    top = S.cosine_topk(vecs, q, k=2).orderBy("rank").collect()
    assert [t.vec_id for t in top] == [0, 4]
    assert top[0].cos_sim == 1.0


def test_cosine_matches_duckdb(spark):
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = emb.where("vec_id = 7").select(F.col("vec_id").alias("q_id"), "embedding")
    got = {(r.q_id, r.vec_id): r.cos_sim for r in S.cosine_topk(emb, q, k=5).collect()}
    con = duckdb.connect()
    want = con.sql(f"""
      with e as (select * from '{sf}/embeddings.parquet'),
      q as (select vec_id q_id, embedding q_emb from e where vec_id = 7)
      select q_id, vec_id, round(list_cosine_similarity(q_emb, embedding), 6) cos
      from e, q order by cos desc, vec_id limit 5
    """).fetchall()
    for q_id, vec_id, cos in want:
        assert (q_id, vec_id) in got
        assert abs(got[(q_id, vec_id)] - cos) < 1e-4


def test_ivf_recall_vs_exact(spark):
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").localCheckpoint()
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    exact = {(r.q_id, r.vec_id) for r in S.cosine_topk(emb, q, k=3).collect()}
    approx = {(r.q_id, r.vec_id) for r in S.ivf_topk(emb, q, k=3, n_centroids=8, nprobe=4).collect()}
    # self-match must always survive; overall recall >= 0.5 at nprobe=half
    for i in range(5):
        assert (i, i) in approx
    assert len(exact & approx) / len(exact) >= 0.5


def test_lsh_verify_equals_blocked_direct(spark, docs):
    """LSH -> jaccard_verify_pairs == all-pairs blocked Jaccard on planted
    dups (LSH at bands=8 recalls everything above the 0.5 threshold here)."""
    pairs = D.lsh_candidate_pairs(docs, k=16, bands=8)
    via_lsh = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.jaccard_verify_pairs(pairs, docs, threshold=0.5).collect()
    }
    direct = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.5, block_col=None).collect()
    }
    assert via_lsh == direct


@pytest.mark.parametrize("encoding", ["bitset", "int_array"])
def test_jaccard_verify_zero_threshold_equals_all_pairs(spark, monkeypatch, encoding):
    """At threshold 0 the one verify path (size bound, gram encoding,
    intersection) keeps exactly the all-pairs Jaccard rows of the
    candidate pairs, on both set encodings: docs sharing no gram verify
    at 0.0, and NULL text never verifies."""
    if encoding == "int_array":
        monkeypatch.setattr(D, "_BITSET_MAX_VOCAB", 0)
    texts = ["the quick brown fox", "the quick brown cat", "lorem ipsum dolor",
             "", "ab", None, None, "xyz", "the quick brown fox", "ipsum"]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    ids = range(len(texts))
    cand = [(a, b) for a in ids for b in ids if a < b and (a + b) % 3 != 0]
    pairs = spark.createDataFrame(cand, "doc_a long, doc_b long")
    got = {(r.doc_a, r.doc_b): r.jaccard for r in D.jaccard_verify_pairs(pairs, docs, threshold=0.0).collect()}
    direct = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.0, block_col=None).collect()
    }
    want = {p: j for p, j in direct.items() if p in set(cand)}
    assert got == want
    assert 0.0 in want.values() and 1.0 in want.values()
    assert not any(5 in p or 6 in p for p in want)


def test_lsh_hot_bucket_cap(spark):
    """K identical boilerplate docs: uncapped LSH emits K*(K-1)/2 pairs
    through one band_sig; the cap suppresses the blowup and
    oversized_band_buckets recovers the cluster linearly."""
    k_docs = 40
    rows = [(i, "identical boilerplate page body for every doc", "en") for i in range(k_docs)]
    rows += [(1000, "a genuinely unique document about distributed joins", "en")]
    boiler = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    uncapped = D.lsh_candidate_pairs(boiler, k=8, bands=2).count()
    assert uncapped == k_docs * (k_docs - 1) // 2
    capped = D.lsh_candidate_pairs(boiler, k=8, bands=2, max_bucket=10).count()
    assert capped == 0
    clusters = D.oversized_band_buckets(boiler, k=8, bands=2, max_bucket=10).collect()
    assert clusters and all(c.n_members == k_docs for c in clusters)
    assert sorted(clusters[0].member_ids) == list(range(k_docs))


def test_ivf_assign_no_window_sort(spark):
    """ivf_assign is a hash aggregate (max_by), not an n x C window sort."""
    rows = [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(30)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.deterministic_centroids(vecs, n_centroids=4)
    assigned = S.ivf_assign(vecs, cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    # the only Window allowed is the centroid-id one over <=C rows inside
    # deterministic_centroids; the n-vector argmax must be an aggregate
    assert "windowspecdefinition(vec_id" not in plan
    assert "max_by" in plan
    got = {r.vec_id: r.centroid_id for r in assigned.collect()}
    assert len(got) == 30 and all(1 <= c <= 4 for c in got.values())


def test_cosine_near_dups_finds_planted_clones(spark):
    """SRP-LSH blocking recalls exact clones (same bits in every band) and
    emits no random-pair false positives at threshold 0.99."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(64).astype(float).tolist()) for i in range(60)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    clones = vecs.where("vec_id % 20 = 0").withColumn("vec_id", F.col("vec_id") + 1000)
    got = {(r.vec_a, r.vec_b): r.cos_sim
           for r in S.cosine_near_dups(vecs.unionByName(clones), dim=64, threshold=0.99).collect()}
    assert set(got) == {(0, 1000), (20, 1020), (40, 1040)}
    assert all(abs(v - 1.0) < 1e-6 for v in got.values())


def _simhash_oracle(docs):
    """(doc_id, simhash) from the DuckDB oracle, `__spark_entry__._simhash_duck`,
    over `docs` registered as `documents`."""
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        [tuple(r) for r in docs.select("doc_id", "text").collect()], columns=["doc_id", "text"]
    ))
    return set(con.sql(E._simhash_duck()).fetchall())


def test_simhash_arrow_bit_identical(spark, docs):
    """Both SimHash kernels equal the DuckDB oracle on the fixture docs."""
    agg = {tuple(r) for r in D.simhash64_agg(docs).collect()}
    arrow = {(r.doc_id, r.simhash) for r in D.simhash64_arrow(docs).collect()}
    assert agg == arrow == _simhash_oracle(docs)


def test_simhash_auto_dispatch(spark, docs):
    """simhash_near_dups picks its kernel by input kind: a batch input
    takes the codegen'd `simhash64_agg` (no Arrow UDF in the plan). On the
    fixture docs repeated 100x (~900 tokens each, the long-document
    regime) both kernels still equal the DuckDB oracle, and the batch
    path finds the identical pair."""
    long_docs = docs.withColumn(
        "text", F.array_join(F.array_repeat(F.col("text"), 100), " ")
    ).localCheckpoint()
    nd = D.simhash_near_dups(long_docs, max_hamming=12)
    assert "MapInPandas" not in nd._jdf.queryExecution().analyzed().toString()
    assert {(r.doc_a, r.doc_b): r.hamming for r in nd.collect()}[(1, 2)] == 0
    agg = {tuple(r) for r in D.simhash64_agg(long_docs).collect()}
    arrow = {(r.doc_id, r.simhash) for r in D.simhash64_arrow(long_docs).collect()}
    assert agg == arrow == _simhash_oracle(long_docs)


@pytest.mark.parametrize("kernel", ["agg", "arrow", "streaming"])
def test_simhash_degenerate_text(spark, kernel, tmp_path):
    """NULL, empty and whitespace-only text hash to 0 on both kernels. On
    a stream, simhash_near_dups takes the Arrow kernel and builds its plan
    without firing a Spark job."""
    blank = spark.createDataFrame(
        [(1, None), (2, ""), (3, " "), (4, "    ")], "doc_id long, text string"
    )
    if kernel != "streaming":
        sig = D.simhash64_agg(blank) if kernel == "agg" else D.simhash64_arrow(blank).drop("text")
        assert {tuple(r) for r in sig.collect()} == {(i, 0) for i in range(1, 5)}
    else:
        src = str(tmp_path / "docs")
        blank.write.parquet(src)
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup())
        out = D.simhash_near_dups(spark.readStream.schema(blank.schema).parquet(src))
        assert set(tracker.getJobIdsForGroup()) - before == set()
        assert out.isStreaming
        assert "MapInPandas" in out._jdf.queryExecution().analyzed().toString()


def test_near_dup_clusters_transitive(spark):
    """Connected-components near-dup semantics: a chain A~B~C lands in ONE
    cluster keyed by the smallest id, and singletons don't appear."""
    base = ("the quick brown fox jumps over the lazy dog and then runs far away "
            "to the green hills beyond the river where tall trees grow") * 2
    rows = [
        (1, base, "en"),
        (2, base + " x", "en"),
        (3, base + " x y", "en"),
        (50, "completely different text about spark catalyst plans", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r.cluster_id for r in
           D.near_dup_clusters(docs, k=16, bands=2, threshold=0.9).collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    assert 50 not in got


def test_near_dup_clusters_13_digit_ids(spark):
    """Regression (round-4 ADVICE): Spark lpad TRUNCATES inputs longer than
    the pad width, so doc_ids >= 10^12 under the old 12-char pad collapsed
    distinct ids and merged unrelated docs. 19-char pad covers bigint."""
    base = ("the quick brown fox jumps over the lazy dog and then runs far away "
            "to the green hills beyond the river where tall trees grow") * 2
    other = ("entirely different content about catalyst optimizer rules and "
             "adaptive query execution strategies in distributed engines") * 2
    # Two ids sharing the same first 12 digits — a 12-char pad maps both to
    # the same node label and would weld their clusters together.
    a1, a2 = 5_000_000_000_001, 5_000_000_000_002
    b1, b2 = 5_000_000_000_013, 5_000_000_000_014
    rows = [(a1, base, "en"), (a2, base + " x", "en"),
            (b1, other, "en"), (b2, other + " y", "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r.cluster_id for r in
           D.near_dup_clusters(docs, k=16, bands=2, threshold=0.9).collect()}
    assert got == {a1: a1, a2: a1, b1: b1, b2: b1}


def test_kmeans_refine_improves_and_is_deterministic(spark):
    """Lloyd refinement must (a) keep the cell count, (b) not DECREASE
    the mean best-cosine of vectors to their assigned centroid vs the
    hash-seeded centroids (the Lloyd objective, cosine flavour), and
    (c) be bit-identical across reruns."""
    from pyspark.sql import functions as F

    from nlp_cube_spark.operators.similarity import (
        COS_EXPR,
        deterministic_centroids,
        ivf_assign,
        kmeans_refine,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def mean_best_cos(cents):
        cos = F.expr(COS_EXPR.format(a="c_emb", b="embedding"))
        scored = emb.join(F.broadcast(cents)).select(
            "vec_id", cos.alias("_c")
        ).groupBy("vec_id").agg(F.max("_c").alias("best"))
        return scored.agg(F.avg("best")).collect()[0][0]

    seed = deterministic_centroids(emb, 8)
    refined = kmeans_refine(emb, n_centroids=8, iters=2)
    assert refined.count() == 8
    before, after = mean_best_cos(seed.select("centroid_id", F.col("c_emb").cast("array<double>").alias("c_emb"))), mean_best_cos(refined)
    assert after >= before - 1e-9, (before, after)

    again = kmeans_refine(emb, n_centroids=8, iters=2)
    a = {(r.centroid_id, tuple(r.c_emb)) for r in refined.collect()}
    b = {(r.centroid_id, tuple(r.c_emb)) for r in again.collect()}
    assert a == b
    # refinement actually moved the centroids off the seed vectors
    s = {tuple(float(x) for x in r.c_emb) for r in seed.collect()}
    assert not any(tuple(c) in s for _, c in a)


def test_pq_encode_and_topk_shape(spark):
    """Product quantization: every vector gets exactly m codes in
    [1, ksub]; pq_topk returns dense ranks 1..k per query; and a query
    vector present in the corpus scores itself at distance == the sum of
    its own subspace quantization errors (self-consistency of ADC)."""
    from nlp_cube_spark.operators.similarity import pq_codebooks, pq_encode, pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    books = pq_codebooks(emb, m=4, ksub=8, iters=1)
    assert books.count() == 4 * 8
    codes = pq_encode(emb, books, m=4)
    assert codes.count() == n * 4
    agg = codes.groupBy("vec_id").count().where("count <> 4")
    assert agg.count() == 0
    rng = codes.selectExpr("min(code) AS lo", "max(code) AS hi").collect()[0]
    assert 1 <= rng.lo and rng.hi <= 8

    q = emb.where("vec_id < 3").selectExpr("vec_id AS q_id", "embedding")
    top = pq_topk(emb, q, k=5, m=4, ksub=8, iters=1)
    rows = top.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r.rank)
    assert set(by_q) == {0, 1, 2}
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())
    # determinism: a second independent run produces identical rows
    again = {tuple(r) for r in pq_topk(emb, q, k=5, m=4, ksub=8, iters=1).collect()}
    assert again == {tuple(r) for r in rows}
    # train-once reuse: searching with precomputed codebooks (and codes)
    # matches the inline-trained result exactly
    pre_books = {tuple(r) for r in pq_topk(emb, q, k=5, m=4, codebooks=books).collect()}
    assert pre_books == {tuple(r) for r in rows}
    pre_both = {
        tuple(r)
        for r in pq_topk(emb, q, k=5, m=4, codebooks=books, codes=codes).collect()
    }
    assert pre_both == {tuple(r) for r in rows}


def test_paragraph_dedup_boilerplate(spark):
    """Shared boilerplate survives only at its first corpus occurrence
    (winner = min (doc_id, idx)); unique paragraphs all survive in
    order; a doc made entirely of repeats dedupes to empty text."""
    from nlp_cube_spark.operators.dedup import paragraph_dedup

    nav, foot = "HOME | ABOUT", "(c) corp"
    docs = spark.createDataFrame(
        [
            (1, f"{nav}\nalpha body one\n\n{foot}"),
            (2, f"{nav}\nbeta body two\n{foot}"),
            (3, f"{nav}\n{foot}"),          # pure boilerplate -> empty
            (4, ""),                          # no paragraphs at all
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in paragraph_dedup(docs).collect()}
    assert got[1].text == f"{nav}\nalpha body one\n{foot}"  # empty line dropped
    assert got[1].n_paragraphs == 3 and got[1].n_removed == 0
    assert got[2].text == "beta body two"
    assert got[2].n_paragraphs == 3 and got[2].n_removed == 2
    assert got[3].text == "" and got[3].n_removed == 2
    assert got[4].text == "" and got[4].n_paragraphs == 0 and got[4].n_removed == 0


def test_pq_plan_no_cartesian_and_broadcast_dims(spark):
    """ADC scoring must join codes against BROADCAST distance tables and
    never fall back to a cartesian/nested-loop plan."""
    from nlp_cube_spark.operators.similarity import pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where("vec_id < 2").selectExpr("vec_id AS q_id", "embedding")
    plan = (
        pq_topk(emb, q, k=3, m=4, ksub=8, iters=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_semdedup_components_and_keeper(spark):
    """Planted semantic-dup structure, one cell (n_clusters=1) so the
    eps-graph semantics are exercised independent of hash seeding:
    {1,2,3} a transitive near-dup group, {4,5} exact clones, 6 and 7
    singletons. Exactly one keep per group = the (centroid_sim, id)
    argmin (the paper's least-prototypical rule; clone tie -> min id)."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0, 0.0]),   # cos(1,2) ~ 0.99995
        (3, [0.95, 0.05, 0.0, 0.0]),  # cos(1,3) ~ 0.9986 -> transitive with 2
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [0.0, 0.0, 1.0, 0.0]),    # exact clone of 4
        (6, [0.0, 0.0, -1.0, 0.0]),   # cos(4,6) = -1 -> singleton
        (7, [0.0, 1.0, 0.0, 0.0]),    # orthogonal -> singleton
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in S.semdedup(vecs, n_clusters=1, iters=1, eps=0.95).collect()}
    assert len(out) == 7
    assert {out[i].component for i in (1, 2, 3)} == {1}
    assert out[4].component == 4 and out[5].component == 4
    assert out[6].component == 6 and out[6].keep
    assert out[7].component == 7 and out[7].keep
    assert out[4].keep and not out[5].keep  # clone tie -> smaller id kept
    by_comp = {}
    for r in out.values():
        by_comp.setdefault(r.component, []).append(r)
    for members in by_comp.values():
        keeps = [m for m in members if m.keep]
        assert len(keeps) == 1
        want = min(members, key=lambda m: (m.centroid_sim, m.vec_id))
        assert keeps[0].vec_id == want.vec_id


def test_semdedup_no_cartesian(spark):
    """The only self-join is keyed on centroid_id: the plan must not
    contain a shuffle CartesianProduct (broadcast nested-loop against
    the C-row centroid dimension is the intended pattern)."""
    vecs = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(0, 7), i -> cast(hash(id, i) % 100 as float))").alias("embedding"),
    )
    plan = S.semdedup(vecs, n_clusters=4, iters=1)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_winnow_guarantee_and_small_docs(spark):
    """The winnowing guarantee: a shared substring of length >= k+w-1
    (here 8+4-1=11) always yields a shared fingerprint. A doc with
    fewer than w grams still selects exactly its single minimum; a doc
    shorter than k chars yields nothing."""
    shared = "xxsharedrunxx"  # 13 chars > 11
    docs = spark.createDataFrame(
        [
            (1, "aaa " + shared + " bbb ccc ddd"),
            (2, "totally other prefix " + shared),
            (3, "tiny doc!"),   # 9 chars -> 2 grams < w -> 1 fingerprint
            (4, "short"),       # < k chars -> no grams
        ],
        "doc_id long, text string",
    )
    fps = D.winnow_fingerprints(docs, k=8, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "guaranteed shared fingerprint missing"
    assert len(by_doc.get(3, set())) == 1
    assert 4 not in by_doc
    # positions are 1-based and within the gram range
    assert all(1 <= r.pos for r in fps)


def test_winnow_exact_dups_and_match_pairs(spark):
    """Identical docs produce identical fingerprint sets; the pair join
    surfaces them, and the hot-fp cap drops a fingerprint shared by
    every doc (boilerplate) without killing the true pair."""
    boiler = "the common navigation header text "
    docs = spark.createDataFrame(
        [
            (1, boiler + "unique first document body alpha beta"),
            (2, boiler + "unique first document body alpha beta"),
            (3, boiler + "completely different content gamma delta"),
            (4, boiler + "yet another unrelated page epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    s1 = {r.fp for r in D.winnow_fingerprints(docs.where("doc_id = 1")).collect()}
    s2 = {r.fp for r in D.winnow_fingerprints(docs.where("doc_id = 2")).collect()}
    assert s1 == s2 and s1
    pairs = {(r.doc_a, r.doc_b): r.n_shared for r in D.winnow_match_pairs(docs, max_bucket=3).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2


def test_containment_catches_subset_duplicate(spark):
    """Doc 2 is doc 1's text embedded in a much longer page: Jaccard is
    low (union dominated by the wrapper) but containment of 1-in-2 is
    1.0 — the asymmetric measure finds what the symmetric one misses."""
    short = "the quick brown fox jumps over the lazy dog"
    long_ = (
        "welcome to our exhaustive compendium of animal behaviour studies "
        + short
        + " further chapters examine migratory patterns, nocturnal habits,"
          " camouflage strategies and vocal communication across species"
    )
    docs = spark.createDataFrame(
        [(1, short), (2, long_), (3, "unrelated content here")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    out = {(r.doc_a, r.doc_b): r for r in D.containment_pairs(pairs, docs, threshold=0.8).collect()}
    assert (1, 2) in out and out[(1, 2)].containment_a_in_b == 1.0
    assert out[(1, 2)].containment_b_in_a < 0.8
    assert (1, 3) not in out
    # symmetric jaccard on the same pair stays below a dedup threshold
    j = D.jaccard_verify_pairs(pairs, docs, threshold=0.0).collect()
    jmap = {(r.doc_a, r.doc_b): r.jaccard for r in j}
    assert jmap[(1, 2)] < 0.5


def test_clustering_trajectory_partitioning_invariant(spark):
    """The r6-verdict flake surface, closed: kmeans_refine /
    pq_codebooks / semdedup accumulate Lloyd cell means as integer
    nano-units (similarity._nano_mean), making the training trajectory
    summation-order independent.  Certify by running each over the SAME
    corpus at three adversarial partitionings (1 / 3 / 17 partitions —
    different partial-agg groupings and merge orders) and asserting
    BIT-identical results, the same sweep discipline the LR/DSIR
    nano-unit trainers established."""
    from nlp_cube_spark.operators.similarity import (
        kmeans_refine,
        pq_codebooks,
        semdedup,
    )

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def runs(fn):
        outs = []
        for n in (1, 3, 17):
            outs.append(fn(base.repartition(n)))
        first = outs[0]
        for other in outs[1:]:
            assert other == first, "trajectory depends on partitioning"
        assert first  # non-empty result, the sweep actually saw data

    runs(lambda e: {
        (r.centroid_id, tuple(r.c_emb))
        for r in kmeans_refine(e, n_centroids=8, iters=2).collect()
    })
    runs(lambda e: {
        (r.sub_id, r.centroid_id, tuple(r.c_emb))
        for r in pq_codebooks(e, m=4, ksub=8, iters=1).collect()
    })
    runs(lambda e: {
        (r.vec_id, r.centroid_id, r.centroid_sim, r.component, r.keep)
        for r in semdedup(e, n_clusters=8, iters=2, eps=0.9).collect()
    })


def test_winnow_guarantee_planted_pair(spark):
    """winnow's guarantee — any shared substring of >= k + w - 1 chars
    yields a shared fingerprint — surfaces the planted duplicate pair,
    and every fingerprint fits the 40-bit md5 field of the packed
    (hash, pos) key."""
    shared = "the winnowing guarantee holds for any gram hash function"
    docs = spark.createDataFrame(
        [
            (1, "intro text " + shared + " trailing a"),
            (2, "other prefix " + shared + " closing b"),
            (3, "completely different content with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b) for r in D.winnow_match_pairs(docs).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs
    fps = D.winnow_fingerprints(docs)
    assert fps.where("fp < 0 or fp >= pow(2, 40)").count() == 0


def test_ann_recall_at_k_operator(spark):
    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").localCheckpoint()
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    out = {r.q_id: r for r in
           S.ann_recall_at_k(emb, q, k=3, n_centroids=8, nprobe=4).collect()}
    assert set(out) == set(range(5))
    # cross-check the numerator against the two rankings directly
    exact = {(r.q_id, r.vec_id) for r in S.cosine_topk(emb, q, k=3).collect()}
    approx = {(r.q_id, r.vec_id)
              for r in S.ivf_topk(emb, q, k=3, n_centroids=8, nprobe=4).collect()}
    for qid, r in out.items():
        want = len({p for p in exact if p[0] == qid}
                   & {p for p in approx if p[0] == qid})
        assert r.n_hits == want and r.recall == want / 3.0
        assert 0.0 <= r.recall <= 1.0
    # probing every cell makes IVF exact -> recall 1.0 everywhere
    full = S.ann_recall_at_k(emb, q, k=3, n_centroids=8, nprobe=8).collect()
    assert all(r.recall == 1.0 for r in full)


def test_hard_negative_topk(spark):
    # anchor is label 0; its nearest overall neighbor shares the label
    # and must be excluded, so the top negative is the next-closest
    # different-label vector.
    rows = [
        (0, [1.0, 0.0, 0.0], 0),   # anchor
        (1, [0.99, 0.14, 0.0], 0), # same label: excluded
        (2, [0.9, 0.43, 0.0], 1),  # hardest negative
        (3, [0.0, 1.0, 0.0], 1),
        (4, [-1.0, 0.0, 0.0], 2),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    anchors = vecs.where("vec_id = 0").select(
        F.col("vec_id").alias("q_id"), "embedding", "label"
    )
    out = S.hard_negative_topk(vecs, anchors, k=2).orderBy("rank").collect()
    assert [r.vec_id for r in out] == [2, 3]
    assert all(r.q_id == 0 for r in out)
    # no same-label vector leaks in even at k > candidates
    big = S.hard_negative_topk(vecs, anchors, k=10).collect()
    assert {r.vec_id for r in big} == {2, 3, 4}


def test_pca_top_component_planted_direction(spark):
    import numpy as np

    # rows = t * u + small orthogonal noise; dominant eigenvector == u
    rng = np.random.RandomState(7)
    u = np.zeros(8); u[0], u[1] = 3.0, 1.0
    u /= np.linalg.norm(u)
    X = np.outer(rng.uniform(-2, 2, 200), u)
    X[:, 2] += rng.uniform(-0.05, 0.05, 200)
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(200)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sorted(S.pca_top_component(vecs).collect())
    assert len(out) == 8
    v = np.array([r.loading for r in out])
    assert abs(np.sum(np.abs(v)) - 1.0) < 1e-3  # L1-normalized
    cos = abs(np.dot(v, u)) / (np.linalg.norm(v) * np.linalg.norm(u))
    assert cos > 0.999
    # numpy eigendecomposition cross-check on the same quantized data
    Xm = np.floor(X.astype(np.float32).astype(np.float64) * 1e3 + 0.5)
    Xc = Xm - np.trunc(Xm.sum(0) / len(Xm))
    evals, evecs = np.linalg.eigh(Xc.T @ Xc)
    top = evecs[:, -1]
    cos2 = abs(np.dot(v, top)) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos2 > 0.999


def test_pca_parallelism_invariant(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    outs = [
        sorted(S.pca_top_component(emb.repartition(p), n_iters=4).collect())
        for p in (1, 3, 17)
    ]
    assert outs[0] == outs[1] == outs[2]


def test_quantize_embeddings_int8(spark):
    rows = [
        (0, [0.0, 1.0, 0.5, 0.25]),
        (1, [-2.0, 2.0, 0.0, 1.0]),
        (2, [3.0, 3.0, 3.0, 3.0]),  # flat: scale 0
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in S.quantize_embeddings_int8(vecs).collect()}
    r0 = out[0]
    assert r0.zero_point == 0.0 and abs(r0.scale - 1 / 255) < 1e-12
    assert r0.qvec == [0, 255, 128, 64]  # 0.5 -> 127.5 rounds half-up
    assert all(0 <= v <= 255 for r in out.values() for v in r.qvec)
    # reconstruction error bounded by scale/2 (+ rounding slack)
    for r in out.values():
        assert r.max_abs_err <= r.scale / 2 + 1e-6
    flat = out[2]
    assert flat.scale == 0.0 and flat.qvec == [0, 0, 0, 0]
    assert flat.max_abs_err == 0.0
    # dequantization round-trips within the bound
    import numpy as np
    x = np.array(rows[1][1], dtype=np.float32).astype(float)
    deq = np.array(out[1].qvec) * out[1].scale + out[1].zero_point
    assert np.abs(x - deq).max() <= out[1].scale / 2 + 1e-9

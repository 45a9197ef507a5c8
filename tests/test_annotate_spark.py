"""Spark annotate-path tests: extraction invariant, segmentation parity,
tree validity, lemma purity, oracle P/R gate (SURVEY.md §5 layers 2-3)."""

import pytest
from pyspark.sql import Window, functions as F

from nlp_cube_spark import oracle
from nlp_cube_spark.datagen import gen_pages, pages_df
from nlp_cube_spark.operators import annotate as A

N_DOCS = 50
SEED = 1234


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, N_DOCS, seed=SEED).localCheckpoint()


@pytest.fixture(scope="module")
def words(spark, pages):
    return A.annotate(pages).localCheckpoint()


def test_extraction_byte_identical(spark, pages):
    ext = A.extract_text(pages)
    assert ext.where(F.col("extracted_text") != F.col("text")).count() == 0


def test_detokenize_invariant(spark, words, pages):
    """concat(form + space?) per doc == whitespace-normalized page text
    (reference objects.py:109-115 + tokenizer.py:225-229). An MWT group
    contributes its surface token once, spaced after its last word."""
    w = Window.partitionBy("url", "sent_id").orderBy("word_id")
    same_as_prev = (F.col("mwt_id") > 0) & (F.lag("mwt_id").over(w) == F.col("mwt_id"))
    same_as_next = (F.col("mwt_id") > 0) & (F.lead("mwt_id").over(w) == F.col("mwt_id"))
    pieces = words.select(
        "url",
        "sent_id",
        "word_id",
        F.concat(
            F.when(same_as_prev, "").otherwise(F.col("tok_form")),
            F.when(F.col("space_after") & ~F.coalesce(same_as_next, F.lit(False)), " ").otherwise(""),
        ).alias("piece"),
    )
    rebuilt = pieces.groupBy("url").agg(
        F.concat_ws(
            "", F.array_sort(F.collect_list(F.struct("sent_id", "word_id", "piece"))).getField("piece")
        ).alias("rebuilt")
    )
    joined = rebuilt.join(pages.select("url", "text"), "url")
    bad = joined.where(
        F.trim(F.col("rebuilt")) != F.trim(F.regexp_replace(F.regexp_replace("text", "[\\n\\r]", " "), " {2,}", " "))
    )
    assert bad.count() == 0, bad.limit(3).collect()


def test_every_parse_is_a_tree(spark, words):
    """heads in [0, n], single root per sentence, acyclic (evaluator
    invariants, reference conll18_ud_eval.py:186-209)."""
    n = words.groupBy("url", "sent_id").agg(
        F.max("word_id").alias("n"),
        F.sum(F.when(F.col("head") == 0, 1).otherwise(0)).alias("roots"),
        F.max("head").alias("maxh"),
        F.min("head").alias("minh"),
    )
    assert n.where((F.col("roots") != 1) | (F.col("maxh") > F.col("n")) | (F.col("minh") < 0)).count() == 0


def test_lemma_is_pure_function_of_key(spark, words):
    """(form, upos, lang) -> exactly one lemma (reference utils.py:112-115)."""
    dup = words.groupBy("form", "upos", "lang").agg(F.countDistinct("lemma").alias("k")).where("k > 1")
    assert dup.count() == 0


def test_words_match_oracle_exactly(spark, words):
    got = {
        (r.url, r.sent_id, r.word_id): (r.form, r.lemma, r.upos, r.head, r.deprel)
        for r in words.collect()
    }
    gold_rows, _ = oracle.run_oracle(gen_pages(N_DOCS, seed=SEED))
    gold = {
        (g["url"], g["sent_id"], g["word_id"]): (g["form"], g["lemma"], g["upos"], g["head"], g["deprel"])
        for g in gold_rows
    }
    assert set(got) == set(gold)
    diff = [k for k in gold if got[k] != gold[k]]
    assert len(diff) <= 0.02 * len(gold), diff[:5]


def test_triples_pr_gate(spark, pages):
    """North-rule gate: triple P/R >= 0.95 vs reference-shaped oracle."""
    trip = A.fused_triples(pages)
    sys_t = {(r.url, r.sent_id, r.subj, r.pred, r.obj) for r in trip.collect()}
    _, gold_rows = oracle.run_oracle(gen_pages(N_DOCS, seed=SEED))
    gold = {(g["url"], g["sent_id"], g["subj"], g["pred"], g["obj"]) for g in gold_rows}
    p, r, f = oracle.triple_prf(sys_t, gold)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_triple_variants_agree(spark, pages):
    """The production triple stage (the one build_graph/bench run) equals
    the independent oracle row for row, pattern and duplicates included."""
    fused = sorted(
        (r.url, r.sent_id, r.subj, r.pred, r.obj, r.pattern)
        for r in A.fused_triples(pages).collect()
    )
    _, gold_rows = oracle.run_oracle(gen_pages(N_DOCS, seed=SEED))
    gold = sorted(
        (g["url"], g["sent_id"], g["subj"], g["pred"], g["obj"], g["pattern"]) for g in gold_rows
    )
    assert fused == gold


def test_fused_equals_modular(spark, pages, words):
    """Single-stage fused kernel == the words table from A.annotate with the
    reference triple rules (oracle.extract_triples) applied per sentence:
    the inline rules in fused_triples see the same parse as the words path."""
    sents: dict = {}
    for r in words.collect():
        sents.setdefault((r.url, r.sent_id), []).append(
            oracle.OWord(
                r.word_id, r.form, r.lemma, r.upos, r.xpos, r.feats,
                r.head, r.deprel, r.space_after, r.mwt_id,
            )
        )
    modular = sorted(
        (url, sid, s, p, o, pat)
        for (url, sid), sent in sents.items()
        for s, p, o, pat in oracle.extract_triples(sorted(sent, key=lambda w: w.word_id))
    )
    fused = sorted(
        (r.url, r.sent_id, r.subj, r.pred, r.obj, r.pattern)
        for r in A.fused_triples(pages).collect()
    )
    assert fused == modular


def test_deterministic_across_parallelism(spark, pages):
    """Same triples at 2 vs 8 partitions (scaling-bench prerequisite)."""
    t1 = A.fused_triples(pages.repartition(2))
    t2 = A.fused_triples(pages.repartition(8))
    assert {tuple(r) for r in t1.collect()} == {tuple(r) for r in t2.collect()}


def test_reannotate_pretokenized_roundtrip(spark):
    """Entry point B: strip annotations from the engine's own words table,
    reannotate keeping the tokenization — output equals the original
    (tokenization is the only thing the caller brought)."""
    from nlp_cube_spark.datagen import pages_df
    from nlp_cube_spark.operators import annotate as A

    words = A.annotate(pages_df(spark, 20, seed=4242)).localCheckpoint()
    stripped = words.select(
        "url", "lang", "sent_id", "word_id", "mwt_id", "tok_form",
        F.lit("_").alias("form"), F.lit("_").alias("lemma"),
        F.lit("_").alias("upos"), F.lit("_").alias("xpos"),
        F.lit("_").alias("feats"), F.lit(0).alias("head"),
        F.lit("_").alias("deprel"), "space_after",
    )
    redone = A.reannotate(stripped)
    key = ["url", "sent_id", "word_id", "form", "lemma", "upos", "xpos",
           "feats", "head", "deprel", "mwt_id", "tok_form", "space_after"]
    a = {tuple(r) for r in words.select(*key).collect()}
    b = {tuple(r) for r in redone.select(*key).collect()}
    assert a == b


def test_cube_document_entrypoint(spark):
    """cube(document) — reference entry point B on the eager path."""
    from nlp_cube_spark.api import Cube

    cube = Cube()
    cube.load("en")
    d1 = cube("Alice joins Bob. Bob is a scientist.")
    d2 = cube(d1)  # re-annotate the Document, tokenization preserved
    assert repr(d1) == repr(d2)
    assert d2.sentences[0][1].upos == "VERB"


def test_fused_tags_matches_fused_words(spark):
    """fused_tags (parse-free projection) must agree with fused_words on
    every tag column — same segment/mwt/tag kernels, only the parse is
    skipped."""
    from nlp_cube_spark.datagen import pages_df
    from nlp_cube_spark.operators import annotate as A

    pages = pages_df(spark, 25, seed=31).localCheckpoint()
    cols = ["url", "lang", "sent_id", "word_id", "form", "upos", "xpos", "feats"]
    a = A.fused_tags(pages).select(*cols)
    b = A.fused_words(pages).select(*cols)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    p = A.fused_tags(pages)._jdf.queryExecution().executedPlan().toString()
    assert p.count("MapInPandas") == 1 and p.count("Exchange") == 0

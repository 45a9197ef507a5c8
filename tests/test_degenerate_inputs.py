"""Degenerate web inputs must flow through the whole pipeline, not throw
(found via runtime probing; see .claude/skills/verify/SKILL.md gotchas)."""

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import types as T

from nlp_cube_spark.datagen import aliases_df
from nlp_cube_spark.operators import annotate as A
from nlp_cube_spark.plans import pipeline as P

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def _weird(spark):
    rows = [
        ("u1", dt.datetime(2025, 1, 1), b"<html><body>no para</body></html>", "", "en"),
        ("u2", dt.datetime(2025, 1, 1), b"<html><p></p></html>", "   \n\r  ", "en"),
        ("u3", dt.datetime(2025, 1, 1), "<html><p>Ünïcodé tëst . Ça va ?</p></html>".encode(), "Ünïcodé tëst . Ça va ?", "fr"),
        ("u4", dt.datetime(2025, 1, 1), b"<html><p>one two three</p></html>", "one two three", "zz"),
        ("u5", dt.datetime(2025, 1, 1), None, None, "en"),
        ("u6", dt.datetime(2025, 1, 1), b"<html><p>a</p></html>", "a", "en"),
        ("u7", dt.datetime(2025, 1, 1), b"<html><p>....</p></html>", "....", "en"),
        ("u8", dt.datetime(2025, 1, 1), b"<html><p>" + b"x" * 20000 + b"</p></html>", "x" * 20000, "en"),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_degenerate_pages_through_full_pipeline(spark):
    out = tempfile.mkdtemp(prefix="kg_weird_")
    try:
        m = P.build_graph(spark, _weird(spark), aliases_df(spark), out, n_buckets=2, run_id=1)
        assert m["n_pages"] == 8
        tri = spark.read.parquet(f"{out}/triples")
        assert tri.count() >= 0  # no throw is the contract
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_degenerate_pages_extraction(spark):
    ext = A.extract_text(_weird(spark)).collect()
    got = {r.url: r.extracted_text for r in ext}
    assert got["u1"] == "" and got["u5"] == ""
    assert got["u3"] == "Ünïcodé tëst . Ça va ?"
    assert got["u8"] == "x" * 20000


def test_single_char_and_punct_only_docs(spark):
    words = A.annotate(_weird(spark).where("url in ('u6','u7')"))
    rows = words.collect()
    # "a" -> one word; "...." -> 4 punct tokens across 4 sentences
    assert {r.url for r in rows} == {"u6", "u7"}
    u7 = [r for r in rows if r.url == "u7"]
    assert all(r.upos == "PUNCT" for r in u7)


def test_sessionize_degenerate(spark):
    from nlp_cube_spark.operators.sessions import sessionize

    empty = spark.createDataFrame([], "user_id long, ts timestamp, value double")
    assert sessionize(empty).count() == 0
    one = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 2.0)], "user_id long, ts timestamp, value double"
    )
    rows = sessionize(one).collect()
    assert len(rows) == 1 and rows[0].n_events == 1


def test_cosine_near_dups_zero_vector_no_crash(spark):
    """Zero-norm embeddings produce NaN cosines; they must be filtered,
    never crash or surface as pairs."""
    from nlp_cube_spark.operators import similarity as S

    rows = [
        (1, [0.0] * 8),
        (2, [0.0] * 8),
        (3, [1.0] + [0.0] * 7),
        (4, [1.0] + [0.0] * 7),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.vec_a, r.vec_b) for r in S.cosine_near_dups(vecs, dim=8, threshold=0.99).collect()}
    assert (3, 4) in got
    assert all(1 not in p and 2 not in p for p in got)


def test_jaccard_verify_empty_pairs(spark):
    from nlp_cube_spark.operators import dedup as D

    docs = spark.createDataFrame([(1, "alpha beta", "en")], "doc_id long, text string, lang string")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert D.jaccard_verify_pairs(pairs, docs).count() == 0


@pytest.mark.parametrize("path", ["fused_words", "reannotate", "cube", "cube_document", "oracle"])
def test_pathological_long_sentence_parse_capped(spark, path):
    """One bad web page must not straggle/OOM an executor: sentences above
    MAX_PARSE_LEN parse in independent chunks stitched with 'parataxis' to
    the sentence root — still exactly one root, all heads in range, and
    time/memory linear in length (the uncapped O(n^2) matrix at 32k tokens
    would be ~8 GB). Entry point B (reannotate of the engine's own
    tokenization, annotations stripped), the eager Cube(text) and
    Cube(document) must apply the same cap and give fused_words' tree row
    for row, and so must the oracle's independent chunk rule; they run at
    ~3 caps so an uncapped parse stays small."""
    from nlp_cube_spark import oracle
    from nlp_cube_spark.api import Cube
    from nlp_cube_spark.operators import annotate as A

    n_words = 32000 if path == "fused_words" else 3 * A.MAX_PARSE_LEN
    text = " ".join(["data join table"] * (n_words // 3))
    pages = spark.createDataFrame([("u1", "en", text)], "url string, lang string, text string")
    words = A.fused_words(pages)
    fused = sorted(tuple(r) for r in words.select("word_id", "head", "deprel").collect())
    if path == "reannotate":
        words = A.reannotate(
            words.select("url", "lang", "sent_id", "word_id", "mwt_id", "tok_form", "space_after")
        )
        rows = words.select("word_id", "head", "deprel").collect()
    elif path.startswith("cube"):
        doc = Cube()(text)
        if path == "cube_document":
            doc = Cube()(doc)
        assert len(doc.sentences) == 1
        rows = [(w.index, w.head, w.label) for w in doc.sentences[0].words]
        assert rows == fused
    elif path == "oracle":
        (sent,) = oracle.annotate_document(text, "en")
        rows = [(w.word_id, w.head, w.deprel) for w in sent]
        assert rows == fused
    else:
        rows = fused
    n = len(rows)
    assert n == 3 * (n_words // 3)  # one giant sentence, all words present
    assert sum(1 for r in rows if r[1] == 0) == 1
    assert all(0 <= r[1] <= n for r in rows)
    assert sum(1 for r in rows if r[2] == "parataxis") == (n - 1) // A.MAX_PARSE_LEN


def test_oracle_parse_cap_equals_engine_cap():
    from nlp_cube_spark import oracle
    from nlp_cube_spark.operators import annotate as A

    assert oracle.MAX_PARSE_LEN == A.MAX_PARSE_LEN


def test_parse_cap_boundary_parity():
    """Sentences at or below the cap parse identically to the uncapped
    path (the chunked branch only engages above MAX_PARSE_LEN)."""
    from nlp_cube_spark.kernels import arc_scores, mst
    from nlp_cube_spark.operators import annotate as A

    forms = ["the", "fox", "admires", "a", "dog"] * 20  # 100 words, << cap
    upos = [t[0] for t in __import__("nlp_cube_spark.kernels.tagger_rules", fromlist=["x"]).tag_sentence(forms, "en")]
    ((capped_heads, capped_labels),) = A._parse([(forms, upos)], arc_scores.score_matrix)
    plain = mst.decode_tree(arc_scores.score_matrix(forms, upos)).tolist()
    assert capped_heads == plain
    assert capped_labels == arc_scores.label_arcs(forms, upos, plain)


def test_zero_word_sentence_has_no_heads():
    """A zero-word sentence (a real group once the parse groups sentences
    by length) scores to the (1, 1) ROOT matrix, and the decoder, the
    batch parse and the oracle all give it no heads."""
    from nlp_cube_spark import oracle
    from nlp_cube_spark.kernels import arc_scores, mst

    assert arc_scores.score_matrix([], []).tolist() == [[1.0]]
    stack = arc_scores.score_matrix([[], []], [[], []])
    assert stack.shape == (2, 1, 1)
    assert mst.decode_tree(stack).shape == (2, 0)
    assert A._parse([([], []), (["Alice", "runs"], ["PROPN", "VERB"]), ([], [])], arc_scores.score_matrix) == [
        ([], []), ([2, 0], ["nsubj", "root"]), ([], [])
    ]
    assert oracle._parse([], []) == ([], [])


def test_batch_mixing_long_and_short_sentences_matches_per_document(spark):
    """One Arrow batch holding a 3·MAX_PARSE_LEN-word sentence and short
    documents, over more than EMIT_ROWS rows: fused_words parses their
    sentences in length stacks, and every row equals _annotate_doc on that
    document alone, parataxis arcs included."""
    texts = [
        ("u0", "en", "Alice joins Bob. The fox admires a dog."),
        ("u1", "en", " ".join(["data join table"] * A.MAX_PARSE_LEN)),
        ("u2", "es", "Al planeta viaja Emma."),
        ("u3", "en", ""),
        ("u4", "en", "Bob , the scientist , reads data ."),
    ] + [(f"s{i}", "en", "Alice joins Bob.") for i in range(A.EMIT_ROWS)]
    pages = spark.createDataFrame(texts, "url string, lang string, text string").coalesce(1)
    got = sorted(tuple(r) for r in A.fused_words(pages).select("url", "sent_id", "word_id", "head", "deprel").collect())
    want = sorted(
        (url, sid, i + 1, h, lab)
        for url, lang, text in texts
        for sid, (*_tagged, heads, labels) in enumerate(A._annotate_doc(text, lang))
        for i, (h, lab) in enumerate(zip(heads, labels))
    )
    assert got == want
    assert sum(1 for r in got if r[4] == "parataxis") == 2


def test_parse_stacks_stay_within_byte_budget():
    """The length grouping never builds a score stack over STACK_BYTES:
    neither for many short sentences of one length (the budget cuts them
    into several stacks) nor for capped chunks of long sentences."""
    from nlp_cube_spark.kernels import arc_scores, tagger_rules

    lengths = [12] * 20000 + [A.MAX_PARSE_LEN] * 3 + [600] * 40 + [0] * 5 + [3] * 7
    groups = A._stacks(lengths)
    assert sorted(i for g in groups for i in g) == list(range(len(lengths)))
    for g in groups:
        (n,) = {lengths[i] for i in g}
        assert len(g) * 8 * (n + 1) ** 2 <= A.STACK_BYTES
    assert len(A._stacks([12] * 20000)) > 1

    seen = []

    def scorer(forms, upos, intended=None):
        probs = arc_scores.score_matrix(forms, upos, intended)
        seen.append(probs.nbytes)
        return probs

    forms = ["data", "join", "table"] * A.MAX_PARSE_LEN
    upos = [t[0] for t in tagger_rules.tag_sentence(forms, "en")]
    sents = [(forms, upos), (forms[:600], upos[:600]), (forms[:600], upos[:600])] + [(forms[:9], upos[:9])] * 50
    trees = A._parse(sents, scorer)
    assert [len(h) for h, _ in trees] == [len(f) for f, _ in sents]
    assert seen and max(seen) <= A.STACK_BYTES


def test_intended_arcs_runs_once_per_sentence(monkeypatch):
    """On the rules path the parse computes each sentence's intended arcs
    once and hands them to both the scorer and label_arcs."""
    from nlp_cube_spark.kernels import arc_scores

    calls = []
    real = arc_scores.intended_arcs
    monkeypatch.setattr(arc_scores, "intended_arcs", lambda f, u: calls.append(len(f)) or real(f, u))
    docs = A._annotate_doc(["Alice joins Bob. The fox admires a dog.", "Bob reads data .", ""], ["en", "en", "en"])
    assert len(calls) == sum(map(len, docs)) == 3


def test_r6_new_ops_degenerate_inputs(spark):
    """Empty/degenerate inputs must yield empty or NULL-safe results,
    not throw: semdedup on empty vectors, k_core/k_truss on empty and
    NULL-ridden edges, winnowing on empty text, bigram LM on empty
    docs, unimax on a single source."""
    from nlp_cube_spark.operators.dedup import winnow_fingerprints, winnow_match_pairs
    from nlp_cube_spark.operators.graphstats import k_core, k_truss
    from nlp_cube_spark.operators.similarity import semdedup
    from nlp_cube_spark.operators.textstats import bigram_backoff_scores, unimax_weights

    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert semdedup(empty_vecs, n_clusters=4, iters=1).count() == 0

    empty_edges = spark.createDataFrame([], "src string, dst string")
    assert k_core(empty_edges, k=2).count() == 0
    assert k_truss(empty_edges, t=3).count() == 0
    nullish = spark.createDataFrame(
        [(None, "a"), ("a", None), ("a", "a")], "src string, dst string"
    )
    assert k_core(nullish, k=1).count() == 0  # only self-loop/NULL edges
    assert k_truss(nullish, t=3).count() == 0

    weird_docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "ok tiny")],
        "doc_id long, text string",
    )
    assert winnow_fingerprints(weird_docs).where("doc_id <= 3").count() == 0
    assert winnow_match_pairs(weird_docs).count() == 0
    lm = bigram_backoff_scores(weird_docs)
    rows = {r.doc_id: r for r in lm.collect()}
    assert rows[1].n_bigrams == 0 and rows[1].lm_score is None
    assert rows[3].n_bigrams == 0

    one_source = spark.createDataFrame(
        [(1, "abc", "A"), (2, "defg", "A")], "doc_id long, text string, source string"
    )
    um = unimax_weights(one_source, budget_frac=0.5, max_epochs=2.0).collect()
    assert len(um) == 1 and um[0].alloc_chars == 3.5  # uncapped: budget = 7*0.5

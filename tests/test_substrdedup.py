"""Exact-substring dedup (operators/substrdedup): planted-span fixtures,
interval-union coverage, hot-gram cap, and degenerate inputs.  The full
sf0.01 cross-engine replay runs in test_entry_queries (exact_substr_spans
/ doc_dup_coverage vs their DuckDB oracles)."""

import pytest

from nlp_cube_spark.operators.substrdedup import (
    dup_span_coverage,
    exact_substring_spans,
)

SHARED = " ".join(f"s{i}" for i in range(12))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_planted_span_exact(spark):
    docs = _docs(
        spark,
        [
            (1, "x1 x2 " + SHARED + " x3 x4"),
            (2, "y1 " + SHARED + " y2 y3 y4"),
            (3, "unrelated words only here"),
            (4, ""),
            (5, "   "),
        ],
    )
    spans = exact_substring_spans(docs, k=8, min_len=12).collect()
    assert [tuple(r) for r in spans] == [(1, 2, 2, 1, 12)]
    cov = {
        r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_fraction)
        for r in dup_span_coverage(docs, exact_substring_spans(docs, k=8, min_len=12)).collect()
    }
    # only the HIGHER doc_id of the pair counts as the duplicate side
    assert cov[1] == (16, 0, 0.0)
    assert cov[2] == (16, 12, 0.75)
    assert cov[3] == (4, 0, 0.0)
    assert cov[4] == (0, 0, 0.0)  # empty doc: no anchors, no /0
    assert cov[5] == (0, 0, 0.0)


def test_min_len_must_cover_anchor():
    with pytest.raises(ValueError):
        exact_substring_spans(None, k=8, min_len=7)


def test_span_below_min_len_dropped(spark):
    # an 11-token shared run produces anchored islands of span_len 11 < 12
    shared11 = " ".join(f"t{i}" for i in range(11))
    docs = _docs(spark, [(1, "a b " + shared11), (2, shared11 + " c d")])
    assert exact_substring_spans(docs, k=8, min_len=12).count() == 0
    # ...but passes at min_len=11
    spans = exact_substring_spans(docs, k=8, min_len=11).collect()
    assert [tuple(r) for r in spans] == [(1, 2, 2, 0, 11)]


def test_hot_gram_cap_prunes_boilerplate(spark):
    # the same 12-token run in 4 docs: with cap>=4 all C(4,2)=6 pairs
    # appear; with cap=3 every anchor gram is in 4 docs -> all pruned
    rows = [(i, f"p{i} " + SHARED + f" q{i}") for i in range(1, 5)]
    docs = _docs(spark, rows)
    assert exact_substring_spans(docs, k=8, min_len=12, max_docs_per_gram=64).count() == 6
    assert exact_substring_spans(docs, k=8, min_len=12, max_docs_per_gram=3).count() == 0


def test_coverage_unions_overlapping_partners(spark):
    # doc 3 shares its FULL 16-token text with doc 1 (tokens 0..15) and
    # a shifted window with doc 2 (tokens 2..13 of doc 3) — the two
    # intervals overlap; union coverage must be 16, not 16+12
    base = [f"w{i}" for i in range(16)]
    docs = _docs(
        spark,
        [
            (1, " ".join(base)),
            (2, "z1 z2 " + " ".join(base[2:14]) + " z3 z4"),
            (3, " ".join(base)),
        ],
    )
    spans = exact_substring_spans(docs, k=8, min_len=12)
    cov = {r.doc_id: r.dup_tokens for r in dup_span_coverage(docs, spans).collect()}
    assert cov[3] == 16
    assert cov[1] == 0  # lowest id: never the duplicate side


def test_internal_repetition_multiple_diagonals(spark):
    # doc 2 repeats the shared run twice -> two distinct alignments
    # (different diagonals), both reported
    docs = _docs(
        spark,
        [
            (1, SHARED),
            (2, SHARED + " mid " + SHARED),
        ],
    )
    spans = exact_substring_spans(docs, k=8, min_len=12)
    got = sorted(tuple(r) for r in spans.collect())
    assert got == [(1, 2, 0, 0, 12), (1, 2, 0, 13, 12)]
    cov = {r.doc_id: r.dup_tokens for r in dup_span_coverage(docs, spans).collect()}
    assert cov[2] == 24  # disjoint intervals sum

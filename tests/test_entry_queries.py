"""Replicates the driver's correctness harness: every queries() entry runs
on Spark, and when an oracle_sql() entry exists, row count + column names +
order-insensitive values must match DuckDB at sf0.01."""

import math
import os
import subprocess
import sys

import duckdb
import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in E.TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def _render_class(t):
    """Bucket a Spark/DuckDB column type by how pandas RENDERS it.

    The driver stringifies pandas-materialized values before hashing, so a
    DuckDB HUGEINT (sum of BIGINT) renders "2000.0" while Spark's BIGINT
    renders "2000" — invisible to fetchall() value comparison (both give
    Python ints) but a guaranteed driver hash mismatch.  Two columns are
    render-compatible iff their classes match."""
    t = str(t).lower()
    if t.startswith("decimal") or t in ("hugeint", "uhugeint", "float", "double", "real"):
        return "float"
    if t in ("tinyint", "smallint", "integer", "int", "bigint", "long",
             "short", "byte", "utinyint", "usmallint", "uinteger", "ubigint"):
        return "int"
    if t in ("varchar", "string"):
        return "str"
    if t in ("blob", "binary"):
        return "bytes"
    if t.startswith("timestamp"):
        return "timestamp"
    if t in ("boolean", "bool"):
        return "bool"
    if t.endswith("[]") or t.startswith("array"):
        return "list"
    if t.startswith(("map", "struct")):
        return "nested"
    return t


def _multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(_norm(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


ORACLED = sorted(set(E.queries()) & set(E.oracle_sql()))
ROWS_ONLY = sorted(set(E.queries()) - set(E.oracle_sql()))


def test_count_queries_matches_coverage():
    """COVERAGE.md's totals and generated first-50 window match the
    registry: scripts/count_queries.py exits non-zero on any drift, e.g.
    a registry reorder without `--write-window`."""
    script = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "scripts", "count_queries.py")
    r = subprocess.run([sys.executable, script], capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stdout + r.stderr


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert len(df.columns) > 0
    assert df.count() > 0


@pytest.mark.parametrize("name", ORACLED)
def test_query_vs_oracle(spark, con, name):
    sdf = E.queries()[name](spark, SF)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = con.sql(E.oracle_sql()[name])
    dcols = res.columns
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), (scols, dcols)
    stypes = {f.name: _render_class(f.dataType.simpleString()) for f in sdf.schema.fields}
    dtypes = {c: _render_class(t) for c, t in zip(res.columns, res.types)}
    assert stypes == dtypes, f"{name}: render-incompatible types {stypes} vs {dtypes}"
    assert len(srows) == len(drows), f"{name}: {len(srows)} vs {len(drows)}"
    assert _multiset(srows, scols) == _multiset(drows, dcols), name


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    sdf = E.queries()[name](spark, SF)
    assert sdf.count() >= 0 and len(sdf.columns) > 0


# Cross-SF replay for the float-heaviest queries: a second corpus (fresh
# seed/content) hunts engine-vs-oracle rounding straddles the sf0.01 data
# happens to miss — exactly how the r6 quality-score HALF_UP/double-round
# divergence was caught (one doc at sf0.001, none at sf0.01).
FLOAT_SENSITIVE = [
    "source_doremi_weights",
    "doc_ccnet_buckets",
    "ann_recall_ivf",
    "hard_negatives",
    "corpus_pmi_collocations",
    "embedding_int8_quant",
    "unigram_segmentations",
    "unigram_em_counts",
    "doc_kneser_ney",
    "corpus_heaps_fit",
    "wordpiece_merges",
    "corpus_sppmi",
    "lr_calibration",
    "source_diversity",
    "events_hourly_anomalies",
    "kg_completion_metrics",
    "doc_quality",
    "training_corpus_curation",
    "doc_length_quantiles_twopass",
    "doc_length_quantiles_approx",
    "doc_perplexity",
    "tfidf_top_terms",
    "bm25_top_terms",
    "ann_pq_topk",
    "ann_kmeans_centroids",
    "doc_repetition_stats",
    "doc_dup_coverage",
    "dsir_log_weights",
    "lr_quality_weights",
    "doc_lr_scores",
    "embedding_semdedup",
    "kg_entity_kcore",
    "doc_bigram_lm",
    "source_unimax_weights",
    "doc_winnow_fps",
    "winnow_match_pairs",
    "kg_entity_ktruss",
    "corpus_zipf_fit",
    "doc_passage_chunks",
    "source_ngram_overlap",
    "user_funnel",
    "weighted_sample_docs",
    "kg_entity_hits",
    "kg_entity_pagerank",
    "doc_ngram_novelty",
    "doc_length_histogram",
    "kg_entity_neighborhood",
    "kg_entity_bfs",
    "search_docs_bm25",
    "doc_readability",
    "rrf_top_terms",
    "user_retention_cohorts",
    "events_trailing_hour",
    "doc_similar_tfidf",
    "doc_gopher_quality",
    "kg_link_prediction",
    "kg_transe_embeddings",
    "kg_completion_topk",
    "doc_containment_dedup",
    "kg_degree_histogram",
    "lineitem_profile",
    "lineitem_correlations",
]

SF2 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con2():
    c = duckdb.connect()
    for t in E.TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF2}/{t}.parquet'")
    return c


@pytest.mark.parametrize("name", FLOAT_SENSITIVE)
def test_query_vs_oracle_second_sf(spark, con2, name):
    sdf = E.queries()[name](spark, SF2)
    srows = [tuple(r) for r in sdf.collect()]
    res = con2.sql(E.oracle_sql()[name])
    drows = res.fetchall()
    assert sorted(sdf.columns) == sorted(res.columns)
    assert len(srows) == len(drows), f"{name}: {len(srows)} vs {len(drows)}"
    assert _multiset(srows, sdf.columns) == _multiset(drows, res.columns), name

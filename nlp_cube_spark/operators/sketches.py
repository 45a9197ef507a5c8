"""Linear sketches for corpus statistics: Count-Min term frequency.

Reference parity: the reference engine keeps no corpus-frequency sketch
(its vocabularies are exact in-memory dicts — word2int in
cube/io_utils/encodings.py:15,118), but a 100 TB web corpus
cannot hold an exact term dimension in one place — the Count-Min sketch
(Cormode & Muthukrishnan 2005, "An Improved Data Stream Summary: The
Count-Min Sketch and its Applications", J. Algorithms) is the standard
fixed-size substitute: d independent hash rows of width w; a term's
estimate is the MIN over its d cells, always >= the true count, and
<= true + eps*N with probability 1-delta for w=ceil(e/eps), d=ceil(ln 1/delta).

100 TB shape: the sketch is d*w cells REGARDLESS of input size — one
hash aggregation to the (row, bucket) grid, mergeable across shards by
cell-wise addition (it is a linear sketch). We pre-aggregate exact
per-term counts first (one corpus-wide hash agg with map-side partial
combine) and hash each DISTINCT term d times, so the d-fold expansion
runs over the vocab dimension, not the raw token stream — equivalent by
linearity of the sketch, and strictly cheaper in a batch engine.

Hashing is the oracle-portable md5 device (13 hex chars = 52 bits, an
exact double; see CLAUDE.md) keyed as md5(row || ':' || term) so the d
rows are independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["count_min_sketch", "cms_point_estimates", "cms_term_counts"]


def _bucket(term_col, row_col, width: int):
    """md5-derived bucket in [0, width): independent per sketch row."""
    h = F.expr(
        "cast(conv(substr(md5(concat(cast({r} as string), ':', {t})), 1, 13), 16, 10) "
        "as bigint)".format(r=row_col, t=term_col)
    )
    return F.pmod(h, F.lit(width))


def count_min_sketch(
    docs: DataFrame,
    text_col: str = "text",
    depth: int = 3,
    width: int = 16,
) -> DataFrame:
    """Build the d x w Count-Min sketch of whitespace-token frequencies.

    Returns (row, bucket, cell) — AT MOST depth*width rows (cells no term
    hashes to are absent, and readers must treat absent as 0 — see
    cms_point_estimates' coalesce; cell-wise merge across shards is sum
    with the same absent-as-0 rule). One shuffle on term (the exact-count pre-agg), one on
    (row, bucket); both hash aggs with partial combine.
    """
    counts = (
        docs.select(F.explode(F.split(F.col(text_col), "\\s+")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rows = counts.select(
        "term",
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    )
    return (
        rows.select(
            "row", _bucket("term", "row", width).alias("bucket"), "c"
        )
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("cell"))
    )


def cms_point_estimates(
    sketch: DataFrame,
    terms: DataFrame,
    term_col: str = "term",
    depth: int = 3,
    width: int = 16,
) -> DataFrame:
    """Point-query the sketch: est(term) = min over the d rows of the
    cell the term hashes to. `terms` is a query dimension (small —
    broadcast); the sketch itself is d*w rows, also broadcast. Missing
    cells read as 0 (a term absent from every hashed cell has true
    count 0 <= est)."""
    probes = terms.select(term_col).distinct().select(
        term_col,
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    )
    probes = probes.select(
        term_col, "row", _bucket(term_col, "row", width).alias("bucket")
    )
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return (
        joined.groupBy(term_col)
        .agg(F.min(F.coalesce(F.col("cell"), F.lit(0))).alias("est_count"))
    )


def cms_term_counts(
    docs: DataFrame,
    text_col: str = "text",
    depth: int = 3,
    width: int = 16,
) -> DataFrame:
    """Driver-facing composition: sketch the corpus, point-query every
    distinct term, and report est vs exact with the CM overestimate
    (est - exact >= 0 always — the one-sided error guarantee). At web
    scale the query side would be a fixed term list; here the distinct
    vocab doubles as one, and the small width forces real collisions so
    the overestimate path is exercised, not vacuous."""
    sketch = count_min_sketch(docs, text_col, depth, width)
    exact = (
        docs.select(F.explode(F.split(F.col(text_col), "\\s+")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    est = cms_point_estimates(sketch, exact, "term", depth, width)
    return (
        exact.join(est, "term")
        .select(
            "term",
            "exact_count",
            "est_count",
            (F.col("est_count") - F.col("exact_count")).alias("overestimate"),
        )
    )

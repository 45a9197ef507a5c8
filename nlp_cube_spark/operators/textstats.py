"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting.

Everything is built-in Catalyst expressions (regexp/array functions) so the
DuckDB oracle can reproduce values exactly; nothing here needs Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# tiny per-language stopword profiles (deterministic heuristic language-ID)
STOPWORDS = {
    "en": ["the", "a", "an", "is", "of", "and", "to", "in", "that", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "del", "al"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "au"],
}


def _sw_ratio(text_col: str, words: list[str]) -> str:
    """Stopword-token count as ONE codegen'd regex pass: a token (maximal
    non-space run) counts iff it equals a profile word — the alternation
    is anchored by a consumed leading boundary and a zero-width trailing
    lookahead, so adjacent hits ('a a a') all count (same trick as
    ngrams_sql; the interpreted filter(filter(split)) lambda chain this
    replaces cost two passes per language per doc)."""
    alts = "|".join(words)
    # \\z (absolute end), NOT $: Java's $ also matches before a FINAL
    # newline, which would count 'the\\n' where the split-token oracle
    # replay sees the token 'the\\n' and does not
    return f"regexp_count(lower({text_col}), '(^| )({alts})(?= |\\\\z)')"


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Pick the language whose stopword profile hits most tokens; ties and
    zero hits -> 'und'. Pure expression -> portable to the SQL oracle."""
    hits = {lg: F.expr(_sw_ratio(text_col, ws)) for lg, ws in STOPWORDS.items()}
    best = F.greatest(*hits.values())
    pred = F.when(best == 0, F.lit("und"))
    for lg in STOPWORDS:  # dict order fixed -> deterministic tie-break en>es>fr
        pred = pred.when(hits[lg] == best, F.lit(lg))
    return docs.withColumn("lang_pred", pred)


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/alpha/stopword/punct ratio features + a composite score,
    rounded for engine-portable comparison."""
    n_chars = F.length(F.col(text_col))
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    n_space = F.length(F.regexp_replace(F.col(text_col), "[^ ]", ""))
    n_punct = F.length(F.regexp_replace(F.col(text_col), "[^.,;:!?]", ""))
    n_tokens = F.expr(f"regexp_count({text_col}, '[^ ]+')")
    sw = F.expr(_sw_ratio(text_col, STOPWORDS["en"]))
    alpha_ratio = F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 6)
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    sw_ratio = F.round(sw / F.greatest(n_tokens, F.lit(1)), 6)
    mean_tok_len = F.round((n_chars - n_space) / F.greatest(n_tokens, F.lit(1)), 6)
    # floor-based 6dp rounding, NOT F.round: the composite is a weighted
    # sum of already-6dp-rounded terms, which lands on decimal .5
    # boundaries SYSTEMATICALLY (a*0.5 has 7 digits ending in 0/5), and
    # there Spark's HALF_UP BigDecimal rounding and DuckDB's double
    # round() can split by one ulp (observed: sf0.001 doc 407,
    # 0.623374 vs 0.623375). floor(x*1e6 + 0.5)/1e6 is pure double
    # arithmetic — bit-identical on any engine given identical inputs.
    raw_score = (
        alpha_ratio * 0.5 + sw_ratio * 0.3
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 10), 0.2).otherwise(0.0)
    )
    score = F.floor(raw_score * 1e6 + 0.5) / 1e6
    return docs.select(
        "*",
        n_tokens.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        punct_ratio.alias("punct_ratio"),
        sw_ratio.alias("stopword_ratio"),
        mean_tok_len.alias("mean_token_len"),
        score.alias("quality"),
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish subunit count (alnum runs and single
    symbols — the engine's pre-tokenizer as a pure regex expression)."""
    ws = F.expr(f"size(filter(split({text_col}, ' '), t -> t <> ''))")
    pre = F.expr(f"size(regexp_extract_all({text_col}, '[0-9A-Za-z]+|[^0-9A-Za-z ]', 0))")
    return docs.select("*", ws.alias("ws_tokens"), pre.alias("pre_tokens"))


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalization-stable document fingerprint: md5 over the
    whitespace-collapsed, lower-cased text."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", " ")
    return docs.withColumn("fingerprint", F.md5(norm))

def ngrams_sql(text_col: str, n: int) -> str:
    """SQL expression: array of whitespace n-grams of `text_col` (empty
    array below n tokens). THE one definition of an n-gram — shared by
    repetition_stats and curate.decontaminate so the two can never
    silently disagree; oracles replay it with string_split_regex.

    Formulation: whitespace-normalize once, then ONE lookahead regex —
    each match anchors at a token start (the consumed \\S+ advances the
    scan a whole token) while the (?=(...)) group captures the n tokens
    ahead, so overlapping grams fall out of a single codegen'd JVM regex
    pass. The previous transform(sequence)+slice+array_join HOF chain is
    interpreted, never codegen'd; measured at n=13 over 100k sf0.1 docs
    (r5, all three forms parity-gated): HOF 7.34s vs regex 3.09s vs
    split+posexplode+lead-window 2.80s — the window form is marginally
    fastest locally but adds a token-volume shuffle+sort per doc, which
    at 100 TB is the wrong trade; regex keeps the stage shuffle-free."""
    norm = f"regexp_replace(trim({text_col}), '\\\\s+', ' ')"
    tail = " \\\\S+" * (n - 1)
    return (
        f"coalesce(regexp_extract_all({norm}, '(?=(\\\\S+{tail}))\\\\S+', 1), array())"
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Gopher-style repetition counters per document — the standard
    web-corpus quality filters (duplicate-line fraction and most-frequent
    n-gram coverage; Rae et al. 2021 §A1.1, public knowledge).

    Returns: id, n_tokens, n_lines, dup_line_frac (1 - distinct/total
    non-empty lines), top_ngram_frac (tokens covered by the single most
    frequent whitespace n-gram = max_count * n / n_tokens, NULL when the
    doc has < n tokens). top_ngram_frac is a coverage ESTIMATE: a gram
    that overlaps itself ('p p p p') counts every occurrence, so values
    can exceed 1 — filters threshold it, they don't sum it.

    Plan shape: the line stats are per-row scalar expressions; the n-gram
    stat is explode -> two uniform-key hash aggregations ((id, gram) then
    id) -> a join back on id. No per-doc value buffer, no UDF; a hot doc
    costs O(its tokens) spread over the shuffle like any other rows."""
    if n < 1:
        raise ValueError("n must be >= 1")
    # lambda-free counterparts of size(filter(split(...))) — regexp_count
    # and array_remove stay inside whole-stage codegen (same HOF tax the
    # ngrams_sql docstring documents)
    lines_nonempty = f"array_remove(split({text_col}, '\\n'), '')"
    # base carries SCALARS only — keeping the token array here would drag
    # every document's full text through the id-join shuffle below
    base = docs.select(
        F.col(id_col),
        F.expr(f"regexp_count({text_col}, '\\\\S+')").alias("n_tokens"),
        F.expr(f"size({lines_nonempty})").alias("n_lines"),
        F.expr(f"size(array_distinct({lines_nonempty}))").alias("__n_dlines"),
    )
    grams = docs.select(
        F.col(id_col), F.explode(F.expr(ngrams_sql(text_col, n))).alias("gram")
    )
    top = (
        grams.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("__top_c"))
    )
    out = base.join(top, id_col, "left")
    return out.select(
        F.col(id_col),
        "n_tokens",
        "n_lines",
        F.round(
            F.coalesce(
                1 - F.col("__n_dlines") / F.nullif(F.col("n_lines").cast("double"), F.lit(0.0)),
                F.lit(0.0),
            ),
            6,
        ).alias("dup_line_frac"),
        F.round(
            F.col("__top_c") * n / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)), 6
        ).alias("top_ngram_frac"),
    )


def source_mix(
    docs: DataFrame, source_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-source corpus-mix report — the per-domain statistics a web
    pipeline uses to cap or down-weight domains (C4/RefinedWeb-style
    domain filtering, public knowledge): doc count, exact-duplicate
    fraction (1 - distinct content hashes / docs), and mean length.

    Plan shape: one two-phase hash aggregation; count(distinct md5) is
    Spark's expand + partial-agg form, keys stay (source, hash)-uniform,
    so a hot source spreads across reducers in the partial phase."""
    return (
        docs.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.md5(F.col(text_col))).alias("n_unique_texts"),
            F.round(F.avg(F.length(F.col(text_col))), 4).alias("avg_chars"),
        )
        .select(
            source_col,
            "n_docs",
            "n_unique_texts",
            F.round(
                1 - F.col("n_unique_texts") / F.col("n_docs").cast("double"), 6
            ).alias("exact_dup_frac"),
            "avg_chars",
        )
    )


def unigram_perplexity(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: float = 0.5
) -> DataFrame:
    """Per-document perplexity under the corpus's own add-k-smoothed
    unigram LM — the standard cheap stand-in for the KenLM-perplexity
    quality filter (CCNet-style, public knowledge): documents whose
    token distribution diverges from the corpus score high.

    p(t) = (count(t) + k) / (N + k*V) over the whole corpus;
    cross_entropy = mean over the doc's tokens of -ln p(t);
    ppl = exp(cross_entropy), rounded 6dp.

    Plan shape mirrors term_scores: one (doc, term) hash agg, one term
    hash agg (the LM 'training'), a term-keyed shuffle join (the term
    dimension is web-vocab-sized — deliberately NOT broadcast), corpus
    scalars attached by broadcast cross join. Empty docs get NULL ppl."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\\s+")).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    lm = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    corpus = lm.agg(
        F.sum("c").alias("__N"), F.count(F.lit(1)).alias("__V")
    )
    logp = F.log(
        (F.col("c") + k) / (F.col("__N") + k * F.col("__V"))
    )
    scored = (
        tf.join(lm, "term")
        .crossJoin(F.broadcast(corpus))
        .groupBy(id_col)
        .agg(
            (-F.sum(F.col("tf") * logp) / F.sum("tf")).alias("__ce"),
            F.sum("tf").alias("n_tokens"),
        )
    )
    out = scored.select(
        id_col,
        "n_tokens",
        F.round("__ce", 6).alias("cross_entropy"),
        F.round(F.exp("__ce"), 6).alias("ppl"),
    )
    # empty docs fall out of the token explode; restore them with NULLs
    return docs.select(id_col).join(out, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "cross_entropy",
        "ppl",
    )


def source_sampling_weights(
    docs: DataFrame, source_col: str = "source", alpha: float = 0.3
) -> DataFrame:
    """Temperature-based source mixing weights (the mT5/XLM-R multinomial
    smoothing, public knowledge): p_s ∝ (n_s / N)^alpha. alpha=1 keeps the
    natural mix; alpha->0 flattens toward uniform — the standard lever for
    up-weighting low-resource sources/languages in a training mixture.

    Returns (source, n_docs, natural_frac, weight) with weights summing
    to 1 (rounded 6dp for oracle portability). Plan: one hash agg over
    sources + a 1-row total attached by broadcast cross join — the
    source dimension is small by definition; nothing else shuffles."""
    counts = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("__N"))
    smoothed = counts.crossJoin(F.broadcast(total)).select(
        source_col,
        "n_docs",
        F.round(F.col("n_docs") / F.col("__N"), 6).alias("natural_frac"),
        F.pow(F.col("n_docs") / F.col("__N"), F.lit(alpha)).alias("__p"),
    )
    z = smoothed.agg(F.sum("__p").alias("__Z"))
    return smoothed.crossJoin(F.broadcast(z)).select(
        source_col,
        "n_docs",
        "natural_frac",
        F.round(F.col("__p") / F.col("__Z"), 6).alias("weight"),
    )


def _bm25_idf() -> F.Column:
    """THE one BM25 idf definition (over columns n_docs, df) — shared by
    term_scores, search_bm25, and through them the DuckDB oracles; two
    copies could silently drift."""
    return F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))


def _bm25_norm(k1: float, b: float) -> F.Column:
    """THE one BM25 tf-saturation/length-normalization definition (over
    columns tf, dl, avgdl)."""
    return F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )


def _term_stats_base(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf, df, dl, n_docs, avgdl) — the joined sufficient
    statistics both rankers score from. Factored so rrf_top_terms can
    build it ONCE (Spark re-runs shared subtrees per reference)."""
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    return tf.join(dfreq, "term").join(dl, id_col).crossJoin(F.broadcast(corpus))


def term_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scheme: str = "tfidf",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int | None = None,
) -> DataFrame:
    """Per-(doc, term) relevance scores over whitespace tokens — pure
    Catalyst, no UDF.

    tfidf: tf * (ln((N+1)/(df+1)) + 1)   (smoothed idf)
    bm25:  ln(1 + (N-df+0.5)/(df+0.5)) * tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl))

    Plan shape at scale: two hash aggregations on uniform keys ((doc,term)
    then term), a shuffle join on term (the document-frequency dimension
    can exceed broadcast size at web vocab — deliberately NOT broadcast),
    and a 1-row corpus-stats aggregate attached by broadcast cross join.
    top_k adds one ranking window per doc, keyed by the same id."""
    scored = _term_stats_base(docs, id_col, text_col)
    if scheme == "tfidf":
        idf = F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1
        score = F.col("tf") * idf
    elif scheme == "bm25":
        score = _bm25_idf() * _bm25_norm(k1, b)
    else:
        raise ValueError(f"unknown scheme {scheme!r} (tfidf | bm25)")
    out = scored.select(id_col, "term", "tf", "df", score.alias("score"))
    if top_k is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
        out = (
            out.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
        )
    return out


def bigram_backoff_scores(
    docs: DataFrame,
    lm_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document mean log10 Stupid Backoff bigram score (Brants et
    al. 2007 §4, the web-scale LM scheme that deliberately skips
    normalization — public knowledge; no counterpart in the reference).

    Train on `lm_docs` (default: `docs` itself — then backoff never
    fires), score every doc's bigram transitions:

      S(cur | prev) = cb(prev,cur) / cu(prev)      bigram in the LM
                    = alpha * (cu(cur)+1) / (N+V)  otherwise

    The backoff unigram is add-1 smoothed (documented deviation: Brants
    assumes full-vocab coverage; add-1 keeps OOV scores finite instead
    of log(0)). doc score = sum(tf * log10 S) / n_bigrams over the
    doc's distinct bigrams, rounded 6dp; docs with < 2 tokens return
    NULL with n_bigrams = 0.

    Plan shape mirrors unigram_perplexity: grams via the codegen'd
    lookahead regex (ngrams_sql — no HOF chain, no shuffle to build
    them), one (doc, gram) hash agg, gram- and term-keyed shuffle joins
    (the LM dimensions are web-vocab-sized — deliberately NOT
    broadcast), corpus scalars via one broadcast cross join. The
    unordered double sum before round(6) is the repo's accepted
    flake-surface discipline (see kmeans_refine's note)."""
    lm = lm_docs if lm_docs is not None else docs
    toks = lambda df: df.select(  # noqa: E731
        F.explode(F.expr(f"filter(split(trim({text_col}), '\\\\s+'), t -> t != '')")).alias("term")
    )
    uni = toks(lm).groupBy("term").agg(F.count(F.lit(1)).alias("cu"))
    corpus = uni.agg(F.sum("cu").alias("__N"), F.count(F.lit(1)).alias("__V"))
    grams = F.explode(F.expr(ngrams_sql(text_col, 2))).alias("gram")
    big = lm.select(grams).groupBy("gram").agg(F.count(F.lit(1)).alias("cb"))
    doc_big = (
        docs.select(F.col(id_col), grams)
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    backoff = F.log10(
        F.lit(alpha)
        * (F.coalesce("cu_cur", F.lit(0)) + 1)
        / (F.col("__N") + F.col("__V")).cast("double")
    )
    hit = F.log10(F.col("cb") / F.col("cu_prev").cast("double"))
    scored = (
        doc_big.join(big, "gram", "left")
        .withColumn("_prev", F.expr("split_part(gram, ' ', 1)"))
        .withColumn("_cur", F.expr("split_part(gram, ' ', 2)"))
        .join(uni.select(F.col("term").alias("_prev"), F.col("cu").alias("cu_prev")), "_prev", "left")
        .join(uni.select(F.col("term").alias("_cur"), F.col("cu").alias("cu_cur")), "_cur", "left")
        .crossJoin(F.broadcast(corpus))
        .withColumn("_lg", F.when(F.col("cb").isNotNull(), hit).otherwise(backoff))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.round(F.sum(F.col("tf") * F.col("_lg")) / F.sum("tf"), 6).alias("lm_score"),
        )
    )
    return docs.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        "lm_score",
    )


def unimax_weights(
    docs: DataFrame,
    budget_frac: float = 0.5,
    max_epochs: float = 2.0,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """UniMax epoch-capped source budget allocation (Chung et al. 2023,
    arXiv:2304.09151, public knowledge — the fairer successor to the
    mT5 temperature mix in source_sampling_weights): distribute a
    character budget B = budget_frac * total_chars as uniformly as
    possible across sources, but never ask any source for more than
    `max_epochs` passes over its own data.

    Closed-form water-filling instead of the paper's sequential loop:
    sort sources ascending by cap c_s = n_chars * max_epochs; source at
    rank i is capped iff c_i * (L - i + 1) + prefix_cap_{i-1} <= B (the
    uniform share it would get exceeds its cap) — the predicate is
    monotone in i, so one window pass + one 1-row agg finds the capped
    set, and the survivors split the remaining budget evenly. All
    comparisons are products/sums of integer-valued doubles (exact well
    below 2^53), so the capped set is engine-exact; only the final
    output rounds (6dp).

    Returns (source, n_chars, cap_chars, alloc_chars, epochs, weight)
    with sum(alloc) = B when caps allow, sum(weight) = 1. Plan: one
    corpus hash agg to the source dimension, then a DIMENSION-sized
    unpartitioned window sort (sources are a handful by definition —
    same class as a nation/region dim, not vocab; the vocab-scale
    two-phase rank in vocab.py is the pattern if a caller ever feeds a
    high-cardinality source column), scalars via broadcast cross join.
    If the budget exceeds the total cap, every source caps and the
    leftover is undistributed (epochs ceiling is a hard constraint)."""
    per = docs.groupBy(source_col).agg(
        F.sum(F.length(F.col(text_col))).alias("n_chars")
    )
    tot = per.agg(
        F.sum("n_chars").cast("double").alias("__T"),
        F.count(F.lit(1)).alias("__L"),
    )
    w = Window.orderBy("cap_chars", source_col)
    ranked = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("cap_chars", F.col("n_chars") * F.lit(max_epochs))
        .withColumn("__B", F.col("__T") * F.lit(budget_frac))
        .withColumn("__i", F.row_number().over(w))
        .withColumn("__pfx", F.sum("cap_chars").over(w) - F.col("cap_chars"))
        .withColumn(
            "__capped",
            F.col("cap_chars") * (F.col("__L") - F.col("__i") + 1) + F.col("__pfx")
            <= F.col("__B"),
        )
        .localCheckpoint(eager=False)  # referenced by the agg AND the output
    )
    kk = ranked.agg(
        F.sum(F.when(F.col("__capped"), 1).otherwise(0)).alias("__k"),
        F.coalesce(
            F.sum(F.when(F.col("__capped"), F.col("cap_chars"))), F.lit(0.0)
        ).alias("__capsum"),
    )
    share = (F.col("__B") - F.col("__capsum")) / F.nullif(
        (F.col("__L") - F.col("__k")).cast("double"), F.lit(0.0)
    )
    alloc = F.when(F.col("__capped"), F.col("cap_chars")).otherwise(share)
    return (
        ranked.crossJoin(F.broadcast(kk))
        .select(
            source_col,
            "n_chars",
            "cap_chars",
            F.round(alloc, 6).alias("alloc_chars"),
            # nullif: ANSI double/0 THROWS (CLAUDE.md); NULL matches the
            # DuckDB oracle's x/0.0 for an all-empty source or corpus
            F.round(alloc / F.nullif(F.col("n_chars").cast("double"), F.lit(0.0)), 6).alias(
                "epochs"
            ),
            F.round(alloc / F.nullif(F.col("__B"), F.lit(0.0)), 6).alias("weight"),
        )
    )


def zipf_fit(
    docs: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Zipf rank-frequency OLS fit over the corpus vocabulary (public
    knowledge; Zipf 1949 — the standard sanity diagnostic for a web
    corpus: natural text fits ln f = a + s*ln r with s near -1 and high
    r2; scraped boilerplate/spam bends the curve).

    Terms ranked by (count desc, term) WITHOUT a single-task sort: the
    1-based rank is the exclusive prefix count in that total order via
    the shared content-derived two-phase helper (operators/ranges.py —
    the vocab._rank_ids device, web-vocab-safe). Then ONE aggregate
    collects the OLS sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²
    over x=ln rank, y=ln count) and the closed form yields slope,
    intercept, r2 — rounded 6dp (the accepted unordered-double-sum
    discipline). Returns exactly one row: (n_terms, slope, intercept,
    r2); degenerate vocabularies (< 2 terms) yield NULL fit values via
    nullif'd denominators."""
    terms = docs.select(
        F.explode(F.expr(f"filter(split(trim({text_col}), '\\\\s+'), t -> t != '')")).alias("term")
    )
    counts = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("count"))
        .where(F.col("count") >= min_count)
    )
    from .ranges import exclusive_prefix_sum

    ranked = exclusive_prefix_sum(
        counts, [(-F.col("count")), F.col("term")], F.lit(1), out_col="_rk"
    )
    xy = ranked.select(
        F.log((F.col("_rk") + 1).cast("double")).alias("x"),
        F.log(F.col("count").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.nullif(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0))
    deny = F.nullif(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"), F.lit(0.0))
    slope = num / den
    return s.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias("intercept"),
        F.round(num * num / (den * deny), 6).alias("r2"),
    )


def source_ngram_overlap(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Pairwise n-gram Jaccard between sources — the cross-source
    contamination/redundancy diagnostic (public pattern; the
    between-corpus companion of decontaminate's corpus-vs-benchmark
    overlap). Returns the full unordered source-pair matrix
    (source_a < source_b): n-gram set sizes, intersection, and
    jaccard rounded 6dp — zero-overlap pairs included with 0.

    Plan shape: one (source, gram) DISTINCT hash agg (uniform keys),
    per-source sizes to a broadcast dimension, and a gram-keyed
    self-join for intersections — a gram shared by many sources costs
    O(#sources^2) rows AT MOST per gram (the source dimension is tiny
    by definition), so there is no hot-key hazard; the corpus is never
    shuffled wider than its distinct (source, gram) pairs. Grams via
    the codegen'd lookahead regex (ngrams_sql)."""
    sg = (
        docs.select(
            F.col(source_col).alias("source"),
            F.explode(F.expr(ngrams_sql(text_col, n))).alias("gram"),
        )
        .dropDuplicates()
        .localCheckpoint(eager=False)  # feeds sizes AND both join sides
    )
    sizes = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = sg.select(F.col("source").alias("source_a"), "gram")
    b = sg.select(F.col("source").alias("source_b"), "gram")
    inter = (
        a.join(b, "gram")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    pairs = (
        sizes.select(F.col("source").alias("source_a"), F.col("n_grams").alias("n_grams_a"))
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"), F.col("n_grams").alias("n_grams_b")
                )
            )
        )
        .where(F.col("source_a") < F.col("source_b"))
    )
    return (
        pairs.join(inter, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "n_grams_a",
            "n_grams_b",
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            F.round(
                F.coalesce("n_common", F.lit(0))
                / (F.col("n_grams_a") + F.col("n_grams_b") - F.coalesce("n_common", F.lit(0))).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


def ngram_novelty(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document n-gram novelty vs the rest of the corpus — the
    boilerplate signal (public pattern; RefinedWeb-style line dedup's
    document-level cousin): a doc whose grams mostly appear in OTHER
    documents is template/navigation text, one whose grams are unique
    carries novel content.

    Returns (id_col, n_distinct_grams, n_novel, novel_frac) where a
    gram is novel iff exactly one document in the corpus contains it;
    docs with fewer than n tokens get 0 grams and NULL novel_frac.

    Plan shape: one (doc, gram) DISTINCT hash agg, one gram-dimension
    count agg (how many docs contain each gram — counting rows of the
    distinct pair set, no countDistinct expand), one gram-keyed join
    back, one doc agg. All keys uniform; grams via the codegen'd
    lookahead regex."""
    dg = (
        docs.select(
            F.col(id_col), F.explode(F.expr(ngrams_sql(text_col, n))).alias("gram")
        )
        .dropDuplicates()
        .localCheckpoint(eager=False)  # feeds the gram dimension AND the join
    )
    gc = dg.groupBy("gram").agg(F.count(F.lit(1)).alias("_nd"))
    per = (
        dg.join(gc, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.sum(F.when(F.col("_nd") == 1, 1).otherwise(0)).alias("n_novel"),
        )
    )
    return docs.select(id_col).join(per, id_col, "left").select(
        id_col,
        F.coalesce("n_distinct_grams", F.lit(0)).alias("n_distinct_grams"),
        F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        F.round(
            F.col("n_novel") / F.col("n_distinct_grams").cast("double"), 6
        ).alias("novel_frac"),
    )


def search_bm25(
    docs: DataFrame,
    query: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 document retrieval for a query string (Robertson et al.,
    public knowledge) — the doc-ranking complement of term_scores'
    per-doc term ranking: score(d) = sum over the query's DISTINCT
    terms of the same BM25 weight term_scores computes, top-k docs.

    Matching-docs-only semantics (no query term -> excluded); scores
    rounded 6dp BEFORE ranking (ulp never decides the k-th place),
    ties to the smaller id; returns (id, n_matched, score, rank).

    Plan shape: document length/avgdl need one full-corpus token agg,
    but tf/df are computed ONLY for the query's terms (isin pushes to
    the scan), so the term-keyed shuffle carries query-sized data; the
    final ranking is a global top-k (TakeOrderedAndProject)."""
    q_terms = sorted({t for t in query.split() if t})
    if not q_terms:
        raise ValueError("search_bm25: empty query")
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).where(F.col("term") != "")
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        toks.where(F.col("term").isin(q_terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(corpus))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.round(F.sum(_bm25_idf() * _bm25_norm(k1, b)), 6).alias("score"),
        )
    )
    out = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return out.withColumn("rank", F.row_number().over(w))


def readability(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948, public knowledge
    — the classic readability quality signal):
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/words).

    Heuristics, all single codegen'd regex passes and replayed
    token-wise by the oracle:
      words      = \\S+ runs
      sentences  = [.!?]+ runs, floored at 1
      syllables  = [aeiouy]+ runs (runs cannot span whitespace, so the
                   whole-text count equals the per-word sum) + one per
                   vowel-less word (every word counts >= 1 syllable;
                   the vowel-less-word regex uses the consumed-anchor +
                   lookahead trick from _sw_ratio so adjacent hits all
                   count)
    Empty docs (0 words) return NULL flesch. No silent-e correction —
    documented approximation, same class as every published cheap
    syllable counter."""
    lower = f"lower({text_col})"
    n_words = F.expr(f"regexp_count({text_col}, '\\\\S+')")
    n_sents = F.greatest(F.expr(f"regexp_count({text_col}, '[.!?]+')"), F.lit(1))
    vowel_runs = F.expr(f"regexp_count({lower}, '[aeiouy]+')")
    novowel_words = F.expr(
        f"regexp_count(regexp_replace(trim({lower}), '\\\\s+', ' '),"
        f" '(^| )[^aeiouy ]+(?= |\\\\z)')"
    )
    syl = vowel_runs + novowel_words
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (n_words / n_sents.cast("double"))
        - F.lit(84.6) * (syl / F.nullif(n_words.cast("double"), F.lit(0.0))),
        6,
    )
    return docs.select(
        id_col,
        n_words.alias("n_words"),
        n_sents.alias("n_sentences"),
        syl.alias("n_syllables"),
        flesch.alias("flesch"),
    )


def rrf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_const: int = 60,
    top_k: int = 3,
) -> DataFrame:
    """Reciprocal Rank Fusion of the tfidf and bm25 per-doc term
    rankings (Cormack, Clarke & Buettcher 2009, public knowledge — the
    standard score-free ranking combiner): rrf(t) = sum over rankers of
    1/(k + rank_r(t)), top_k fused terms per doc.

    RRF is exactly rank-arithmetic — no float scores cross the fusion
    boundary, so the only float is the final 1/(k+r) sum of two terms,
    rounded 6dp before the fused ranking (ulp-free cut). Each ranker's
    rank comes from the shared term_scores plan (rounded score desc,
    term asc — total order); the fusion is one (doc, term) equi-join of
    two rank dimensions + one per-doc top-k window."""
    # ONE shared statistics base, checkpointed: two term_scores calls
    # would tokenize and aggregate the corpus twice (Spark re-runs
    # shared subtrees per reference, CLAUDE.md)
    base = _term_stats_base(docs, id_col, text_col).localCheckpoint(eager=False)
    a = base.select(
        id_col,
        "term",
        (F.col("tf") * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1)).alias(
            "score"
        ),
    )
    b = base.select(id_col, "term", (_bm25_idf() * _bm25_norm(1.2, 0.75)).alias("score"))

    def _ranked(df: DataFrame, name: str) -> DataFrame:
        w = Window.partitionBy(id_col).orderBy(
            F.desc(F.round("score", 6)), F.asc("term")
        )
        return df.select(
            id_col, "term", F.row_number().over(w).alias(name)
        )

    fused = (
        _ranked(a, "r_tfidf")
        .join(_ranked(b, "r_bm25"), [id_col, "term"])
        .select(
            id_col,
            "term",
            "r_tfidf",
            "r_bm25",
            F.round(
                1.0 / (k_const + F.col("r_tfidf")) + 1.0 / (k_const + F.col("r_bm25")),
                6,
            ).alias("rrf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("rrf"), F.asc("term"))
    return fused.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= top_k
    )


def similar_docs(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Term-space more-like-this: top-k most cosine-similar documents
    per document over L2-normalized tfidf vectors (classic sparse
    retrieval, public knowledge) — the lexical complement of the
    embedding-space ANN operators.

    Returns (id_col, other_id, cos_sim, rank), SYMMETRIC per-doc top-k
    (both directions of every pair are ranked); cos rounded 6dp before
    the rank so a ulp never decides the cut, ties to the smaller other
    id.

    Scale shape: the only pair generator is a term-keyed self-join of
    the sparse vectors — pair volume is sum over terms of df(t)^2, and
    `max_df` is the knob that drops stop-like terms (df > cap) before
    the join, the standard sparse-similarity pruning; their tfidf mass
    is near zero anyway. The filter applies BEFORE the norms too, so
    cos_sim is the TRUE cosine of the pruned vectors (numerator and
    denominator over the same term set — r6 ADVICE caught the
    full-norm denominator deflating similarities when max_df was set).
    Norms are doc-dimension; dot products reduce map-side on (a, b)."""
    base = _term_stats_base(docs, id_col, text_col)
    vec = base.select(
        F.col(id_col),
        "term",
        "df",
        (F.col("tf") * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1)).alias(
            "w"
        ),
    )
    if max_df is not None:
        vec = vec.where(F.col("df") <= max_df)
    vec = vec.localCheckpoint(eager=False)  # feeds norms AND both join sides
    norms = vec.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("_nrm")
    )
    a = vec.select(F.col(id_col).alias("_ida"), "term", F.col("w").alias("_wa"))
    b = vec.select(F.col(id_col).alias("_idb"), "term", F.col("w").alias("_wb"))
    dots = (
        a.join(b, "term")
        .where(F.col("_ida") < F.col("_idb"))
        .groupBy("_ida", "_idb")
        .agg(F.sum(F.col("_wa") * F.col("_wb")).alias("_dot"))
    )
    cos = (
        dots.join(norms.select(F.col(id_col).alias("_ida"), F.col("_nrm").alias("_na")), "_ida")
        .join(norms.select(F.col(id_col).alias("_idb"), F.col("_nrm").alias("_nb")), "_idb")
        .select(
            "_ida",
            "_idb",
            F.round(
                F.col("_dot") / F.nullif(F.col("_na") * F.col("_nb"), F.lit(0.0)), 6
            ).alias("cos_sim"),
        )
    )
    sym = cos.select(
        F.col("_ida").alias(id_col), F.col("_idb").alias("other_id"), "cos_sim"
    ).unionByName(
        cos.select(
            F.col("_idb").alias(id_col), F.col("_ida").alias("other_id"), "cos_sim"
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cos_sim"), F.asc("other_id"))
    return sym.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int | None = None,
) -> DataFrame:
    """Pointwise-mutual-information collocation mining (Church & Hanks
    1990, "Word Association Norms, Mutual Information, and
    Lexicography") — the classic phrase detector (word2vec's phrase
    pass uses the same score):

        pmi(x, y) = ln( (c_xy / B) / ((c_x / N) * (c_y / N)) )

    over adjacent whitespace bigrams; c_xy from the shared ngrams_sql
    definition, B = total bigrams, N = total tokens. Pairs below
    min_count are dropped (PMI's known low-count pathology). Returns
    (term_a, term_b, n_pair, pmi) — optionally only the top_k by
    (pmi desc, pair) with rank.

    100 TB shape: one token agg + one bigram agg (both map-side
    combined), two term-keyed joins against the open-vocab unigram
    dimension (deliberately NOT broadcast), scalars by broadcast cross
    join; top_k (if set) via one window over the min_count-filtered
    survivors. PMI is floor-quantized to nano-units (single ln per
    surviving pair), so ranking ties cannot straddle engines.
    """
    toks = docs.select(
        F.explode(F.split(F.col(text_col), "\\s+")).alias("_t")
    ).where(F.col("_t") != "")
    uni = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
    # ONE corpus bigram pass: the unfiltered pair counts (a vocab^2-bounded
    # dimension) feed BOTH the total-bigram scalar and the min_count
    # survivors — no second explode over the corpus (the dsir/ADVICE
    # shared-subtree rule); checkpointed because two consumers reference it
    bi_all = (
        docs.select(F.explode(F.expr(ngrams_sql(text_col, 2))).alias("_g"))
        .select(
            F.split(F.col("_g"), " ")[0].alias("term_a"),
            F.split(F.col("_g"), " ")[1].alias("term_b"),
        )
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .localCheckpoint(eager=False)
    )
    bi = bi_all.where(F.col("n_pair") >= min_count)
    scal = uni.agg(F.sum("_c").alias("_N")).crossJoin(
        bi_all.agg(F.sum("n_pair").alias("_B"))
    )
    scored = (
        bi.join(uni.select(F.col("_t").alias("term_a"), F.col("_c").alias("_ca")), "term_a")
        .join(uni.select(F.col("_t").alias("term_b"), F.col("_c").alias("_cb")), "term_b")
        .crossJoin(F.broadcast(scal))
        .select(
            "term_a",
            "term_b",
            "n_pair",
            F.floor(
                F.log(
                    (F.col("n_pair") / F.col("_B"))
                    / ((F.col("_ca") / F.col("_N")) * (F.col("_cb") / F.col("_N")))
                )
                * 1e9
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("_pmi_nano"),
        )
    )
    out = scored.select(
        "term_a",
        "term_b",
        "n_pair",
        ((F.expr("_pmi_nano div 1000L")) / F.lit(1e6)).alias("pmi"),
        F.col("_pmi_nano").alias("_rankkey"),
    )
    if top_k is not None:
        w = Window.orderBy(F.desc("_rankkey"), F.asc("term_a"), F.asc("term_b"))
        out = out.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= top_k
        )
    return out.drop("_rankkey")


def kneser_ney_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> DataFrame:
    """Per-document cross-entropy under an interpolated Kneser-Ney
    bigram LM (Kneser & Ney 1995; Chen & Goodman 1998 — the principled
    counterpart to bigram_backoff_scores' Stupid Backoff), trained on
    the corpus itself:

      p(cur|prev) = (max(c(prev,cur) - D, 0)
                     + D * N1+(prev,*) * p_cont(cur)) / c(prev,*)
      p_cont(cur) = N1+(*,cur) / N1+(*,*)

    — absolute discounting with the continuation-probability backoff
    that makes KN the standard n-gram smoother. Returns
    (id_col, n_bigrams, kn_cross_entropy, kn_ppl); docs with < 2 tokens
    get NULL scores with n_bigrams = 0. Self-trained, every scored
    bigram exists in the LM, so no OOV path fires (train/score split is
    one parameter away if needed).

    Plan shape mirrors bigram_backoff_scores: grams via THE codegen'd
    lookahead regex, the bigram table built once and localCheckpointed
    (FOUR consumers: left totals, continuation counts, type total, the
    scoring join — the shared-subtree rule), LM dimensions joined on
    gram/term keys (web-vocab-sized, deliberately NOT broadcast), the
    type-total scalar broadcast. Per-bigram ln p is floor-quantized to
    nano-units and accumulated as BIGINT (summation-order independent);
    p itself is one fixed IEEE expression over integer counts, so the
    whole score replays exactly cross-engine.
    """
    grams = F.explode(F.expr(ngrams_sql(text_col, 2))).alias("gram")
    big = (
        docs.select(grams)
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cb"))
        .withColumn("_prev", F.expr("split_part(gram, ' ', 1)"))
        .withColumn("_cur", F.expr("split_part(gram, ' ', 2)"))
        .localCheckpoint(eager=False)
    )
    left = big.groupBy("_prev").agg(
        F.sum("cb").alias("cl"), F.count(F.lit(1)).alias("n1l")
    )
    right = big.groupBy("_cur").agg(F.count(F.lit(1)).alias("n1r"))
    tot = big.agg(F.count(F.lit(1)).alias("_T"))
    doc_big = (
        docs.select(F.col(id_col), grams)
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    d = repr(float(discount)) + "d"
    lp_nano = F.expr(
        f"cast(floor(ln((greatest(cast(cb as double) - {d}, 0d)"
        f" + {d} * cast(n1l as double) * (cast(n1r as double) / cast(_T as double)))"
        f" / cast(cl as double)) * 1e9 + 0.5d) as bigint)"
    )
    scored = (
        doc_big.join(big.select("gram", "cb", "_prev", "_cur"), "gram")
        .join(left, "_prev")
        .join(right, "_cur")
        .crossJoin(F.broadcast(tot))
        .withColumn("_lp", lp_nano)
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_bigrams"),
            (-F.sum(F.col("tf") * F.col("_lp"))).alias("_num"),
        )
        .withColumn("_ce_nano", F.expr("_num div n_bigrams"))
    )
    return docs.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        ((F.expr("_ce_nano div 1000L")) / F.lit(1e6)).alias("kn_cross_entropy"),
        (
            F.floor(F.exp(F.col("_ce_nano") / F.lit(1e9)) * 1e6 + F.lit(0.5)) / 1e6
        ).alias("kn_ppl"),
    )


def heaps_fit(
    docs: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (Heaps 1978; the companion
    diagnostic to zipf_fit): V = K * N^beta over per-group
    (N = tokens, V = distinct terms) points — natural text fits with
    beta ~ 0.4-0.6 and high r2; template/boilerplate corpora saturate
    (beta -> 0). OLS on (ln N, ln V). Returns one row
    (n_points, beta, log_k, r2); < 2 points yields NULL fit values.

    Exactness: unlike zipf_fit's vocab-sized regression (which keeps
    the accepted unordered-double-sum discipline), the point set here
    is GROUP-dimension-sized, so the sufficient statistics are exact:
    ln quantized to integer micro-units per point, all sums/products
    BIGINT (|ln| <= ~36 -> x*y <= 1.3e15, n*sxy <= 2^63 far above any
    realistic group count), and the closed form is one deterministic
    IEEE evaluation of exact integers. Plan: one (group, term) hash
    agg -> one group agg -> one 1-row agg.
    """
    toks = docs.select(
        F.col(group_col).alias("_g"),
        F.explode(F.split(F.col(text_col), "\\s+")).alias("_t"),
    ).where(F.col("_t") != "")
    per = (
        toks.groupBy("_g", "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("_g")
        .agg(F.sum("_c").alias("_N"), F.count(F.lit(1)).alias("_V"))
    )
    pts = per.select(
        F.floor(F.log(F.col("_N").cast("double")) * 1e6 + F.lit(0.5))
        .cast("bigint")
        .alias("x"),
        F.floor(F.log(F.col("_V").cast("double")) * 1e6 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.nullif(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        F.lit(0.0),
    )
    deny = F.nullif(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"),
        F.lit(0.0),
    )
    beta = num / den
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return s.select(
        F.col("n").cast("bigint").alias("n_points"),
        r6(beta).alias("beta"),
        r6(
            (F.col("sy").cast("double") - beta * F.col("sx").cast("double"))
            / (F.col("n").cast("double") * F.lit(1e6))
        ).alias("log_k"),
        r6(num * num / (den * deny)).alias("r2"),
    )


def sppmi_cooccurrence(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 2,
    shift: int = 1,
    min_count: int = 5,
) -> DataFrame:
    """Shifted positive PMI word-context co-occurrence matrix (Levy &
    Goldberg 2014, "Neural Word Embedding as Implicit Matrix
    Factorization"): the sparse matrix whose SVD is word2vec-SGNS —
    the embedding-training prep op.

        sppmi(w, c) = max(0, ln(n_wc * N_pairs / (n_w* * n_*c)) - ln(shift))

    over symmetric +-window token co-occurrences; pairs below min_count
    are dropped (the standard sparsification). Returns
    (word, context, n_cooc, sppmi) with sppmi > 0 rows only (zeros ARE
    the matrix's implicit entries).

    100 TB shape: pair generation is an EQUI-join on (doc, position) —
    each token explodes its `window` forward offsets and joins the
    token at pos+off, so a doc costs O(len * window), never the
    len^2 doc-local cartesian a plain doc-keyed self-join would give;
    both directions are counted from the one ordered pair set.
    Marginals are two open-vocab hash aggs of the PAIR dimension (w
    and c marginals of the symmetrized matrix), joined on term keys —
    not broadcast; the scalar total crosses broadcast. ln quantized
    nano once per surviving pair.
    """
    toks = docs.select(
        F.col(id_col).alias("_rid"),
        F.posexplode(
            F.expr(f"filter(split(trim({text_col}), '\\\\s+'), t -> t != '')")
        ).alias("_pos", "_t"),
    )
    offs = toks.select(
        "_rid",
        "_pos",
        F.col("_t").alias("_w"),
        F.explode(F.sequence(F.lit(1), F.lit(window))).alias("_off"),
    ).select("_rid", (F.col("_pos") + F.col("_off")).alias("_pos"), "_w")
    ordered = offs.join(
        toks.select("_rid", "_pos", F.col("_t").alias("_c")), ["_rid", "_pos"]
    ).select("_w", "_c")
    # symmetrize: every unordered co-occurrence counts once per direction
    sym = ordered.unionByName(
        ordered.select(F.col("_c").alias("_w"), F.col("_w").alias("_c"))
    )
    pairs = (
        sym.groupBy("_w", "_c")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
        .localCheckpoint(eager=False)
    )
    wm = pairs.groupBy("_w").agg(F.sum("n_cooc").alias("_nw"))
    cm = pairs.groupBy("_c").agg(F.sum("n_cooc").alias("_nc"))
    tot = pairs.agg(F.sum("n_cooc").alias("_N"))
    lnv = F.log(
        (F.col("n_cooc").cast("double") * F.col("_N").cast("double"))
        / (F.col("_nw").cast("double") * F.col("_nc").cast("double"))
    ) - F.log(F.lit(float(shift)))
    scored = (
        pairs.where(F.col("n_cooc") >= min_count)
        .join(wm, "_w")
        .join(cm, "_c")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("_w").alias("word"),
            F.col("_c").alias("context"),
            "n_cooc",
            F.greatest(
                F.floor(lnv * 1e9 + F.lit(0.5)).cast("bigint"), F.lit(0).cast("bigint")
            ).alias("_nano"),
        )
    )
    return scored.where(F.col("_nano") > 0).select(
        "word",
        "context",
        "n_cooc",
        ((F.expr("_nano div 1000L")) / F.lit(1e6)).alias("sppmi"),
    )


def source_diversity(
    docs: DataFrame, group_col: str = "source", weight: str = "docs"
) -> DataFrame:
    """Corpus diversity indices over the group (source/domain/language)
    distribution — the standard data-mix report card (Shannon 1948
    entropy; Simpson 1949 index; 'effective number' = exp(H), Hill
    numbers): a training mix dominated by one domain shows low entropy
    long before a sample eyeball does.

    weight='docs' counts documents; 'tokens' weights by token count.
    Returns one row: (n_groups, shannon_entropy, effective_groups,
    simpson, max_share). Exactness: group counts are integers; p_i
    enters once per group as an IEEE division, ln quantized to
    nano-units and summed as BIGINT (order-independent); simpson and
    max_share are built from integer counts and one division each.
    Plan: one corpus hash agg to the group dimension + one 1-row agg.
    """
    if weight == "docs":
        per = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("_c"))
    elif weight == "tokens":
        per = (
            docs.select(
                F.col(group_col),
                F.expr("regexp_count(text, '\\\\S+')").alias("_n"),
            )
            .groupBy(group_col)
            .agg(F.sum("_n").alias("_c"))
        )
    else:
        raise ValueError("weight must be 'docs' or 'tokens'")
    tot = per.agg(F.sum("_c").alias("_N"))
    terms = per.crossJoin(F.broadcast(tot)).select(
        "_c",
        "_N",
        # -p ln p in nano-units, one quantization per group
        (
            -F.floor(
                (F.col("_c") / F.col("_N"))
                * F.log(F.col("_c") / F.col("_N"))
                * 1e9
                + F.lit(0.5)
            ).cast("bigint")
        ).alias("_h_nano"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("_h_nano").alias("_H"),
        F.sum(F.col("_c") * F.col("_c")).alias("_sq"),
        F.max("_c").alias("_mx"),
        F.max("_N").alias("_N"),
    )
    h = F.col("_H") / F.lit(1e9)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return agg.select(
        F.col("n_groups").cast("bigint").alias("n_groups"),
        r6(h).alias("shannon_entropy"),
        r6(F.exp(h)).alias("effective_groups"),
        r6(
            F.lit(1.0)
            - F.col("_sq") / (F.col("_N").cast("double") * F.col("_N").cast("double"))
        ).alias("simpson"),
        r6(F.col("_mx") / F.col("_N").cast("double")).alias("max_share"),
    )

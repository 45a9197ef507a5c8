"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All hash math uses md5 (JVM built-in, whole-stage codegen) truncated to 60
bits via conv(hex,16,10) so results are engine-portable: the DuckDB oracle
reproduces every value bit-for-bit with `('0x'||substr(md5(x),1,15))::BIGINT`.
No Python in any hot path — every batch operator here is pure Catalyst
(`simhash64_arrow`, the streaming SimHash kernel, is the one Arrow UDF).

Scale design:
- exact: one hash-aggregate (partial+final) on md5(text) — the canonical
  100 TB first pass.
- MinHash/LSH: per-doc signature is k partial-aggregated MINs over the
  exploded shingles (hashes computed once per distinct gram); candidate
  generation is a self-equi-join on (band_id, band_sig) — shuffle keyed on
  band signatures, which are uniform by construction (no skew). Band count
  tunes recall/cost; signatures are 16 longs/doc regardless of doc size.
- SimHash: per-token 60-bit hashes exploded and bit-counted in one
  partial aggregation per doc; near-dup blocking joins on 15-bit chunks
  (Hamming<=3 guarantees a matching chunk by pigeonhole).
- n-gram Jaccard: exact verifier on LSH candidates (size-ratio prefilter,
  then bitset AND+bit_count or int-array intersect), never run all-pairs
  at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

H60 = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"

# jaccard_verify_pairs bitmap encoding cutoff: up to this many distinct
# grams, per-doc sets pack into <= 64 BIGINT words (512 bytes) — smaller
# than the int-array form whenever docs average > ~1.5% vocab coverage,
# and always cheaper to intersect (AND+bit_count vs hash probes)
_BITSET_MAX_VOCAB = 4096


def pad_bigint19(c: str, op: str) -> F.Column:
    """Zero-pad a non-negative bigint id to 19 digits (bigint max width)
    so the STRING min-label of canonicalize.connected_components equals
    the numeric min. THE one definition of this device — Spark lpad
    TRUNCATES longer inputs, so a narrower pad silently merges unrelated
    ids once they pass 10^12; the negative-id raise lives inside the
    used expression (not a droppable check column) so Catalyst cannot
    prune it. `op` labels the error."""
    return (
        F.when(F.col(c) < 0, F.raise_error(F.lit(f"{op}: negative {c}")))
        .otherwise(F.lpad(F.col(c).cast("string"), 19, "0"))
    )


def _h60(x: str) -> str:
    return H60.format(x=x)


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicated content hash."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_dups") > 1)
    )


def shingle_expr(text_col: str, n: int = 3) -> str:
    """Distinct character n-gram shingles of lower(text) as ARRAY<STRING>.

    Value-identical to the original interpreted form
    array_distinct(transform(sequence(1, greatest(len-(n-1), 1)), i ->
    substr(lower(text), i, n))) but the gram enumeration is ONE codegen'd
    lookahead regex pass ((?s)(?=(.{n})). — the consumed '.' advances one
    char while the lookahead captures the n-char window; same device as
    textstats.ngrams_sql), instead of ~len interpreted lambda evals per
    doc. Sub-n-length docs take the transform's single-element branch
    (substr(text, 1, n) of a short string = the whole string); NULL text
    propagates NULL through both forms."""
    return (
        f"case when length({text_col}) < {n} then array(lower({text_col}))"
        f" else array_distinct(regexp_extract_all(lower({text_col}), '(?s)(?=(.{{{n}}})).', 1)) end"
    )


def minhash_signature(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 16,
    n: int = 3, shingle_col: str | None = None,
) -> DataFrame:
    """(id, minhash ARRAY<BIGINT> length k): k-permutation MinHash over
    the shingle set, fully codegen'd. Explode the shingle set, compute
    the k salted md5 hashes per shingle inside WholeStageCodegen, reduce
    with k partial-aggregated MINs keyed on the doc id (one k-long row
    per doc crosses the shuffle — guide §2.3/§4.1). An interpreted
    `array_min(transform(...))` form pays k x |shingles| lambda evals
    per doc; that was the dominant cost of the LSH stage in
    training_data_prep (r8 measurement). min() over the exploded
    (non-distinct-safe) rows equals array_min over the distinct set —
    duplicates cannot change a minimum — and a NULL/empty shingle array
    yields the all-NULL signature via explode_outer + min's NULL-skipping.
    The DuckDB oracle (`__spark_entry__._minhash_duck`) replays it as
    list_min over the shingle list.

    `shingle_col` reuses a precomputed shingle array (cf.
    jaccard_verify_pairs) instead of re-running the shingle regex.

    Second lever: the k salted md5 hashes are computed once per DISTINCT
    gram (the gram vocabulary is a bounded dimension — ~charset^n — while
    gram occurrences scale with the corpus) and attached back by a
    broadcast join, the same dedup-then-join shape as the lemma attach
    (operators/annotate). At sf1.0 this cut the hash count from
    |occurrences| x k (~216M md5) to |vocab| x k."""
    sh = F.col(shingle_col) if shingle_col is not None else F.expr(shingle_expr(text_col, n))
    ex = docs.select(F.col(id_col), sh.alias("_msh")).select(
        id_col, F.explode_outer("_msh").alias("_s")
    )
    hdict = ex.select("_s").where(F.col("_s").isNotNull()).dropDuplicates().select(
        "_s", *[F.expr(_h60(f"concat('{j}:', _s)")).alias(f"_h{j}") for j in range(k)]
    )
    # left join: the explode_outer NULL row of an empty/NULL shingle array
    # must survive with all-NULL hashes so the doc keeps its all-NULL
    # signature
    joined = ex.join(F.broadcast(hdict), "_s", "left")
    mins = [F.min(f"_h{j}").alias(f"_m{j}") for j in range(k)]
    return joined.groupBy(id_col).agg(*mins).select(
        id_col, F.array(*[F.col(f"_m{j}") for j in range(k)]).alias("minhash")
    )


def _band_rows(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """Every column of a frame carrying `minhash ARRAY<BIGINT>` plus
    (band_id, band_sig), one row per band — THE one definition of
    band-signature assembly: batch LSH, the fused plans/dataprep path and
    the streaming dedup store all band through it."""
    rows_per_band = k // bands
    return sig.select(
        "*",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> struct(b as band_id,"
                f" md5(array_join(slice(minhash, b * {rows_per_band} + 1, {rows_per_band}), '_')) as band_sig))"
            )
        ).alias("band"),
    ).select(*sig.columns, "band.band_id", "band.band_sig")


def _candidate_pairs_from_banded(
    banded: DataFrame, id_col: str, max_bucket: int | None
) -> DataFrame:
    """Hot-bucket cap + band self-equi-join + pair dedup over (id,
    band_id, band_sig) rows — THE one definition (shared with the fused
    plans/dataprep path)."""
    if max_bucket is not None:
        w = Window.partitionBy("band_id", "band_sig")
        banded = banded.withColumn("_bn", F.count(F.lit(1)).over(w)).where(
            F.col("_bn") <= max_bucket
        ).drop("_bn")
    a = banded.select(F.col(id_col).alias("doc_a"), "band_id", "band_sig")
    b = banded.select(F.col(id_col).alias("doc_b"), "band_id", "band_sig")
    return (
        a.join(b, ["band_id", "band_sig"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "band_id")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _banded_signatures(
    docs: DataFrame, id_col: str, text_col: str, k: int, bands: int, n: int,
    shingle_col: str | None = None,
) -> DataFrame:
    """(id, minhash, band_id, band_sig) — one row per doc per band."""
    return _band_rows(minhash_signature(docs, id_col, text_col, k, n, shingle_col), k, bands)


def lsh_candidate_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 16, bands: int = 4, n: int = 3, max_bucket: int | None = None,
    shingle_col: str | None = None,
) -> DataFrame:
    """LSH banding: docs agreeing on any band of k/bands minhashes.

    Returns (doc_a, doc_b, band_id) candidate pairs, doc_a < doc_b.

    `max_bucket` guards the quadratic blowup on a hot band signature (K
    boilerplate near-identical docs => K^2/2 pairs through ONE shuffle key):
    buckets with more than max_bucket members emit no pairs here. Those
    buckets are near-certain duplicate *clusters*, not pairs — recover them
    with `oversized_band_buckets` (bucket -> member list, linear cost) or
    route them to `exact_duplicates`. Documented recall note: a true
    near-dup pair is missed only if EVERY band it agrees on is oversized."""
    banded = _banded_signatures(docs, id_col, text_col, k, bands, n, shingle_col)
    return _candidate_pairs_from_banded(banded, id_col, max_bucket)


def oversized_band_buckets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 16, bands: int = 4, n: int = 3, max_bucket: int = 1024,
    shingle_col: str | None = None,
) -> DataFrame:
    """Band buckets too hot for pairwise expansion, as clusters:
    (band_id, band_sig, n_members, member_ids ARRAY) — linear in corpus
    size. At web scale these are boilerplate families; dedup keeps
    min(member_ids) per cluster without ever materializing the pairs."""
    banded = _banded_signatures(docs, id_col, text_col, k, bands, n, shingle_col)
    return (
        banded.groupBy("band_id", "band_sig")
        .agg(F.count(F.lit(1)).alias("n_members"), F.sort_array(F.collect_list(id_col)).alias("member_ids"))
        .where(F.col("n_members") > max_bucket)
    )


def _size_bound() -> F.Column:
    """round(min(|A|,|B|) / max(|A|,|B|), 6) over the `_sza`/`_szb` set
    sizes — the Jaccard upper bound (the intersection is bounded by the
    smaller set, the union by the larger). round() is monotone
    non-decreasing, so `_size_bound() >= threshold` drops no pair whose
    round(jaccard, 6) passes. Two empty sets give NULL, which no
    threshold passes."""
    return F.round(
        F.least("_sza", "_szb")
        / F.nullif(F.greatest("_sza", "_szb").cast("double"), F.lit(0.0)),
        6,
    )


def _bitset_words(nwords: int) -> list[F.Column]:
    """Partial-aggregatable bit_or aggregates packing dense gram ids
    `_gid` into `nwords` BIGINT words `_w0.._w{nwords-1}` per group."""
    return [
        F.expr(
            f"bit_or(case when _gid div 64 = {w}"
            f" then shiftleft(1L, cast(_gid % 64 as int)) else 0L end)"
        ).alias(f"_w{w}")
        for w in range(nwords)
    ]


def _bitset_side(enc: DataFrame, id_col: str, side: str, nwords: int, *cols: F.Column) -> DataFrame:
    """One pair side of a `_bitset_words` encoding: the id as `doc_{side}`
    and word `_w{w}` as `_{side}w{w}`, plus `cols`."""
    return enc.select(
        F.col(id_col).alias(f"doc_{side}"), *cols,
        *[F.col(f"_w{w}").alias(f"_{side}w{w}") for w in range(nwords)],
    )


def _bitset_intersection(nwords: int) -> F.Column:
    """|A ∩ B| of two `_bitset_side` encodings: AND + bit_count per word."""
    return F.expr(" + ".join(f"bit_count(_aw{w} & _bw{w})" for w in range(nwords)))


def _jaccard(inter: F.Column) -> F.Column:
    """round(|A ∩ B| / |A ∪ B|, 6) with |A ∪ B| = `_sza` + `_szb` - |A ∩ B|."""
    return F.round(inter / (F.col("_sza") + F.col("_szb") - inter), 6)


def jaccard_verify_pairs(
    pairs: DataFrame, docs: DataFrame, id_col: str = "doc_id",
    text_col: str = "text", n: int = 3, threshold: float = 0.5,
    shingle_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard verification of a CANDIDATE pair list.

    This is the scale shape: cost is O(|pairs|), never all-pairs — feed it
    `lsh_candidate_pairs` (or `simhash_near_dups`) output. Shingle sets are
    joined onto both pair sides by id (two shuffles keyed on doc id, which
    is uniform); the Jaccard math is pure Catalyst expressions.

    `shingle_col` names a PRECOMPUTED array<string> column in `docs`: the
    shingle regex otherwise runs per doc per side, so callers that
    materialize docs anyway (plans/dataprep) should compute shingles once
    into the materialized set and pass the column.

    Size-bound prefilter (guide §8 "decide with small rows, move big rows
    once"): pairs whose `_size_bound` already fails the threshold are
    dropped using two narrow integer joins before the encoded sets are
    ever shuffled per pair. Measured at sf1.0: 320k candidate pairs ->
    set attach only for the surviving fraction. The same path serves
    every threshold; a pair with a NULL or empty set never verifies."""
    if shingle_col is not None:
        sh = docs.select(F.col(id_col), F.col(shingle_col).alias("_sh"))
    else:
        sh = docs.select(F.col(id_col), F.expr(shingle_expr(text_col, n)).alias("_sh"))

    # size-ratio prefilter; the sizes ride along so union never needs the
    # encoded sets' width later (|A ∪ B| = |A| + |B| - |A ∩ B|)
    sizes = sh.select(F.col(id_col), F.size("_sh").alias("_sz"))
    cand = (
        pairs.select("doc_a", "doc_b")
        .join(sizes.select(F.col(id_col).alias("doc_a"), F.col("_sz").alias("_sza")), "doc_a")
        .join(sizes.select(F.col(id_col).alias("doc_b"), F.col("_sz").alias("_szb")), "doc_b")
        .where(_size_bound() >= threshold)
    )

    # |A ∩ B| is invariant under ANY injective gram -> id map, so the
    # jaccard values below are bit-identical to intersecting the string
    # sets. Two exact encodings, picked by the measured gram-vocabulary
    # size (one vocab-dimension count):
    #  - vocab <= _BITSET_MAX_VOCAB: dense-rank ids (provably injective,
    #    shared prefix-sum device) packed into ceil(v/64) BIGINT words per
    #    doc via partial-aggregated bit_or — the per-doc payload collapses
    #    map-side (no gram-volume collect shuffle) and the per-pair
    #    intersection is a handful of codegen'd AND+bit_count ops.
    #  - larger vocab (sparse docs): 64-bit xxhash ids as sorted-free int
    #    arrays; injectivity VERIFIED on this corpus with one aggregate
    #    (collision — vanishingly rare below ~2^32 grams — falls back to
    #    the dense rank), array_intersect on ints ~5x cheaper than strings.
    grams = sh.select(F.col(id_col), F.explode("_sh").alias("_s"))
    # checkpoint the (tiny) vocab dimension: the count here plus the
    # prefix-sum rank's own count/boundary-sample actions would otherwise
    # each re-run the gram explode+distinct over the corpus
    vocab = grams.select("_s").dropDuplicates().localCheckpoint()
    n_vocab = vocab.count()
    if n_vocab <= _BITSET_MAX_VOCAB:
        from .ranges import exclusive_prefix_sum

        dct = exclusive_prefix_sum(vocab, [F.col("_s")], F.lit(1), out_col="_gid")
        ids = grams.join(F.broadcast(dct), "_s").select(F.col(id_col), "_gid")
        nwords = max(1, (n_vocab + 63) // 64)
        # eager checkpoint: feeds BOTH pair sides (Spark does not dedupe
        # identical subtrees across join branches — CLAUDE.md)
        enc = ids.groupBy(id_col).agg(*_bitset_words(nwords)).localCheckpoint()
        a = _bitset_side(enc, id_col, "a", nwords)
        b = _bitset_side(enc, id_col, "b", nwords)
        inter = _bitset_intersection(nwords)
    else:
        chk = vocab.agg(F.countDistinct(F.xxhash64("_s")).alias("nh")).collect()[0]
        if n_vocab == chk["nh"]:
            ids = grams.select(F.col(id_col), F.xxhash64("_s").alias("_gid"))
        else:  # collision: dense-rank dictionary, injective by construction
            from .ranges import exclusive_prefix_sum

            dct = exclusive_prefix_sum(vocab, [F.col("_s")], F.lit(1), out_col="_gid")
            ids = grams.join(F.broadcast(dct), "_s").select(F.col(id_col), "_gid")
        enc = ids.groupBy(id_col).agg(F.collect_list("_gid").alias("_shi")).localCheckpoint()
        a = enc.select(F.col(id_col).alias("doc_a"), F.col("_shi").alias("sh_a"))
        b = enc.select(F.col(id_col).alias("doc_b"), F.col("_shi").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", _jaccard(inter))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, threshold: float = 0.5, block_col: str | None = "lang",
) -> DataFrame:
    """Exact n-gram Jaccard, all pairs WITHIN a block — small-block tool only.

    At web scale one language is ~the whole corpus, making this a cartesian
    product: use `jaccard_verify_pairs(lsh_candidate_pairs(...), docs)`
    instead (that composition is what the driver query exercises). This form
    remains as the brute-force cross-check for fixture-sized blocks."""
    sh = docs.select(
        F.col(id_col), F.col(block_col).alias("_blk") if block_col else F.lit(1).alias("_blk"),
        F.expr(shingle_expr(text_col, n)).alias("_sh"),
    )
    a = sh.select(F.col(id_col).alias("doc_a"), "_blk", F.col("_sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), "_blk", F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        a.join(b, "_blk")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash64_arrow(docs: DataFrame, text_col: str = "text", out_col: str = "simhash") -> DataFrame:
    """Streaming SimHash kernel: every input column plus `out_col`.

    A stream cannot `groupBy` without a watermark, so streaming inputs
    take this per-row Arrow kernel instead of `simhash64_agg`; the two
    are bit-identical (suite-tested against the DuckDB oracle,
    `__spark_entry__._simhash_duck`)."""
    import hashlib

    import numpy as np

    from pyspark.sql import types as T

    schema = T.StructType(docs.schema.fields + [T.StructField(out_col, T.LongType())])

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sigs = []
            for text in pdf[text_col]:
                toks = [t for t in (text or "").lower().split(" ") if t]
                if not toks:
                    sigs.append(0)
                    continue
                hs = np.fromiter(
                    (int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16) for t in toks),
                    dtype=np.int64, count=len(toks),
                )
                bits = (hs[:, None] >> np.arange(60)) & 1
                maj = bits.sum(axis=0) * 2 >= len(toks)
                sigs.append(int((maj.astype(np.int64) << np.arange(60)).sum()))
            pdf = pdf.copy()
            pdf[out_col] = sigs
            yield pdf

    return docs.mapInPandas(run, schema=schema)


def simhash64_agg(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    out_col: str = "simhash",
) -> DataFrame:
    """(id_col, simhash): 64-bit SimHash over whitespace tokens, the
    batch kernel, fully codegen'd.

    Bit k of the signature = majority vote of bit k over per-token 60-bit
    md5 hashes (tokens weighted once each; >= breaks ties toward 1);
    documents with no token get 0. Every per-token op stays inside
    WholeStageCodegen: explode tokens -> one 60-bit md5 hash per token ->
    60 partial-aggregated bit-count sums keyed on the doc id -> majority
    assembly as a pure projection. A document's exploded tokens stay in
    its scan partition, so partial (map-side) aggregation collapses to
    ONE 61-long row per doc before the shuffle (guide §2.3 "aggregate
    before you shuffle") — the scale-safe shape at any corpus size.
    Requires a doc id column to group on. Timings: OPTIMIZATION_r08.md §1."""
    toks = docs.select(
        F.col(id_col),
        F.explode_outer(F.split(F.lower(F.col(text_col)), " ")).alias("_t"),
    )
    # invalid tokens ('' from split, NULL text) carry a NULL hash: count()
    # skips them and every bit-sum conditions on them, so n and the bit
    # counts see exactly the non-empty tokens
    hashed = toks.select(
        id_col,
        F.when(F.col("_t").isNotNull() & (F.col("_t") != ""), F.expr(_h60("_t"))).alias("_h"),
    )
    bit_sums = [
        F.sum(F.when(F.expr(f"(_h div {1 << k}) % 2") == 1, 1).otherwise(0)).alias(f"_b{k}")
        for k in range(60)
    ]
    agg = hashed.groupBy(id_col).agg(F.count("_h").alias("_n"), *bit_sums)
    bit_terms = " + ".join(
        f"(case when _b{k} * 2 >= _n then cast({1 << k} as bigint) else 0L end)"
        for k in range(60)
    )
    return agg.select(
        id_col,
        F.expr(f"case when _n = 0 then 0L else {bit_terms} end").alias(out_col),
    )


def simhash_near_dups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 15-bit chunks (pigeonhole: any
    pair with Hamming<=3 over 60 bits shares at least one of 4 chunks),
    verify Hamming exactly with bit_count(xor). Batch inputs take
    `simhash64_agg`, streaming inputs `simhash64_arrow` (no groupBy
    without a watermark); the signatures are bit-identical."""
    if docs.isStreaming:
        sig = simhash64_arrow(docs, text_col).select(id_col, "simhash")
    else:
        sig = simhash64_agg(docs, id_col, text_col)
    chunks = sig.select(
        id_col,
        "simhash",
        F.explode(
            F.expr("transform(sequence(0, 3), c -> struct(c as chunk_id, (simhash div shiftleft(1L, c * 15)) % 32768 as chunk))")
        ).alias("ch"),
    ).select(id_col, "simhash", "ch.chunk_id", "ch.chunk")
    a = chunks.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"), "chunk_id", "chunk")
    b = chunks.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"), "chunk_id", "chunk")
    return (
        a.join(b, ["chunk_id", "chunk"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.expr("bit_count(sig_a ^ sig_b)"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def near_dup_clusters(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 16, bands: int = 2, n: int = 3, max_bucket: int | None = 64,
    threshold: float = 0.9, shingle_col: str | None = None,
) -> DataFrame:
    """(doc_id, cluster_id) for every document in a verified near-dup
    cluster: full TRANSITIVE semantics — cluster_id is the smallest doc_id
    in the connected component of the verified-pair graph (cf. the greedy
    drop-the-larger rule in plans/dataprep, which can keep a doc whose
    only verified links are to other dropped docs). Keep-one dedup =
    drop every row where doc_id != cluster_id.

    Components run on the pair graph only (vastly smaller than the
    corpus); ids are zero-padded so the string min-label of
    canonicalize.connected_components equals the numeric min."""
    from .canonicalize import connected_components

    pairs = jaccard_verify_pairs(
        lsh_candidate_pairs(docs, id_col, text_col, k, bands, n, max_bucket, shingle_col),
        docs, id_col, text_col, n, threshold, shingle_col,
    )
    edges = pairs.select(
        pad_bigint19("doc_a", "near_dup_clusters").alias("src"),
        pad_bigint19("doc_b", "near_dup_clusters").alias("dst"),
    )
    comp = connected_components(edges)
    return comp.select(
        F.col("node").cast("bigint").alias(id_col),
        F.col("component").cast("bigint").alias("cluster_id"),
    )


def paragraph_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Paragraph-level exact dedup (RefinedWeb/FineWeb-style, public
    knowledge): split documents on newlines, keep each distinct
    non-empty paragraph only at its FIRST corpus occurrence (winner =
    min (id, position) — deterministic), and reassemble the survivors
    in original order. Kills cross-site boilerplate (navigation bars,
    footers, cookie banners) that document-level dedup cannot see.

    Returns id, text (deduped; '' when every paragraph was a repeat),
    n_paragraphs (non-empty, pre-dedup), n_removed.

    100 TB shape: one md5-keyed hash shuffle elects winners (uniform —
    a boilerplate line repeated 10^9 times collapses map-side in the
    min() partial agg), the keep-join reuses that partitioning, and the
    per-doc reassembly groups a document's OWN lines (bounded by doc
    size, the same contract as any per-doc collect)."""
    lines = (
        docs.select(F.col(id_col), F.posexplode(F.split(text_col, "\n")).alias("idx", "para"))
        .where(F.col("para") != "")
    )
    keyed = lines.withColumn("_h", F.md5("para"))
    winners = keyed.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("wid"), F.col("idx").alias("widx"))).alias("w")
    ).select("_h", F.col("w.wid").alias("wid"), F.col("w.widx").alias("widx"))
    kept = keyed.join(
        winners,
        (keyed["_h"] == winners["_h"])
        & (keyed[id_col] == winners["wid"])
        & (keyed["idx"] == winners["widx"]),
    ).select(keyed[id_col], keyed["idx"], keyed["para"])
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_paragraphs"))
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n", F.expr("transform(array_sort(collect_list(struct(idx, para))), x -> x.para)")
        ).alias("_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    return (
        docs.select(id_col)
        .join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("_text", F.lit("")).alias("text"),
            F.coalesce("n_paragraphs", F.lit(0)).alias("n_paragraphs"),
            (F.coalesce("n_paragraphs", F.lit(0)) - F.coalesce("_n_kept", F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm; public
    knowledge, no counterpart in the reference). Position-aware, unlike
    MinHash/SimHash: any shared substring of length >= k + w - 1 is
    GUARANTEED to produce a shared fingerprint, which is what makes it
    the standard for plagiarism/attribution rather than whole-doc
    similarity.

    Char k-grams of the whitespace-collapsed lower-cased text, 40-bit
    md5-derived gram hashes, and per sliding window of `w` consecutive
    grams the minimum (hash, pos) is selected; duplicate selections
    collapse. The (hash, pos) pair is packed into ONE bigint
    key = h40 * 2^22 + pos (40 + 22 bits < 63) so the window min is a
    plain bigint MIN on both engines — no struct-ordering semantics to
    align — and ties are impossible by construction (pos is injective).
    Docs with fewer than w grams select their single overall min (the
    paper's guarantee of >= 1 fingerprint per non-trivial doc); docs
    shorter than k chars yield no rows.

    Returns (id_col, pos, fp): 1-based gram position and 40-bit
    fingerprint. Scale shape: the window runs per (doc, pos) — a
    doc-keyed token-volume shuffle+sort, inherently required because
    winnowing is positional (cf. the ngrams_sql note: the regex trick
    cannot carry positions). Everything else is narrow; downstream
    matching joins on fp (see winnow_match_pairs). Cost note (measured
    sf0.1: 20s for 10M grams): the per-gram md5 hash is the dominant
    term; it is the hash the DuckDB oracle replays."""
    if k < 1 or w < 1:
        raise ValueError("winnow_fingerprints: k and w must be >= 1")
    norm = f"regexp_replace(lower(trim({text_col})), '\\\\s+', ' ')"
    grams = docs.select(
        F.col(id_col),
        F.posexplode(
            # guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of
            # being empty, so sub-k docs need an explicit empty array
            F.expr(
                f"case when length({norm}) < {k} then array()"
                f" else transform(sequence(1, length({norm}) - {k - 1}),"
                f" i -> substr({norm}, i, {k})) end"
            )
        ).alias("_p0", "gram"),
    ).select(
        id_col,
        (F.col("_p0") + 1).alias("pos"),
        # pos must fit the 22-bit field: a >4.19M-char doc would overflow
        # into the hash bits and SILENTLY corrupt fingerprints on both
        # engines (oracle parity can't catch it) — raise instead, inside
        # the used expression so Catalyst cannot prune the check
        F.when(
            F.col("_p0") + 1 >= (1 << 22),
            F.raise_error(
                F.lit(f"winnow_fingerprints: gram position >= 2^22; chunk the document first")
            ).cast("bigint"),
        )
        .otherwise(
            F.expr("cast(conv(substr(md5(gram), 1, 10), 16, 10) as bigint)")
            * F.lit(1 << 22) + F.col("_p0") + 1
        )
        .alias("_key"),
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    cnt = Window.partitionBy(id_col)
    sel = (
        grams.withColumn("_mk", F.min("_key").over(win))
        .withColumn("_ng", F.count(F.lit(1)).over(cnt))
        .where(F.col("pos") <= F.greatest(F.col("_ng") - (w - 1), F.lit(1)))
        .select(id_col, "_mk")
        .dropDuplicates()
    )
    # decode with INTEGER div: _mk holds up to 62 bits, and `/` is double
    # division (53-bit mantissa) — a rounding error there can shift fp by 1
    return sel.select(
        id_col,
        (F.col("_mk") % (1 << 22)).alias("pos"),
        F.expr(f"_mk div {1 << 22}").alias("fp"),
    )


def winnow_match_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Document pairs sharing >= min_shared winnowing fingerprints —
    the overlap-detection join over winnow_fingerprints. Same blocked
    shape as MinHash banding: a self-equi-join keyed on fp (never
    all-pairs), with ubiquitous fingerprints (boilerplate k-grams hot
    enough to exceed `max_bucket` docs) dropped before the join — the
    lsh_candidate_pairs cap discipline; coverage loss is boilerplate
    only, and the cap is the knob to turn at 100 TB."""
    fps = winnow_fingerprints(docs, id_col, text_col, k, w).select(
        id_col, "fp"
    ).dropDuplicates()
    if max_bucket is not None:
        sz = Window.partitionBy("fp")
        fps = (
            fps.withColumn("_n", F.count(F.lit(1)).over(sz))
            .where(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    a = fps.select(F.col(id_col).alias("doc_a"), "fp")
    b = fps.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def containment_pairs(
    pairs: DataFrame, docs: DataFrame, id_col: str = "doc_id",
    text_col: str = "text", n: int = 3, threshold: float = 0.8,
    shingle_col: str | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT verification of a candidate pair
    list (Broder 1997's containment measure, public knowledge): c(A,B)
    = |A ∩ B| / |A|. Catches the subset-duplicate case symmetric
    Jaccard misses — a short doc fully embedded in a long one has
    containment ~1 but Jaccard ~|A|/|B|, far below any dedup threshold.

    Same scale shape as jaccard_verify_pairs: O(|pairs|), two id-keyed
    joins, pure array expressions — feed it lsh_candidate_pairs (for
    high containment with small |A|, lower the LSH bands-per-row or
    feed winnow_match_pairs, whose shared-substring guarantee is
    containment-shaped). Emits one row per candidate pair with BOTH
    directions (containment_a_in_b, containment_b_in_a, rounded 6dp)
    where max(direction) >= threshold; empty shingle sets yield NULL
    containment for that direction (0/0), never a throw."""
    if shingle_col is not None:
        sh = docs.select(F.col(id_col), F.col(shingle_col).alias("_sh"))
    else:
        sh = docs.select(F.col(id_col), F.expr(shingle_expr(text_col, n)).alias("_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    c_ab = F.round(inter / F.nullif(F.size("sh_a").cast("double"), F.lit(0.0)), 6)
    c_ba = F.round(inter / F.nullif(F.size("sh_b").cast("double"), F.lit(0.0)), 6)
    return (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("containment_a_in_b", c_ab)
        .withColumn("containment_b_in_a", c_ba)
        .where(
            F.greatest(
                F.coalesce("containment_a_in_b", F.lit(0.0)),
                F.coalesce("containment_b_in_a", F.lit(0.0)),
            )
            >= threshold
        )
        .select("doc_a", "doc_b", "containment_a_in_b", "containment_b_in_a")
    )

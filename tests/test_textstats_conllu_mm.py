"""Text stats, CoNLL-U round trip, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from nlp_cube_spark.datagen import pages_df
from nlp_cube_spark.io import conllu as CU
from nlp_cube_spark.operators import annotate as A, multimodal as MM, textstats as TS


def test_lang_id(spark):
    rows = [
        (1, "the cat is in the house and it is happy", "x"),
        (2, "el perro esta en la casa y es feliz", "x"),
        (3, "le chat est dans la maison et les oiseaux", "x"),
        (4, "zzz qqq www", "x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r.lang_pred for r in TS.lang_id(docs).collect()}
    assert got == {1: "en", 2: "es", 3: "fr", 4: "und"}


def test_quality_and_tokens(spark):
    docs = spark.createDataFrame([(1, "The quick fox. It runs!", "en")], "doc_id long, text string, lang string")
    q = TS.quality_score(docs).collect()[0]
    assert q.n_tokens == 5 and 0 < q.quality <= 1
    t = TS.token_counts(docs).collect()[0]
    assert t.ws_tokens == 5 and t.pre_tokens == 7  # punct split in pre-tokens


def test_fingerprint_normalization_stable(spark):
    docs = spark.createDataFrame(
        [(1, "Hello  World", "en"), (2, "hello world", "en"), (3, " HELLO WORLD ", "en")],
        "doc_id long, text string, lang string",
    )
    fps = [r.fingerprint for r in TS.fingerprint(docs).orderBy("doc_id").collect()]
    assert fps[0] == fps[1] == fps[2]


def test_repetition_stats(spark):
    """Gopher-style counters on hand-computable docs, incl. degenerate
    shapes (empty text, single token, all-duplicate lines)."""
    rows = [
        # 6 tokens, bigram "a b" appears 2x -> top frac 2*2/6; two lines, dup
        (1, "a b c\na b c"),
        # no repetition: 3 distinct tokens, every bigram unique
        (2, "x y z"),
        (3, "solo"),      # 1 token -> no bigram -> NULL frac
        (4, ""),          # empty -> 0 tokens/lines, frac NULL, dup 0
        (5, "p p p p"),   # "p p" occurs 3x (overlapping) -> 3*2/4 = 1.5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in TS.repetition_stats(df).collect()}
    assert got[1]["n_tokens"] == 6 and got[1]["n_lines"] == 2
    assert got[1]["dup_line_frac"] == 0.5
    assert got[1]["top_ngram_frac"] == round(2 * 2 / 6, 6)
    assert got[2]["top_ngram_frac"] == round(2 / 3, 6)
    assert got[2]["dup_line_frac"] == 0.0
    assert got[3]["n_tokens"] == 1 and got[3]["top_ngram_frac"] is None
    assert got[4]["n_tokens"] == 0 and got[4]["n_lines"] == 0
    assert got[4]["dup_line_frac"] == 0.0 and got[4]["top_ngram_frac"] is None
    # overlapping repeats can exceed 1 (documented: token-coverage ESTIMATE)
    assert got[5]["top_ngram_frac"] == 1.5

    with pytest.raises(ValueError):
        TS.repetition_stats(df, n=0)


def test_source_mix(spark):
    rows = [
        (1, "same text", "s1"), (2, "same text", "s1"), (3, "other", "s1"),
        (4, "unique", "s2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r.asDict() for r in TS.source_mix(df).collect()}
    assert got["s1"]["n_docs"] == 3 and got["s1"]["n_unique_texts"] == 2
    assert got["s1"]["exact_dup_frac"] == round(1 - 2 / 3, 6)
    assert got["s2"]["exact_dup_frac"] == 0.0
    assert got["s2"]["avg_chars"] == 6.0


def test_conllu_roundtrip(spark):
    pages = pages_df(spark, 8, seed=77)
    words = A.annotate(pages).localCheckpoint()
    ser = CU.serialize_words(words).collect()
    assert len(ser) == 8
    txt = next(s.conllu for s in ser)
    # parse back and compare the word-level columns
    back = CU.parse_conllu_text(txt, url="u", lang="en")
    orig = words.where(F.col("url") == ser[0].url if False else F.lit(True))
    one = [r for r in words.collect() if r.url == ser[0].url]
    assert len(back) == len(one)
    bk = {(b["sent_id"], b["word_id"]): (b["form"], b["lemma"], b["upos"], b["head"], b["deprel"], b["space_after"]) for b in back}
    og = {(r.sent_id, r.word_id): (r.form, r.lemma, r.upos, r.head, r.deprel, r.space_after) for r in one}
    assert bk == og


def test_conllu_mwt_serialization(spark):
    pages = pages_df(spark, 60, seed=42)
    es = pages.where("lang = 'es'").limit(2)
    words = A.annotate(es)
    ser = CU.serialize_words(words).collect()
    assert any("-" in line.split("\t")[0] for s in ser for line in s.conllu.split("\n") if line)
    # MWT head row precedes its words and round-trips
    txt = ser[0].conllu
    back = CU.parse_conllu_text(txt)
    assert any(b["mwt_id"] > 0 for b in back)
    mwt_words = [b for b in back if b["mwt_id"] > 0]
    assert all(b["tok_form"] in ("al", "del") for b in mwt_words)


def test_read_conllu_scan(spark, tmp_path):
    pages = pages_df(spark, 4, seed=3)
    words = A.annotate(pages)
    for i, row in enumerate(CU.serialize_words(words).collect()):
        (tmp_path / f"doc{i}.conllu").write_text(row.conllu)
    df = CU.read_conllu(spark, str(tmp_path / "*.conllu"), lang="en")
    assert df.count() == words.count()
    assert df.where("head < 0").count() == 0


def test_multimodal_features(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(30)
    assets = MM.synth_assets(spark, docs)
    feats = MM.extract_features(assets, dim=8).collect()
    assert len(feats) == 30
    assert all(len(f.features) == 8 and f.n_bytes > 0 for f in feats)
    # deterministic across runs
    feats2 = MM.extract_features(MM.synth_assets(spark, docs), dim=8).collect()
    assert {(f.asset_id, f.content_hash) for f in feats} == {(f.asset_id, f.content_hash) for f in feats2}
    from nlp_cube_spark.kernels.mediacodec import MediaDecodeError

    with pytest.raises(MediaDecodeError):
        MM.decode_media(b"abc", "image", strict=True)


def test_external_mwt_spaceafter_roundtrip(spark):
    """External CoNLL-U with SpaceAfter=No on the MWT HEAD row: parse must
    propagate the token flag to covered words, the serializer must emit
    it on the head row (from the group's last word) with '_' on covered
    rows — byte-faithful round trip."""
    src = (
        "1\tEmma\tEmma\tPROPN\tNNP\t_\t2\tnsubj\t_\t_\n"
        "2\tviaja\tviajar\tVERB\tVBZ\t_\t0\troot\t_\t_\n"
        "3-4\tal\t_\t_\t_\t_\t_\t_\t_\tSpaceAfter=No\n"
        "3\ta\ta\tADP\tIN\t_\t5\tcase\t_\t_\n"
        "4\tel\tel\tDET\tDT\t_\t5\tdet\t_\t_\n"
        "5\tlibro\tlibro\tNOUN\tNN\t_\t2\tobl\t_\t_\n"
    )
    rows = CU.parse_conllu_text(src, url="u", lang="es")
    assert [r["space_after"] for r in rows if r["mwt_id"] > 0] == [False, False]
    from nlp_cube_spark.io.conllu import WORDS_SCHEMA

    df = spark.createDataFrame(rows, WORDS_SCHEMA)
    out_cat = CU.serialize_words(df).collect()[0].conllu
    assert out_cat == src + "\n" or out_cat == src  # trailing newline policy
    assert out_cat.rstrip("\n") == src.rstrip("\n")


def test_source_sampling_weights(spark):
    rows = [(i, "x", f"s{0 if i < 90 else 1}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r.asDict() for r in
           TS.source_sampling_weights(df, alpha=0.5).collect()}
    # p ∝ sqrt(share): 0.9 -> .9487, 0.1 -> .3162; normalized
    import math
    z = math.sqrt(0.9) + math.sqrt(0.1)
    assert got["s0"]["natural_frac"] == 0.9
    assert got["s0"]["weight"] == round(math.sqrt(0.9) / z, 6)
    assert got["s1"]["weight"] == round(math.sqrt(0.1) / z, 6)
    assert abs(got["s0"]["weight"] + got["s1"]["weight"] - 1.0) < 2e-6
    # alpha=1 reproduces the natural mix exactly
    nat = {r.source: r.weight for r in TS.source_sampling_weights(df, alpha=1.0).collect()}
    assert nat == {"s0": 0.9, "s1": 0.1}


def test_unigram_perplexity(spark):
    """Hand-checkable LM: corpus 'a a a b' -> p(a)=(3+.5)/(4+1), p(b)=(1+.5)/(4+1);
    a uniform doc of the common token scores LOWER ppl than one of the rare."""
    import math

    rows = [(1, "a a a"), (2, "b"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in TS.unigram_perplexity(df, k=0.5).collect()}
    pa, pb = 3.5 / 5, 1.5 / 5
    assert got[1]["ppl"] == round(math.exp(-math.log(pa)), 6)
    assert got[2]["ppl"] == round(math.exp(-math.log(pb)), 6)
    assert got[1]["ppl"] < got[2]["ppl"]
    assert got[1]["n_tokens"] == 3 and got[2]["cross_entropy"] == round(-math.log(pb), 6)
    assert got[3]["n_tokens"] == 0 and got[3]["ppl"] is None


def test_bigram_backoff_hand_computed(spark):
    """Hand-computable Stupid Backoff: LM = d1 only ('a b a b c' ->
    N=5, V=3, bigrams {'a b':2, 'b a':1, 'b c':1}). d1 scores its own
    hits, d2 mixes a hit ('a b' -> log10(2/2)=0) with an OOV backoff
    ('b z' -> log10(0.4 * (0+1)/(5+3))), d3 has no bigram -> NULL."""
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b c", "A"), (2, "a b z", "B"), (3, "q", "B")],
        "doc_id long, text string, source string",
    )
    out = {
        r.doc_id: r
        for r in TS.bigram_backoff_scores(docs, docs.where("source = 'A'")).collect()
    }
    assert out[1].n_bigrams == 4
    # d1: 2*log10(2/2) + log10(1/2) + log10(1/2), over 4 bigrams
    assert out[1].lm_score == round(2 * math.log10(0.5) / 4, 6)
    assert out[2].n_bigrams == 2
    assert out[2].lm_score == round((0.0 + math.log10(0.4 * 1 / 8)) / 2, 6)
    assert out[3].n_bigrams == 0 and out[3].lm_score is None


def test_bigram_backoff_self_trained_never_backs_off(spark):
    """Trained on itself, every doc bigram is in the LM: scores are
    finite and the miss branch is dead (no OOV log(0) risk)."""
    docs = spark.createDataFrame(
        [(1, "x y x", "A"), (2, "y x y", "B")], "doc_id long, text string, source string"
    )
    rows = TS.bigram_backoff_scores(docs).collect()
    assert all(r.lm_score is not None for r in rows)


def test_unimax_water_filling_hand_computed(spark):
    """A:100 B:1000 C:10000 chars, budget = half the corpus (5550),
    epoch cap 2x: A and B cap at 200/2000, C soaks the remaining 3350.
    Predicate check at each rank: 200*3<=5550 capped, 2000*2+200<=5550
    capped, 20000*1+2200>5550 uncapped."""
    docs = spark.createDataFrame(
        [(1, "x" * 100, "A"), (2, "y" * 1000, "B"), (3, "z" * 10000, "C")],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in TS.unimax_weights(docs).collect()}
    assert out["A"].alloc_chars == 200.0 and out["A"].epochs == 2.0
    assert out["B"].alloc_chars == 2000.0 and out["B"].epochs == 2.0
    assert out["C"].alloc_chars == 3350.0 and out["C"].epochs == 0.335
    assert abs(sum(r.weight for r in out.values()) - 1.0) < 2e-6
    # budget above the total cap: every source caps, leftover undistributed
    allcap = {r.source: r for r in TS.unimax_weights(docs, budget_frac=10.0).collect()}
    assert sum(r.alloc_chars for r in allcap.values()) == 22200.0
    assert all(r.epochs == 2.0 for r in allcap.values())


def test_zipf_fit_exact_line(spark):
    """Counts 12/6/4/3 = 12/rank exactly: ln f = ln 12 - ln r is a
    perfect line, so OLS must return slope -1, intercept ln 12, r2 1."""
    import math

    text = " ".join(["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = TS.zipf_fit(docs).collect()[0]
    assert r.n_terms == 4
    assert r.slope == -1.0
    assert r.intercept == round(math.log(12), 6)
    assert r.r2 == 1.0
    # degenerate: single-term corpus -> NULL fit, not a crash
    one = spark.createDataFrame([(1, "x x x")], "doc_id long, text string")
    d = TS.zipf_fit(one).collect()[0]
    assert d.n_terms == 1 and d.slope is None and d.r2 is None


def test_source_ngram_overlap_hand_computed(spark):
    """A: {'a b c','b c d'} (grams of 'a b c d'), B shares exactly
    'a b c', C shares nothing -> J(A,B) = 1/(2+1-1) = 0.5, J(A,C) = 0,
    and the zero-overlap pair still appears in the matrix."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d", "A"),
            (2, "a b c", "B"),
            (3, "x y z w", "C"),
        ],
        "doc_id long, text string, source string",
    )
    out = {(r.source_a, r.source_b): r for r in TS.source_ngram_overlap(docs, n=3).collect()}
    assert set(out) == {("A", "B"), ("A", "C"), ("B", "C")}
    ab = out[("A", "B")]
    assert (ab.n_grams_a, ab.n_grams_b, ab.n_common) == (2, 1, 1)
    assert ab.jaccard == 0.5  # 1 / (2 + 1 - 1)
    assert out[("A", "C")].n_common == 0 and out[("A", "C")].jaccard == 0.0


def test_unimax_zero_char_source_yields_null_epochs(spark):
    """A source whose docs are all empty has n_chars 0: ANSI double/0
    must NOT throw — epochs comes back NULL (DuckDB x/0.0 semantics),
    the allocation itself is 0."""
    docs = spark.createDataFrame(
        [(1, "", "E"), (2, "abcd", "A")], "doc_id long, text string, source string"
    )
    out = {r.source: r for r in TS.unimax_weights(docs).collect()}
    assert out["E"].alloc_chars == 0.0 and out["E"].epochs is None
    assert out["A"].alloc_chars == 2.0  # budget = 4*0.5, capped at... 2.0 < cap 8


def test_ngram_novelty_boilerplate_detection(spark):
    """Two docs share a boilerplate prefix; each has a unique tail. The
    shared grams are non-novel, the tails novel; a sub-n doc gets NULL."""
    docs = spark.createDataFrame(
        [
            (1, "nav home about us alpha beta gamma"),
            (2, "nav home about us delta epsilon zeta"),
            (3, "xy"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TS.ngram_novelty(docs, n=3).collect()}
    # doc1: 5 grams, shared = 'nav home about','home about us' -> 3 novel
    assert out[1].n_distinct_grams == 5 and out[1].n_novel == 3
    assert out[1].novel_frac == 0.6
    assert out[2].novel_frac == 0.6
    assert out[3].n_distinct_grams == 0 and out[3].novel_frac is None


def test_search_bm25_ranks_matching_docs(spark):
    """The doc repeating a rare query term outranks one mentioning it
    once; docs without any query term are excluded; rank is 1-based by
    rounded score then id."""
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),
            (2, "spark appears once here with lots of extra words padding"),
            (3, "completely unrelated text"),
            (4, "engine only document"),
        ],
        "doc_id long, text string",
    )
    out = TS.search_bm25(docs, "spark engine", k=10).collect()
    ids = [r.doc_id for r in out]
    assert 3 not in ids and set(ids) == {1, 2, 4}
    assert out[0].doc_id == 1 and out[0].rank == 1  # matches both terms, high tf
    assert out[0].n_matched == 2


def test_readability_hand_computed(spark):
    """'the cat sat. it ran!' -> 6 words, 2 sentences, 6 syllables
    (every word one vowel run) -> flesch = 206.835 - 1.015*3 - 84.6*1;
    a vowel-less token still counts one syllable; empty doc -> NULL."""
    docs = spark.createDataFrame(
        [(1, "the cat sat. it ran! ok"), (2, "zzz brr"), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TS.readability(docs).collect()}
    r1 = out[1]
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (6, 2, 6)
    assert r1.flesch == round(206.835 - 1.015 * 3.0 - 84.6 * 1.0, 6)
    assert out[2].n_syllables == 2  # two vowel-less words, 1 each
    assert out[3].n_words == 0 and out[3].flesch is None


def test_rrf_fuses_rankings(spark):
    """A term ranked 1st by both rankers must fuse to rank 1 with
    rrf = 2/(60+1); all fused scores are in (0, 2/61]; exactly top_k
    rows per doc."""
    docs = spark.createDataFrame(
        [(1, "alpha alpha alpha beta gamma"), (2, "x y z")],
        "doc_id long, text string",
    )
    out = TS.rrf_top_terms(docs, top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 2 and len(by_doc[2]) == 2
    top = [r for r in by_doc[1] if r.rank == 1][0]
    assert top.term == "alpha" and top.r_tfidf == 1 and top.r_bm25 == 1
    assert top.rrf == round(2 / 61, 6)
    assert all(0 < r.rrf <= round(2 / 61, 6) for r in out)


def test_similar_docs_finds_lexical_twin(spark):
    """Two near-identical docs rank each other first; the unrelated doc
    never outranks the twin; output is symmetric per-doc top-k."""
    docs = spark.createDataFrame(
        [
            (1, "spark engine shuffles data across executors"),
            (2, "spark engine shuffles data across workers"),
            (3, "cats purr on warm windowsills"),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.rank): r for r in TS.similar_docs(docs, k=2).collect()}
    assert out[(1, 1)].other_id == 2 and out[(2, 1)].other_id == 1
    assert out[(1, 1)].cos_sim > 0.5
    # doc 3 shares no terms -> appears only via zero-overlap absence
    assert (3, 1) not in out


def test_pmi_collocations_planted(spark):
    import math
    from nlp_cube_spark.operators.textstats import pmi_collocations

    # 'new york' always co-occurs; 'the the' is frequent but independent
    rows = [(i, "new york " + "the and " * 5) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.term_a, r.term_b): r for r in
           pmi_collocations(docs, min_count=5).collect()}
    assert ("new", "york") in out
    ny = out[("new", "york")]
    assert ny.n_pair == 6
    # hand-check pmi: N tokens, B bigrams, c_new = c_york = 6
    N, B = 12 * 6, 11 * 6
    want = math.log((6 / B) / ((6 / N) * (6 / N)))
    assert abs(ny.pmi - want) < 1e-5
    # collocation outranks the independent frequent pair
    assert ny.pmi > out[("the", "and")].pmi
    # below min_count pairs are dropped ('york the' occurs 6x, 'and new' 0)
    assert all(r.n_pair >= 5 for r in out.values())
    top = pmi_collocations(docs, min_count=5, top_k=3).collect()
    assert [t.rank for t in sorted(top, key=lambda r: r.rank)] == [1, 2, 3]
    assert sorted(top, key=lambda r: r.rank)[0].pmi == max(r.pmi for r in out.values())


def test_kneser_ney_scores_match_python_replica(spark):
    import math
    from nlp_cube_spark.operators.textstats import kneser_ney_scores

    rows = [
        (1, "a b a b c"),
        (2, "a b c d"),
        (3, "d d a"),
        (4, "x"),      # single token: no bigrams
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in kneser_ney_scores(docs).collect()}
    assert got[4].n_bigrams == 0 and got[4].kn_ppl is None
    assert got[5].n_bigrams == 0

    # python replica (same quantization)
    from collections import Counter
    D = 0.75
    bigs = Counter()
    for _, t in [(1, "a b a b c"), (2, "a b c d"), (3, "d d a")]:
        toks = t.split()
        for x, y in zip(toks, toks[1:]):
            bigs[(x, y)] += 1
    cl = Counter(); n1l = Counter(); n1r = Counter()
    for (x, y), c in bigs.items():
        cl[x] += c; n1l[x] += 1; n1r[y] += 1
    T = len(bigs)

    def lp_nano(x, y):
        p = (max(bigs[(x, y)] - D, 0.0) + D * n1l[x] * (n1r[y] / T)) / cl[x]
        return math.floor(math.log(p) * 1e9 + 0.5)

    for doc_id, t in [(1, "a b a b c"), (2, "a b c d"), (3, "d d a")]:
        toks = t.split()
        pairs = list(zip(toks, toks[1:]))
        num = -sum(lp_nano(x, y) for x, y in pairs)
        ce_nano = num // len(pairs)
        assert got[doc_id].n_bigrams == len(pairs)
        assert got[doc_id].kn_cross_entropy == (ce_nano // 1000) / 1e6
        assert got[doc_id].kn_ppl == math.floor(math.exp(ce_nano / 1e9) * 1e6 + 0.5) / 1e6
    # KN proper-normalization sanity: sum over full vocab of p(.|prev) == 1
    vocab = {y for (_, y) in bigs} | {x for (x, _) in bigs}
    for x in cl:
        s = sum((max(bigs.get((x, y), 0) - D, 0.0) + D * n1l[x] * (n1r[y] / T)) / cl[x]
                for y in vocab if n1r[y] > 0)
        assert abs(s - 1.0) < 1e-9


def test_heaps_fit_exact_powerlaw_and_degenerate(spark):
    import math
    from nlp_cube_spark.operators.textstats import heaps_fit

    # construct groups where V = N^0.5 exactly on the quantized lattice:
    # group g has V distinct tokens each repeated V times -> N = V^2,
    # so ln V = 0.5 * ln N exactly -> beta ~ 0.5, r2 ~ 1
    rows = []
    for g, v in enumerate([4, 9, 16, 25]):
        text = " ".join(f"g{g}tok{i}" for i in range(v)) + " "
        rows.append((g, (text * v).strip(), f"s{g}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = heaps_fit(docs).collect()[0]
    assert got.n_points == 4
    assert abs(got.beta - 0.5) < 1e-4
    assert abs(got.r2 - 1.0) < 1e-6
    assert abs(math.exp(got.log_k) - 1.0) < 1e-3  # K ~ 1
    # degenerate: single group -> NULL fit
    one = heaps_fit(docs.where("source = 's0'")).collect()[0]
    assert one.n_points == 1 and one.beta is None and one.r2 is None


def test_kneser_ney_parallelism_invariant(spark):
    from nlp_cube_spark.operators.textstats import kneser_ney_scores

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 13}" for j in range(10)))
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    outs = [
        sorted(kneser_ney_scores(docs.repartition(p)).collect())
        for p in (1, 3, 17)
    ]
    assert outs[0] == outs[1] == outs[2]


def test_sppmi_matches_python_replica(spark):
    import math
    from collections import Counter
    from nlp_cube_spark.operators.textstats import sppmi_cooccurrence

    rows = [
        (1, "a b c a b c a b c"),
        (2, "x y x y x y x y"),
        (3, "a a a a a a"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.word, r.context): r for r in
           sppmi_cooccurrence(docs, window=2, min_count=2).collect()}

    pairs = Counter()
    for _, t in rows:
        toks = t.split()
        for i, w in enumerate(toks):
            for off in (1, 2):
                if i + off < len(toks):
                    pairs[(w, toks[i + off])] += 1
                    pairs[(toks[i + off], w)] += 1
    wm = Counter(); cm = Counter()
    for (w, c), n in pairs.items():
        wm[w] += n; cm[c] += n
    N = sum(pairs.values())
    for (w, c), n in pairs.items():
        if n < 2:
            assert (w, c) not in got
            continue
        nano = math.floor(math.log(n * N / (wm[w] * cm[c])) * 1e9 + 0.5)
        if nano > 0:
            assert got[(w, c)].n_cooc == n
            assert got[(w, c)].sppmi == (nano // 1000) / 1e6
        else:
            assert (w, c) not in got
    # symmetry of the matrix
    for (w, c), r in got.items():
        assert got[(c, w)].sppmi == r.sppmi
    # independent same-frequency pairs inside one doc ('x y') score lower
    # than nothing-else-to-pair-with would suggest vs cross-doc: sanity
    assert ("x", "y") in got and ("a", "b") in got


def test_source_diversity_planted(spark):
    import math
    from nlp_cube_spark.operators.textstats import source_diversity

    # uniform over 4 sources: H = ln 4, effective = 4, simpson = 0.75
    rows = [(i, "a b c", f"s{i % 4}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    r = source_diversity(docs).collect()[0]
    assert r.n_groups == 4
    assert abs(r.shannon_entropy - math.log(4)) < 1e-5
    assert abs(r.effective_groups - 4.0) < 1e-4
    assert abs(r.simpson - 0.75) < 1e-9
    assert r.max_share == 0.25
    # dominated corpus: low entropy, high max_share
    dom = spark.createDataFrame(
        [(i, "x", "big" if i < 97 else f"tiny{i}") for i in range(100)],
        "doc_id long, text string, source string",
    )
    d = source_diversity(dom).collect()[0]
    assert d.max_share == 0.97 and d.shannon_entropy < 0.2
    # token weighting counts tokens, not docs
    tw = source_diversity(docs, weight="tokens").collect()[0]
    assert abs(tw.shannon_entropy - math.log(4)) < 1e-5

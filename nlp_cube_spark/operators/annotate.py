"""Fused Arrow UDF stages: extract -> segment -> mwt+tag+parse -> lemmatize.

Stage fusion rationale (SURVEY.md §4): intermediate per-token state
(pre-tokens, boundary labels, score matrices) never leaves the UDF — the
Spark analog of the reference computing embeddings inside collate_fn
(utils_tokenizer.py:560-572). Only compact annotated rows cross stage
boundaries.

Scale notes:
- all stages are narrow (mapInPandas over whatever partitioning the scan
  gives us); the ONLY shuffles in the whole annotate path are the lemma
  dedup + join-back, and that join is broadcast (distinct (form,upos,lang)
  is Zipf-bounded: vocabulary grows ~O(sqrt(corpus)), stays dimension-sized).
- documents never split across partitions (row = doc), so window chunking
  and boundary decode are partition-local by construction.
"""

from __future__ import annotations

import html as html_mod
import re
from collections.abc import Iterator
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..kernels import arc_scores, lemma_rules, mst, segment_rules

_P_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)


# ---------------------------------------------------------------- extract

def extract_text(pages: DataFrame) -> DataFrame:
    """html BINARY -> text STRING; byte-identical per url (input_hint
    invariant). Deterministic template rules, Arrow-batched."""

    @F.pandas_udf(T.StringType())
    def _extract(html: pd.Series) -> pd.Series:
        def one(b):
            if b is None:
                return ""
            m = _P_RE.search(bytes(b).decode("utf-8"))
            return html_mod.unescape(m.group(1)) if m else ""

        return html.map(one)

    return pages.withColumn("extracted_text", _extract(F.col("html")))


# ---------------------------------------------------------------- lemmas

LEMMA_SCHEMA = T.StructType(
    [
        T.StructField("form", T.StringType()),
        T.StructField("upos", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("lemma", T.StringType()),
    ]
)


def attach_lemmas(words: DataFrame, lemmatizer: str = "rules") -> DataFrame:
    """flat words (no lemma) -> flat words with lemma column.

    Dedup-then-join (SURVEY.md §2a #17): lemma is a pure function of
    (form, upos, lang) — reference dedups training data on exactly this key
    (utils.py:109-115) but recomputes per-occurrence at inference; we compute
    per DISTINCT key and broadcast-join back. At web scale distinct forms
    ≪ tokens (Zipf), so the kernel runs ~1000x fewer times.

    `lemmatizer` picks the kernel behind the seam ('rules' default,
    'learned' = pinned-weight edit-script classifier in kernels/learned.py);
    only the name crosses the closure — the plan is identical either way."""
    keys = words.select("form", "upos", "lang").dropDuplicates()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.learned import get_lemmatizer

        lem_fn = get_lemmatizer(lemmatizer)
        for pdf in batches:
            pdf = pdf.copy()
            pdf["lemma"] = [
                lem_fn(f, u, lg)
                for f, u, lg in zip(pdf["form"], pdf["upos"], pdf["lang"])
            ]
            yield pdf

    lemmas = keys.mapInPandas(run, schema=LEMMA_SCHEMA)
    return words.join(F.broadcast(lemmas), on=["form", "upos", "lang"], how="left").select(
        "url",
        "lang",
        "sent_id",
        "word_id",
        "mwt_id",
        "tok_form",
        "form",
        F.coalesce("lemma", F.lower("form")).alias("lemma"),
        "upos",
        "xpos",
        "feats",
        "head",
        "deprel",
        "space_after",
    )


# ---------------------------------------------------------------- stages

def _row_stage(
    df: DataFrame, cols: tuple[str, ...], schema: T.StructType, emit,
    fields: list[str] | None = None,
) -> DataFrame:
    """The one Arrow stage loop of the annotate family (one input row = a
    page, or a sentence for reannotate).

    `df` is projected to `cols` at the stage boundary (Catalyst cannot
    prune through a python stage, so nothing else crosses it). Per input
    row, `emit(out, *row)` appends that row's outputs to `out`: one list
    per name in `fields` (default: the schema's). Each batch's frame is
    built from the schema's columns only — the output projection — and
    empty batches/outputs yield nothing (an empty object column cannot
    Arrow-convert to list<struct>)."""
    names = schema.fieldNames()
    fields = fields or names

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {f: [] for f in fields}
            for row in zip(*(pdf[c].tolist() for c in cols)):
                emit(out, *row)
            if out[names[0]]:
                yield pd.DataFrame({n: out[n] for n in names})

    return df.select(*cols).mapInPandas(run, schema=schema)


FLAT_WORDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("word_id", T.IntegerType()),
        T.StructField("mwt_id", T.IntegerType()),
        T.StructField("tok_form", T.StringType()),
        T.StructField("form", T.StringType()),
        T.StructField("upos", T.StringType()),
        T.StructField("xpos", T.StringType()),
        T.StructField("feats", T.StringType()),
        T.StructField("head", T.IntegerType()),
        T.StructField("deprel", T.StringType()),
        T.StructField("space_after", T.BooleanType()),
    ]
)


def _append_words(out, url, lang, sid, forms, space, mwt_ids, tok_forms, tags, heads, labels):
    """One annotated sentence -> FLAT_WORDS_SCHEMA column lists."""
    for i in range(len(forms)):
        out["url"].append(url)
        out["lang"].append(lang)
        out["sent_id"].append(sid)
        out["word_id"].append(i + 1)
        out["mwt_id"].append(mwt_ids[i])
        out["tok_form"].append(tok_forms[i])
        out["form"].append(forms[i])
        out["upos"].append(tags[i][0])
        out["xpos"].append(tags[i][1])
        out["feats"].append(tags[i][2])
        out["head"].append(int(heads[i]))
        out["deprel"].append(labels[i])
        out["space_after"].append(bool(space[i]))


def fused_words(
    pages: DataFrame, text_col: str = "text", scorer: str = "rules",
    tagger: str = "rules", boundary: str = "rules", mwt: str = "dict",
) -> DataFrame:
    """pages -> flat words (no lemma) in ONE Arrow stage (cf. fused_triples)."""

    def emit(out, url, lang, text):
        for sid, sent in enumerate(_annotate_doc(text, lang, scorer, tagger, boundary, mwt)):
            _append_words(out, url, lang, sid, *sent)

    return _row_stage(pages, ("url", "lang", text_col), FLAT_WORDS_SCHEMA, emit)


TAGS_FUSED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("word_id", T.IntegerType()),
        T.StructField("form", T.StringType()),
        T.StructField("upos", T.StringType()),
        T.StructField("xpos", T.StringType()),
        T.StructField("feats", T.StringType()),
    ]
)


def fused_tags(
    pages: DataFrame, text_col: str = "text",
    tagger: str = "rules", boundary: str = "rules", mwt: str = "dict",
    columns: tuple[str, ...] | None = None,
) -> DataFrame:
    """pages -> tagged words WITHOUT parsing, in ONE Arrow stage.

    The pushed-down projection for tag-only consumers (tag/feats
    distributions, tag-conditioned filters): skips the O(n^2) arc score
    matrix + MST decode per sentence, which dominate per-document cost on
    long documents. Same segment/mwt/tag kernels as fused_words — tag
    columns are bit-identical (tested).

    `columns` restricts the EMITTED fields (subset of TAGS_FUSED_SCHEMA,
    original order) — the column-pruning Catalyst cannot do through an
    opaque python stage, done by hand (guide §4.1: control how many
    columns cross the boundary). Same rows either way; a distribution
    query over upos alone ships one short string per word instead of
    eight columns including the per-word url."""
    schema = T.StructType(
        [f for f in TAGS_FUSED_SCHEMA.fields if columns is None or f.name in columns]
    )

    def emit(out, url, lang, text):
        for sid, (forms, _sp, _mw, _tf, tags, _hd, _lb) in enumerate(
            _annotate_doc(text, lang, tagger=tagger, boundary=boundary, mwt=mwt, parse=False)
        ):
            for i in range(len(forms)):
                out["url"].append(url)
                out["lang"].append(lang)
                out["sent_id"].append(sid)
                out["word_id"].append(i + 1)
                out["form"].append(forms[i])
                out["upos"].append(tags[i][0])
                out["xpos"].append(tags[i][1])
                out["feats"].append(tags[i][2])

    return _row_stage(pages, ("url", "lang", text_col), schema, emit,
                      fields=TAGS_FUSED_SCHEMA.fieldNames())


def annotate(
    pages: DataFrame, text_col: str = "text", scorer: str = "rules",
    tagger: str = "rules", boundary: str = "rules", lemmatizer: str = "rules",
    mwt: str = "dict",
) -> DataFrame:
    """pages -> flat annotated words DF (the engine's `words` table).

    One fused Arrow stage + the lemma dedup-broadcast-join. Each kernel
    seam (scorer/tagger/boundary/lemmatizer) independently selects
    'rules' or 'learned' (pinned-weight micro-models)."""
    return attach_lemmas(
        fused_words(pages, text_col=text_col, scorer=scorer, tagger=tagger,
                    boundary=boundary, mwt=mwt),
        lemmatizer=lemmatizer,
    )


def words_to_sentences(words: DataFrame) -> DataFrame:
    """Pre-tokenized words DF (WORDS_SCHEMA shape) -> one row per sentence:
    (url, lang, sent_id, tokens array<struct<form, space_after, is_mwt>>).

    Entry point B (reference cube(document), SURVEY §3): the caller brings
    tokenization (e.g. a CoNLL-U file via io/conllu.read_conllu) and only
    tagging/parsing/lemmatization run. MWT groups collapse back to their
    surface token (tok_form, is_mwt=True) so reannotate re-expands them."""
    # token key: the MWT group id, or the word itself (mwt_id=0 words are
    # one token each — grouping those by tok_form would merge repeats)
    tok_key = F.when(F.col("mwt_id") > 0, F.concat(F.lit("m"), F.col("mwt_id"))).otherwise(
        F.concat(F.lit("w"), F.col("word_id"))
    )
    toks = (
        words.groupBy("url", "lang", "sent_id", tok_key.alias("_tk"))
        .agg(
            F.min("word_id").alias("_w"),
            F.first("tok_form").alias("tok_form"),
            F.max_by("space_after", F.col("word_id")).alias("space_after"),
            (F.max("mwt_id") > 0).alias("is_mwt"),
        )
    )
    return (
        toks.groupBy("url", "lang", "sent_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_w", "tok_form", "space_after", "is_mwt"))),
                lambda x: F.struct(
                    x["tok_form"].alias("form"),
                    x["space_after"].alias("space_after"),
                    x["is_mwt"].alias("is_mwt"),
                ),
            ).alias("tokens")
        )
        .select("url", "lang", "sent_id", "tokens")
    )


def reannotate(
    words: DataFrame, scorer: str = "rules", tagger: str = "rules",
    lemmatizer: str = "rules", mwt: str = "dict",
) -> DataFrame:
    """Entry point B end-to-end: keep the caller's tokenization, redo
    tagging + parsing + lemmas. Output = flat annotated words DF.

    Each sentence runs the same per-sentence function as the fused path
    (_annotate_sentence: MWT -> tag -> capped parse), so trees match it."""

    def emit(out, url, lang, sid, tokens):
        sent = [(t["form"], t["space_after"], t["is_mwt"]) for t in tokens]
        _append_words(out, url, lang, sid,
                      *_annotate_sentence(sent, lang, *_kernel_fns(scorer, tagger, mwt)))

    flat = _row_stage(words_to_sentences(words), ("url", "lang", "sent_id", "tokens"),
                      FLAT_WORDS_SCHEMA, emit)
    return attach_lemmas(flat, lemmatizer=lemmatizer)


# ---------------------------------------------------------------- fusion

def _kernel_fns(scorer: str, tagger: str, mwt: str):
    """(score_fn, tag_fn, mwt_fn) for the named model seams, resolved
    inside the python worker (only the names cross the closure)."""
    from ..kernels.learned import get_mwt_expander, get_scorer, get_tagger

    return get_scorer(scorer), get_tagger(tagger), get_mwt_expander(mwt)


def _annotate_doc(
    text: str, lang: str, scorer: str = "rules",
    tagger: str = "rules", boundary: str = "rules", mwt: str = "dict",
    parse: bool = True,
):
    """One document through segment -> mwt -> tag [-> parse]. Returns
    (forms, space, mwt_ids, tok_forms, tags, heads, labels) per sentence.
    scorer/tagger/boundary/mwt pick the kernel behind each model seam.
    parse=False skips arc scoring + MST + labels (heads/labels empty) —
    the manual column-pruning knob for tag-only consumers: Catalyst cannot
    prune through a python kernel, and the O(n^2) score matrix + CLE
    decode dominate per-document cost on long documents."""
    score_fn, tag_fn, mwt_fn = _kernel_fns(scorer, tagger, mwt)
    _, sents = segment_rules.segment(text or "", lang, boundary=boundary)
    return [_annotate_sentence(sent, lang, score_fn, tag_fn, mwt_fn, parse) for sent in sents]


def _annotate_sentence(sent, lang: str, score_fn, tag_fn, mwt_fn, parse: bool = True):
    """One sentence of (form, space_after, is_mwt) tokens through
    mwt -> tag [-> capped parse]; the tuple _annotate_doc returns per
    sentence."""
    forms, space, mwt_ids, tok_forms = [], [], [], []
    for tok_idx, (form, spa, is_mwt) in enumerate(sent, start=1):
        words = mwt_fn(form, lang) if is_mwt else [form]
        for w in words:
            forms.append(w)
            space.append(spa)
            mwt_ids.append(tok_idx if is_mwt and len(words) > 1 else 0)
            tok_forms.append(form)
    tags = tag_fn(forms, lang)
    if parse:
        upos = [t[0] for t in tags]
        heads, labels = _parse_capped(forms, upos, score_fn)
    else:
        heads, labels = [], []
    return forms, space, mwt_ids, tok_forms, tags, heads, labels


# Single-sentence parse cap: the arc score matrix is O(n^2) memory and the
# decode superlinear (measured: 2k tokens 0.9s/32MB, 8k tokens 11.3s/512MB
# — one pathological web page would straggle or OOM an executor at 100 TB).
# Sentences above the cap are parsed in independent chunks; each later
# chunk's root attaches to the sentence root as 'parataxis' (the UD
# run-on-sentence relation), so the result is still a single valid tree.
MAX_PARSE_LEN = 1024


def _parse_capped(forms: list[str], upos: list[str], score_fn) -> tuple[list[int], list[str]]:
    n = len(forms)
    if n <= MAX_PARSE_LEN:
        heads = mst.decode_tree(score_fn(forms, upos)).tolist()
        return heads, arc_scores.label_arcs(forms, upos, heads)
    heads: list[int] = []
    labels: list[str] = []
    sent_root: int | None = None  # 1-based global index of the first chunk's root
    for lo in range(0, n, MAX_PARSE_LEN):
        cf, cu = forms[lo : lo + MAX_PARSE_LEN], upos[lo : lo + MAX_PARSE_LEN]
        ch = mst.decode_tree(score_fn(cf, cu)).tolist()
        cl = arc_scores.label_arcs(cf, cu, ch)
        for i, (h, lab) in enumerate(zip(ch, cl)):
            if h == 0:
                if sent_root is None:
                    sent_root = lo + i + 1
                    heads.append(0)
                    labels.append(lab)
                else:
                    heads.append(sent_root)
                    labels.append("parataxis")
            else:
                heads.append(h + lo)
                labels.append(lab)
    return heads, labels


TRIPLES_FUSED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("lang", T.StringType()),
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("pattern", T.StringType()),
    ]
)


def sentence_triples(forms, tags, heads, labels, lang: str, add) -> None:
    """Open-IE patterns over one parsed sentence's arcs (SURVEY.md §2c),
    add(subj, pred, obj, pattern) per triple: svo (nsubj + VERB + obj),
    obl (nsubj + VERB + obl, predicate lemma_case), copula (cop child on a
    nominal root) and appos. The rule body of fused_triples and
    Cube.triples, certified against oracle.extract_triples."""
    kids: dict[int, list[int]] = {}
    for i, h in enumerate(heads):
        kids.setdefault(int(h), []).append(i)
    for i in range(len(forms)):
        upos = tags[i][0]
        deps = kids.get(i + 1, [])
        subs = [d for d in deps if labels[d] == "nsubj"]
        if upos == "VERB":
            v_lemma = lemma_rules.lemmatize(forms[i], "VERB", lang)
            objs = [d for d in deps if labels[d] == "obj"]
            obls = [d for d in deps if labels[d] == "obl"]
            for s in subs:
                for o in objs:
                    add(forms[s], v_lemma, forms[o], "svo")
                for o in obls:
                    case = next((c for c in kids.get(o + 1, []) if labels[c] == "case"), None)
                    pred = f"{v_lemma}_{forms[case].lower()}" if case is not None else v_lemma
                    add(forms[s], pred, forms[o], "obl")
        if upos in ("NOUN", "PROPN", "PRON", "NUM") and any(labels[d] == "cop" for d in deps):
            for s in subs:
                add(forms[s], "be", forms[i], "copula")
        for a in (d for d in deps if labels[d] == "appos"):
            add(forms[i], "appos", forms[a], "appos")


def _add_triple(out, url, sid, lang, subj, pred, obj, pattern):
    out["url"].append(url)
    out["sent_id"].append(sid)
    out["lang"].append(lang)
    out["subj"].append(subj)
    out["pred"].append(pred)
    out["obj"].append(obj)
    out["pattern"].append(pattern)


def fused_triples(
    pages: DataFrame, text_col: str = "text", scorer: str = "rules",
    tagger: str = "rules", boundary: str = "rules", mwt: str = "dict",
) -> DataFrame:
    """pages -> triples in ONE Arrow stage (the production scale path).

    Open-IE rules: sentence_triples, appending straight to the batch's
    column lists (a partial of _add_triple per sentence).

    Chaining separate mapInPandas stages costs one python worker per stage
    per task (segment|tagparse|triples = 3x workers -> measured negative
    scaling at local[32] from CPU oversubscription). Fusing keeps exactly
    one python worker per task and zero intermediate Arrow transfers —
    the Spark analog of the reference running the LM forward inside
    collate_fn (utils_tokenizer.py:560-572)."""

    def emit(out, url, lang, text):
        for sid, (forms, _sp, _mw, _tf, tags, heads, labels) in enumerate(
            _annotate_doc(text, lang, scorer, tagger, boundary, mwt)
        ):
            sentence_triples(forms, tags, heads, labels, lang, partial(_add_triple, out, url, sid, lang))

    return _row_stage(pages, ("url", "lang", text_col), TRIPLES_FUSED_SCHEMA, emit)

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
- each stage hands its emit function EMIT_ROWS rows of an Arrow batch at
  a time: _annotate_doc segments and tags document by document, then
  parses every sentence of those rows in stacks of equal word count (one
  vectorized score and one greedy decode per stack, capped at
  STACK_BYTES), not one sentence at a time (SURVEY.md batching row:
  bucket by length, score (B, n+1, n+1)).
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

# Rows per emit call. The parse stacks the sentences of one call, so a call
# wants a few hundred sentences; the tagged sentences it holds until then
# are its memory cost. Measured on open_pages, one process, 4 vCPU: 64-row
# calls ran 2000 docs in 1.73 s and peaked at 6.5 MB of Python heap per
# 500-doc batch; whole 500-row batches took 2.02 s and 19.2 MB.
EMIT_ROWS = 64


def _row_stage(
    df: DataFrame, cols: tuple[str, ...], schema: T.StructType, emit,
    fields: list[str] | None = None,
) -> DataFrame:
    """The one Arrow stage loop of the annotate family (one input row = a
    page, or a sentence for reannotate).

    `df` is projected to `cols` at the stage boundary (Catalyst cannot
    prune through a python stage, so nothing else crosses it). Per slice
    of at most EMIT_ROWS rows of an Arrow batch, `emit(out, *columns)`
    gets one list per name in `cols` and appends the slice's outputs to
    `out`: one list per name in `fields` (default: the schema's). Emit sees
    many rows at once so that _annotate_doc can parse all of their
    sentences in length-grouped stacks. Each batch's frame is built from
    the schema's columns only — the output projection — and empty
    batches/outputs yield nothing (an empty object column cannot
    Arrow-convert to list<struct>)."""
    names = schema.fieldNames()
    fields = fields or names

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {f: [] for f in fields}
            columns = [pdf[c].tolist() for c in cols]
            for lo in range(0, len(pdf), EMIT_ROWS):
                emit(out, *(col[lo : lo + EMIT_ROWS] for col in columns))
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

    def emit(out, urls, langs, texts):
        for url, lang, sents in zip(urls, langs, _annotate_doc(texts, langs, scorer, tagger, boundary, mwt)):
            for sid, sent in enumerate(sents):
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

    def emit(out, urls, langs, texts):
        docs = _annotate_doc(texts, langs, tagger=tagger, boundary=boundary, mwt=mwt, parse=False)
        for url, lang, sents in zip(urls, langs, docs):
            for sid, (forms, _sp, _mw, _tf, tags, _hd, _lb) in enumerate(sents):
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

    Each sentence runs through _annotate_doc as a one-sentence tokenized
    document (MWT -> tag -> capped parse), so trees match the fused path."""

    def emit(out, urls, langs, sids, tokens):
        docs = [[[(t["form"], t["space_after"], t["is_mwt"]) for t in toks]] for toks in tokens]
        for url, lang, sid, (sent,) in zip(urls, langs, sids, _annotate_doc(docs, langs, scorer, tagger, mwt=mwt)):
            _append_words(out, url, lang, sid, *sent)

    flat = _row_stage(words_to_sentences(words), ("url", "lang", "sent_id", "tokens"),
                      FLAT_WORDS_SCHEMA, emit)
    return attach_lemmas(flat, lemmatizer=lemmatizer)


# ---------------------------------------------------------------- fusion

def _annotate_doc(
    doc, lang, scorer: str = "rules",
    tagger: str = "rules", boundary: str = "rules", mwt: str = "dict",
    parse: bool = True,
):
    """Documents through segment -> mwt -> tag [-> parse]: the one NLP
    function of the fused stages and the eager API.

    With a list of langs, `doc` is a list of documents (a slice of an
    Arrow batch) and the result one list per document of its sentences'
    (forms, space, mwt_ids, tok_forms, tags, heads, labels). With a `lang`
    string, `doc` is one document, run as a batch of one, and the result
    its sentence list. A document is its text, or its sentences already
    tokenized as (form, space_after, is_mwt) lists (entry point B), which
    skips segmentation. Every sentence is tagged on its own; then all of
    them are parsed at once (_parse), in stacks of equal-length sentences.

    scorer/tagger/boundary/mwt pick the kernel behind each model seam.
    parse=False skips arc scoring + MST + labels (heads/labels empty) —
    the manual column-pruning knob for tag-only consumers: Catalyst cannot
    prune through a python kernel, and the O(n^2) score matrix + CLE
    decode dominate per-document cost on long documents."""
    if isinstance(lang, str):
        return _annotate_doc([doc], [lang], scorer, tagger, boundary, mwt, parse)[0]
    # the model seams resolve inside the python worker: only names cross the closure
    from ..kernels.learned import get_mwt_expander, get_scorer, get_tagger

    score_fn, tag_fn, mwt_fn = get_scorer(scorer), get_tagger(tagger), get_mwt_expander(mwt)
    docs = []
    for d, lg in zip(doc, lang):
        sents = segment_rules.segment(d or "", lg, boundary=boundary)[1] if d is None or isinstance(d, str) else d
        docs.append([_annotate_sentence(sent, lg, tag_fn, mwt_fn) for sent in sents])
    if not parse:
        return [[(*s, [], []) for s in sents] for sents in docs]
    trees = iter(_parse([(s[0], [t[0] for t in s[4]]) for sents in docs for s in sents], score_fn))
    return [[(*s, *next(trees)) for s in sents] for sents in docs]


def _annotate_sentence(sent, lang: str, tag_fn, mwt_fn):
    """One sentence of (form, space_after, is_mwt) tokens through
    mwt -> tag: (forms, space, mwt_ids, tok_forms, tags)."""
    forms, space, mwt_ids, tok_forms = [], [], [], []
    for tok_idx, (form, spa, is_mwt) in enumerate(sent, start=1):
        words = mwt_fn(form, lang) if is_mwt else [form]
        for w in words:
            forms.append(w)
            space.append(spa)
            mwt_ids.append(tok_idx if is_mwt and len(words) > 1 else 0)
            tok_forms.append(form)
    return forms, space, mwt_ids, tok_forms, tag_fn(forms, lang)


# Single-sentence parse cap: the arc score matrix is O(n^2) memory and the
# decode superlinear (measured: 2k tokens 0.9s/32MB, 8k tokens 11.3s/512MB
# — one pathological web page would straggle or OOM an executor at 100 TB).
# Sentences above the cap are parsed in independent chunks; each later
# chunk's root attaches to the sentence root as 'parataxis' (the UD
# run-on-sentence relation), so the result is still a single valid tree.
MAX_PARSE_LEN = 1024

# Byte budget of one score stack: one capped sentence's float64 matrix, the
# largest a worker held when sentences were parsed one at a time. A stack
# of n-word sentences holds at most STACK_BYTES // (8 (n+1)^2) of them.
STACK_BYTES = 8 * (MAX_PARSE_LEN + 1) ** 2


def _stacks(lengths: list[int]) -> list[list[int]]:
    """Indices into `lengths`, grouped by length and cut so that each
    group's (k, n+1, n+1) float64 score stack fits in STACK_BYTES."""
    by_len: dict[int, list[int]] = {}
    for i, n in enumerate(lengths):
        by_len.setdefault(n, []).append(i)
    groups = []
    for n, idx in by_len.items():
        per = max(1, STACK_BYTES // (8 * (n + 1) ** 2))
        groups += [idx[lo : lo + per] for lo in range(0, len(idx), per)]
    return groups


def _parse(sents: list[tuple[list[str], list[str]]], score_fn) -> list[tuple[list[int], list[str]]]:
    """(forms, upos) per sentence -> (heads, labels) per sentence.

    Sentences over MAX_PARSE_LEN words are cut into MAX_PARSE_LEN-word
    chunks. Chunks of equal length are scored as one stack and decoded in
    one decode_tree call (_stacks), and each chunk's intended_arcs feed
    both the scorer and label_arcs. A cut sentence keeps its first chunk's
    root; every later root hangs off it as 'parataxis'."""
    units = [
        (forms[lo : lo + MAX_PARSE_LEN], upos[lo : lo + MAX_PARSE_LEN])
        for forms, upos in sents
        for lo in range(0, max(len(forms), 1), MAX_PARSE_LEN)
    ]
    intended = [arc_scores.intended_arcs(f, u) for f, u in units]
    heads: list = [None] * len(units)
    for grp in _stacks([len(f) for f, _ in units]):
        probs = score_fn([units[i][0] for i in grp], [units[i][1] for i in grp], [intended[i][0] for i in grp])
        for i, h in zip(grp, mst.decode_tree(probs).tolist()):
            heads[i] = h
    labels = [arc_scores.label_arcs(f, u, h, ia) for (f, u), h, ia in zip(units, heads, intended)]

    trees, k = [], 0
    for forms, _ in sents:
        if len(forms) <= MAX_PARSE_LEN:
            trees.append((heads[k], labels[k]))
            k += 1
            continue
        th: list[int] = []
        tl: list[str] = []
        sent_root: int | None = None  # 1-based index of the first chunk's root
        for lo in range(0, len(forms), MAX_PARSE_LEN):
            for i, (h, lab) in enumerate(zip(heads[k], labels[k])):
                if h == 0 and sent_root is None:
                    sent_root = lo + i + 1
                    th.append(0)
                    tl.append(lab)
                elif h == 0:
                    th.append(sent_root)
                    tl.append("parataxis")
                else:
                    th.append(h + lo)
                    tl.append(lab)
            k += 1
        trees.append((th, tl))
    return trees


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

    def emit(out, urls, langs, texts):
        for url, lang, sents in zip(urls, langs, _annotate_doc(texts, langs, scorer, tagger, boundary, mwt)):
            for sid, (forms, _sp, _mw, _tf, tags, heads, labels) in enumerate(sents):
                sentence_triples(forms, tags, heads, labels, lang, partial(_add_triple, out, url, sid, lang))

    return _row_stage(pages, ("url", "lang", text_col), TRIPLES_FUSED_SCHEMA, emit)

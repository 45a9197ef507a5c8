"""Reference-shaped oracle: eager, per-document, single-process pipeline.

This is the stand-in for running adobe/NLP-Cube itself over the fixture
pages (SURVEY.md §7 step 1): same stage order as CubeObj.__call__
(reference cube/api.py:108-128) — segment -> mwt-expand -> tag -> parse ->
lemmatize — executed as plain Python loops over one document at a time,
exactly the reference's execution model. The Spark engine is graded against
this oracle's triples at P/R >= 0.95.

Deliberately shares ONLY the kernel rule modules with the Spark path (those
are the "model weights"); all orchestration here is independent so it can
catch wiring bugs in the distributed path.
"""

from __future__ import annotations

import html as html_mod
import re
from dataclasses import dataclass

from .kernels import arc_scores, lemma_rules, mst, segment_rules, tagger_rules


@dataclass
class OWord:
    word_id: int  # 1-based within sentence
    form: str
    lemma: str
    upos: str
    xpos: str
    feats: str
    head: int
    deprel: str
    space_after: bool
    mwt_id: int  # 0 = not part of an MWT; else 1-based surface-token index


def extract_text(html_bytes: bytes) -> str:
    """Deterministic template extraction; byte-identical to `pages.text`."""
    h = html_bytes.decode("utf-8")
    m = re.search(r"<p>(.*?)</p>", h, re.DOTALL)
    return html_mod.unescape(m.group(1)) if m else ""


# The engine's single-sentence parse cap (annotate.MAX_PARSE_LEN), restated
# here so the oracle does not import the engine; a test pins them equal.
MAX_PARSE_LEN = 1024


def _parse(forms: list[str], upos: list[str]) -> tuple[list[int], list[str]]:
    """Parse MAX_PARSE_LEN-word chunks independently, then hang every later
    chunk's root off the first chunk's root as 'parataxis'. A zero-word
    sentence has no heads."""
    if not forms:
        return [], []
    heads: list[int] = []
    labels: list[str] = []
    for lo in range(0, len(forms), MAX_PARSE_LEN):
        cf, cu = forms[lo : lo + MAX_PARSE_LEN], upos[lo : lo + MAX_PARSE_LEN]
        ch = mst.decode_tree(arc_scores.score_matrix(cf, cu)).tolist()
        heads += [h + lo if h else 0 for h in ch]
        labels += arc_scores.label_arcs(cf, cu, ch)
    root = heads.index(0) + 1
    for i in range(root, len(heads)):
        if heads[i] == 0:
            heads[i], labels[i] = root, "parataxis"
    return heads, labels


def annotate_document(text: str, lang: str) -> list[list[OWord]]:
    """Full per-document annotation -> sentences of OWords."""
    _, sents = segment_rules.segment(text, lang)
    out = []
    for sent in sents:
        forms: list[str] = []
        space: list[bool] = []
        mwt_ids: list[int] = []
        for tok_idx, (form, spa, is_mwt) in enumerate(sent, start=1):
            words = segment_rules.expand_mwt(form, lang) if is_mwt else [form]
            for w in words:
                forms.append(w)
                space.append(spa)
                mwt_ids.append(tok_idx if is_mwt and len(words) > 1 else 0)
        tags = tagger_rules.tag_sentence(forms, lang)
        upos = [t[0] for t in tags]
        heads, labels = _parse(forms, upos)
        words_out = []
        for i, form in enumerate(forms):
            lemma = lemma_rules.lemmatize(form, upos[i], lang)
            words_out.append(
                OWord(
                    word_id=i + 1,
                    form=form,
                    lemma=lemma,
                    upos=upos[i],
                    xpos=tags[i][1],
                    feats=tags[i][2],
                    head=int(heads[i]),
                    deprel=labels[i],
                    space_after=space[i],
                    mwt_id=mwt_ids[i],
                )
            )
        out.append(words_out)
    return out


def extract_triples(sent: list[OWord]) -> list[tuple[str, str, str, str]]:
    """(subj, pred, obj, pattern) per sentence from dependency arcs.

    Patterns (SURVEY.md §2c): svo, copula, appos, obl(+case). Predicates are
    verb lemmas (obl: lemma_preposition); subj/obj are surface forms.
    """
    by_id = {w.word_id: w for w in sent}
    kids: dict[int, list[OWord]] = {}
    for w in sent:
        kids.setdefault(w.head, []).append(w)
    triples = []
    for w in sent:
        deps = kids.get(w.word_id, [])
        subs = [d for d in deps if d.deprel == "nsubj"]
        if w.upos == "VERB":
            objs = [d for d in deps if d.deprel == "obj"]
            obls = [d for d in deps if d.deprel == "obl"]
            for s in subs:
                for o in objs:
                    triples.append((s.form, w.lemma, o.form, "svo"))
                for o in obls:
                    case = next((c for c in kids.get(o.word_id, []) if c.deprel == "case"), None)
                    pred = f"{w.lemma}_{case.form.lower()}" if case else w.lemma
                    triples.append((s.form, pred, o.form, "obl"))
        cops = [d for d in deps if d.deprel == "cop"]
        if cops and w.upos in ("NOUN", "PROPN", "PRON", "NUM"):
            for s in subs:
                triples.append((s.form, "be", w.form, "copula"))
        appos = [d for d in deps if d.deprel == "appos"]
        for a in appos:
            triples.append((w.form, "appos", a.form, "appos"))
    return triples


def run_oracle(pages: list[dict]) -> tuple[list[dict], list[dict]]:
    """pages rows -> (golden word rows, golden triple rows)."""
    word_rows, triple_rows = [], []
    for page in pages:
        assert extract_text(page["html"]) == page["text"], "extraction invariant"
        sents = annotate_document(page["text"], page["lang"])
        for sid, sent in enumerate(sents):
            for w in sent:
                word_rows.append(
                    {
                        "url": page["url"], "sent_id": sid, "word_id": w.word_id,
                        "mwt_id": w.mwt_id, "form": w.form, "lemma": w.lemma,
                        "upos": w.upos, "xpos": w.xpos, "feats": w.feats,
                        "head": w.head, "deprel": w.deprel,
                        "space_after": w.space_after,
                    }
                )
            for s, p, o, pat in extract_triples(sent):
                triple_rows.append(
                    {"url": page["url"], "sent_id": sid, "subj": s, "pred": p, "obj": o, "pattern": pat}
                )
    return word_rows, triple_rows


def triple_prf(system: set, gold: set) -> tuple[float, float, float]:
    """Score semantics from reference conll18_ud_eval.py:279-288."""
    correct = len(system & gold)
    p = correct / len(system) if system else 0.0
    r = correct / len(gold) if gold else 0.0
    f = 2 * correct / (len(system) + len(gold)) if system or gold else 0.0
    return p, r, f

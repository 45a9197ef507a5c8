"""Drop-in user API matching the reference's surface (cube/api.py).

Reference usage (README.md:48-58):

    from cube.api import Cube
    cube = Cube()
    cube.load("en")
    document = cube(text)
    print(document.sentences[0][2].upos)

Ours:

    from nlp_cube_spark.api import Cube
    cube = Cube()
    cube.load("en")                      # no-op accepted for compatibility
    document = cube(text)                # single text -> eager kernel path
    print(document.sentences[0][2].upos)
    str(document)                        # CoNLL-U serialization (__repr__)

    triples = cube.triples(text)         # the KG extension
    words_df = cube.process(spark, pages_df)   # batch mode -> words DF
    trips_df = cube.process_triples(spark, pages_df)

Single-document calls run eagerly in-process (the reference's own
execution model) on the production NLP function, the one the fused Arrow
stages run per batch: `annotate._annotate_doc` on a batch of one, parse
cap included, and `annotate.sentence_triples`. DataFrame calls route to
those stages with the rules kernels; like the reference's `Cube`, they
take no kernel switch.

Word attribute names follow the reference exactly: index, word, lemma,
upos, xpos, attrs, head, label, deps, space_after (README.md:59).
"""

from __future__ import annotations


class Word:
    __slots__ = ("index", "word", "lemma", "upos", "xpos", "attrs", "head", "label", "deps", "space_after",
                 "mwt_id", "tok_form")

    def __init__(self, index, word, lemma, upos, xpos, attrs, head, label, space_after, mwt_id=0):
        self.index = index
        self.word = word
        self.lemma = lemma
        self.upos = upos
        self.xpos = xpos
        self.attrs = attrs
        self.head = head
        self.label = label
        self.deps = "_"
        self.space_after = space_after
        self.mwt_id = mwt_id
        # surface token of an MWT group's words (e.g. "Al" for "a", "el")
        self.tok_form = None

    def _misc(self):
        return "_" if self.space_after else "SpaceAfter=No"

    def __repr__(self):
        return "\t".join(
            [str(self.index), self.word, self.lemma, self.upos, self.xpos,
             self.attrs, str(self.head), self.label, self.deps, self._misc()]
        )


def _surface(token: list[Word]) -> str:
    w = token[0]
    return (w.tok_form or "".join(x.word for x in token)) if w.mwt_id else w.word


class Sentence:
    def __init__(self, words, lang: str):
        self.words = words
        self.lang = lang

    def __getitem__(self, i):
        return self.words[i]

    def __len__(self):
        return len(self.words)

    def _mwt_groups(self) -> dict[int, list[Word]]:
        groups: dict[int, list[Word]] = {}
        for w in self.words:
            if w.mwt_id:
                groups.setdefault(w.mwt_id, []).append(w)
        return groups

    def _tokens(self):
        """The words grouped by surface token: an MWT group, else one word."""
        groups = self._mwt_groups()
        for w in self.words:
            t = groups.pop(w.mwt_id, None) if w.mwt_id else (w,)
            if t:
                yield t

    @property
    def text(self):
        # reference _detokenize (objects.py:109-115)
        return "".join(_surface(t) + (" " if t[-1].space_after else "") for t in self._tokens()).strip()

    def __repr__(self):
        lines, groups = [], self._mwt_groups()
        for w in self.words:
            t = groups.pop(w.mwt_id, None)
            if t:
                lines.append("\t".join([f"{t[0].index}-{t[-1].index}", _surface(t),
                                        "_", "_", "_", "_", "_", "_", "_", t[-1]._misc()]))
            lines.append(repr(w))
        return "\n".join(lines)


class Document:
    def __init__(self, sentences):
        self.sentences = sentences

    def __repr__(self):
        return "\n\n".join(repr(s) for s in self.sentences) + "\n"


def _sentence(annotated, lang: str, lem_fn) -> Sentence:
    """One `_annotate_doc` sentence tuple -> Sentence, lemmas by `lem_fn`."""
    forms, space, mwt_ids, tok_forms, tags, heads, labels = annotated
    words = []
    for i, form in enumerate(forms):
        upos, xpos, feats = tags[i]
        w = Word(i + 1, form, lem_fn(form, upos, lang), upos, xpos, feats,
                 int(heads[i]), labels[i], bool(space[i]), mwt_ids[i])
        w.tok_form = tok_forms[i]
        words.append(w)
    return Sentence(words, lang)


class Cube:
    """Reference-compatible entry object (cube/api.py:183-211)."""

    def __init__(self, verbose: bool = False):
        self._lang = "en"

    def load(self, lang: str = "en", device: str = "cpu", **_):
        """Accepts the reference signature; models are the built-in
        deterministic kernels, so nothing downloads."""
        self._lang = lang
        return self

    def __call__(self, text, flavour: str | None = None) -> Document:
        from .kernels.learned import get_lemmatizer
        from .operators import annotate as A

        lang = (flavour or self._lang).split("_")[0]
        if isinstance(text, Document):
            # entry point B (reference api.py cube(document)): keep the
            # provided tokenization, redo tagging/parsing/lemmas; an MWT group
            # re-expands from its surface token (as annotate.words_to_sentences)
            text = [
                [(_surface(t), t[-1].space_after, bool(t[0].mwt_id)) for t in s._tokens()]
                for s in text.sentences
            ]
        sents = A._annotate_doc(text, lang)
        lem_fn = get_lemmatizer("rules")
        return Document([_sentence(s, lang, lem_fn) for s in sents])

    # ---- KG extension -------------------------------------------------
    def triples(self, text: str, flavour: str | None = None):
        from .operators import annotate as A

        lang = (flavour or self._lang).split("_")[0]
        out = []
        for sid, (forms, _sp, _mw, _tf, tags, heads, labels) in enumerate(A._annotate_doc(text, lang)):
            A.sentence_triples(
                forms, tags, heads, labels, lang,
                lambda s, p, o, pat: out.append({"sent_id": sid, "subj": s, "pred": p, "obj": o, "pattern": pat}),
            )
        return out

    # ---- batch (Spark) mode -------------------------------------------
    # The rules kernels behind every model seam, as in the reference's
    # Cube. The pinned-weight learned kernels stay reachable through the
    # operators' own scorer=/tagger=/boundary= arguments
    # (tests/test_learned_kernel.py checks both give the same output).
    def process(self, spark, pages_df):
        from .operators.annotate import annotate

        return annotate(pages_df)

    def process_triples(self, spark, pages_df):
        from .operators.annotate import fused_triples

        return fused_triples(pages_df)

"""Pinned-weight micro-parser: a LEARNED drop-in for the arc-score seam.

The reference's value is trained models (biaffine parser,
cube/networks/parser.py:109-233). v0 ships rule kernels; this module proves
the seam those rules sit behind is model-shaped (SURVEY.md §7 step 4): a
first-order arc-factored perceptron with FROZEN committed weights
(micro_parser_weights.json, produced by scripts/train_micro_parser.py on
rule-pipeline annotations of seeded fixture pages) implements the exact
`score_matrix(forms, upos) -> (n+1, n+1) row-stochastic matrix` contract
consumed by mst.decode_tree. Swapping it in changes ZERO Spark plans — the
kernel runs inside the same fused mapInPandas stage (tested in
tests/test_learned_kernel.py, incl. head parity on held-out seeds).

Features are per-arc (dep d, head h), computable from the UPOS sequence:
pair/direction/distance plus "h is d's nearest nominal left/right" and
"h is the first verb" indicators — the standard McDonald-style first-order
feature shapes, NOT a re-encoding of the rule table.
"""

from __future__ import annotations

import json
import os
from functools import lru_cache

import numpy as np

NOMINALS = ("NOUN", "PROPN", "PRON", "NUM")

WEIGHTS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "micro_parser_weights.json")


def sentence_context(upos: list[str]) -> tuple:
    """(next_nominal, prev_nominal, first_verb, first_nom, case_marked)
    index helpers, 0-based. case_marked[d] is the standard morphological
    dep attribute "d is the nominal an adposition attaches to" (the
    adposition's next nominal), a first-order feature conjunct."""
    n = len(upos)
    next_nom: list[int | None] = [None] * n
    prev_nom: list[int | None] = [None] * n
    last: int | None = None
    for i in range(n - 1, -1, -1):
        next_nom[i] = last
        if upos[i] in NOMINALS:
            last = i
    last = None
    for i in range(n):
        prev_nom[i] = last
        if upos[i] in NOMINALS:
            last = i
    first_verb = next((i for i, u in enumerate(upos) if u == "VERB"), None)
    first_nom = next((i for i, u in enumerate(upos) if u in NOMINALS), None)
    case_marked = [False] * n
    for i, u in enumerate(upos):
        if u == "ADP" and next_nom[i] is not None:
            case_marked[next_nom[i]] = True
    return next_nom, prev_nom, first_verb, first_nom, case_marked


def arc_features(upos: list[str], ctx: tuple, d: int, h: int) -> list[str]:
    """Feature strings for arc (dep d 0-based, head h 0-based or -1=ROOT)."""
    u = upos[d]
    next_nom, prev_nom, first_verb, first_nom, case_marked = ctx
    if h < 0:
        fs = ["root", f"root:{u}"]
        if first_verb is not None and d == first_verb:
            fs.append("root_first_verb")
        if first_verb is None and u in NOMINALS:
            fs.append("root_nom_noverb")
            if prev_nom[d] is None:
                fs.append("root_first_nom_noverb")
        return fs
    uh = upos[h]
    dirn = "L" if h < d else "R"
    dist = min(abs(d - h), 4)
    fs = [
        f"pair:{u}:{uh}",
        f"pairdir:{u}:{uh}:{dirn}",
        f"dir:{u}:{dirn}",
        f"dist:{u}:{dist}",
        f"pp:{u}:{uh}:{dirn}:{dist}",
    ]
    if next_nom[d] == h:
        fs.append(f"nextnom:{u}")
    if prev_nom[d] == h:
        fs.append(f"prevnom:{u}")
    if first_nom == h:
        # head is the sentence-initial nominal, conjoined with the dep's
        # case-marking attribute (standard first-order + morphology shape)
        fs.append(f"firstnom:{u}:cm{case_marked[d]}")
        if first_verb is None:
            fs.append(f"firstnom_noverb:{u}:cm{case_marked[d]}")
    if first_verb == h:
        fs.append(f"firstverb:{u}")
        if d < h:
            fs.append(f"firstverb_left:{u}")
        if prev_nom[d] is None and u in NOMINALS:
            fs.append("first_nom_to_verb")
    return fs


def raw_scores(upos: list[str], weights: dict[str, float]) -> np.ndarray:
    """(n+1, n+1) raw arc scores; row d+1, col h+1 (col 0 = ROOT)."""
    n = len(upos)
    ctx = sentence_context(upos)
    raw = np.full((n + 1, n + 1), -30.0)
    for d in range(n):
        for h in range(-1, n):
            if h == d:
                continue
            raw[d + 1, h + 1] = sum(weights.get(f, 0.0) for f in arc_features(upos, ctx, d, h))
    return raw


@lru_cache(maxsize=1)
def load_weights() -> dict:
    """Pinned parser weights, worker-safe in every deploy mode:
    1. on a driver/checkout with a real file: through the artifact store
       (catalog + sha256 verify, io/modelstore.py);
    2. inside an executor importing the package from an addPyFile ZIP
       (session._ship_package): importlib.resources, which reads through
       zipimport — a bare open(path-into-zip) raises NotADirectoryError."""
    return _load_artifact("micro_parser", os.path.basename(WEIGHTS_FILE))


def score_matrix(forms: list[str], upos: list[str]) -> np.ndarray:
    """Learned drop-in for arc_scores.score_matrix: same contract —
    (n+1, n+1) row-stochastic head probabilities, row/col 0 = ROOT."""
    n = len(forms)
    raw = raw_scores(upos, load_weights())
    m = np.zeros((n + 1, n + 1))
    ex = np.exp(raw[1:] - raw[1:].max(axis=1, keepdims=True))
    m[1:] = ex / ex.sum(axis=1, keepdims=True)
    m[0, 0] = 1.0
    return m


def get_scorer(name: str):
    """Kernel registry for the arc-score seam: 'rules' (v0 default),
    'learned' (pinned-weight micro-parser), or 'external:<basename>' — a
    heavyweight artifact shipped via modelstore.ship() and loaded lazily
    inside each python worker (the 100 TB XLM-R deployment path, SURVEY
    §2a #6/#11). Resolved INSIDE the python worker so only the name
    string crosses the closure boundary.

    The seam scores a stack: (forms, upos, intended) for k sentences of n
    words each -> (k, n+1, n+1). The rules kernel builds its stack in one
    piece; the learned and external scorers keep their per-sentence math
    and the seam stacks their matrices."""
    if name == "rules":
        from . import arc_scores

        return arc_scores.score_matrix
    if name == "learned":
        return _stacked(score_matrix)
    if name.startswith("external:"):
        return _stacked(external_arc_scorer(name.split(":", 1)[1]))
    raise ValueError(f"unknown arc scorer: {name!r}")


def _stacked(score_one):
    """A per-sentence (forms, upos) -> (n+1, n+1) scorer as a stack scorer."""

    def scorer(forms, upos, intended=None):
        return np.stack([score_one(f, u) for f, u in zip(forms, upos)])

    return scorer


# ------------------------------------------- external (heavyweight) models
#
# The deployment seam for real neural scorers: the driver registers an
# artifact in the modelstore catalog and ship()s it (addFile fan-out);
# workers resolve it by BASENAME through SparkFiles and cache the loaded
# model as a per-process singleton, so a 1000-executor job loads the
# model once per python worker, never per task and never through the
# closure. Supports torch state_dicts (.pt/.pth, import-gated — torch is
# not in this container) and numpy .npz with the same tensor layout:
#   upos_vocab: array of strings, must contain 'ROOT' (looked up by name)
#   arc_logits: float matrix [dep_upos_idx, head_upos_idx]

_EXTERNAL_MODELS: dict[str, dict] = {}


def _load_tensor_dict(path: str) -> dict:
    """Read a .pt/.pth state dict (torch, import-gated) or an .npz into
    plain numpy arrays. weights_only: the declared contract is pure
    tensors + string vocabs — never let a tampered artifact execute
    pickle code in every python worker (sha pinning for .pt/.pth is
    additionally enforced at modelstore.resolve())."""
    if path.endswith((".pt", ".pth")):
        import torch  # the real heavyweight path; same tensor contract

        sd = torch.load(path, map_location="cpu", weights_only=True)
        return {
            k: (v.detach().cpu().numpy() if hasattr(v, "detach") else np.asarray(v))
            for k, v in sd.items()
        }
    data = np.load(path, allow_pickle=False)
    return {k: data[k] for k in data.files}


def _strings(d: dict, key: str, path: str) -> list[str]:
    try:
        return [str(s) for s in d[key].tolist()]
    except KeyError:
        raise ValueError(
            f"external model {os.path.basename(path)!r}: missing field {key!r}"
        ) from None


def _load_external_arc_model(path: str) -> dict:
    d = _load_tensor_dict(path)
    vocab = _strings(d, "upos_vocab", path)
    mat = np.asarray(d["arc_logits"], dtype=float)
    if mat.shape != (len(vocab), len(vocab)):
        raise ValueError(f"arc_logits {mat.shape} does not match vocab {len(vocab)}")
    if "ROOT" not in vocab:
        raise ValueError(
            f"external arc model {os.path.basename(path)!r}: upos_vocab must "
            "contain a 'ROOT' label (looked up by NAME, any position)"
        )
    return {"idx": {u: i for i, u in enumerate(vocab)}, "mat": mat}


def external_arc_scorer(basename: str):
    """score_matrix-contract scorer backed by a shipped artifact: same
    (forms, upos) -> (n+1, n+1) row-stochastic output as the rules and
    pinned-perceptron kernels, so it slots behind fused_words/fused_triples
    with zero plan change."""

    def scorer(forms: list[str], upos: list[str]) -> np.ndarray:
        model = _EXTERNAL_MODELS.get(basename)
        if model is None:
            from ..io.modelstore import executor_path

            model = _load_external_arc_model(executor_path(basename))
            _EXTERNAL_MODELS[basename] = model
        idx, mat = model["idx"], model["mat"]
        root = idx["ROOT"]
        cols = [root] + [idx.get(u, root) for u in upos]
        n = len(upos)
        raw = np.zeros((n + 1, n + 1))
        for d in range(1, n + 1):
            raw[d] = mat[idx.get(upos[d - 1], root)][cols]
        m = np.zeros((n + 1, n + 1))
        ex = np.exp(raw[1:] - raw[1:].max(axis=1, keepdims=True))
        m[1:] = ex / ex.sum(axis=1, keepdims=True)
        m[0, 0] = 1.0
        return m

    return scorer


def _load_external_tag_model(path: str) -> dict:
    """Tensor contract for an external tagger (e.g. an exported embedding-
    lookup head of a neural tagger): form_vocab (lowercased forms, must
    contain '<unk>'), tag_classes ('upos\\txpos\\tfeats' joint classes),
    tag_logits [form_idx, class_idx]."""
    d = _load_tensor_dict(path)
    vocab = _strings(d, "form_vocab", path)
    classes = _strings(d, "tag_classes", path)
    mat = np.asarray(d["tag_logits"], dtype=float)
    if mat.shape != (len(vocab), len(classes)):
        raise ValueError(
            f"tag_logits {mat.shape} does not match vocab {len(vocab)} x classes {len(classes)}"
        )
    if "<unk>" not in vocab:
        raise ValueError(
            f"external tag model {os.path.basename(path)!r}: form_vocab lacks '<unk>'"
        )
    bad = [c for c in classes if c.count("\t") != 2]
    if bad:
        raise ValueError(
            f"external tag model {os.path.basename(path)!r}: classes must be "
            f"'upos\\txpos\\tfeats' triples, got {bad[:3]!r}"
        )
    return {"idx": {f: i for i, f in enumerate(vocab)}, "classes": classes, "mat": mat}


def external_tagger(basename: str):
    """tag_sentence-contract tagger ((forms, lang) -> [(upos, xpos,
    feats)]) backed by a shipped artifact — same per-process singleton
    discipline as external_arc_scorer; slots behind fused_words/
    fused_triples(tagger='external:<basename>') with zero plan change.
    Unknown forms fall back to the '<unk>' row (argmax ties break to the
    lower class index — deterministic under any parallelism)."""

    def tagger(forms: list[str], lang: str) -> list[tuple[str, str, str]]:
        key = ("tag", basename)
        model = _EXTERNAL_MODELS.get(key)
        if model is None:
            from ..io.modelstore import executor_path

            model = _load_external_tag_model(executor_path(basename))
            _EXTERNAL_MODELS[key] = model
        idx, classes, mat = model["idx"], model["classes"], model["mat"]
        unk = idx["<unk>"]
        out = []
        for f in forms:
            cls = classes[int(np.argmax(mat[idx.get(f.lower(), unk)]))]
            upos, xpos, feats = cls.split("\t")
            out.append((upos, xpos, feats))
        return out

    return tagger


def _load_external_lemma_model(path: str) -> dict:
    """Tensor contract for an external lemmatizer: key_vocab (strings
    'form\\tupos', bare 'form' fallback keys allowed, must contain
    '<unk>'), edit_classes (edit-script grammar of edit_script()),
    edit_logits [key_idx, class_idx]. The argmax class is applied with
    apply_edit, so the artifact stays pure tensors while reusing the
    committed transduction semantics."""
    d = _load_tensor_dict(path)
    vocab = _strings(d, "key_vocab", path)
    classes = _strings(d, "edit_classes", path)
    mat = np.asarray(d["edit_logits"], dtype=float)
    if mat.shape != (len(vocab), len(classes)):
        raise ValueError(
            f"edit_logits {mat.shape} does not match vocab {len(vocab)} x classes {len(classes)}"
        )
    if "<unk>" not in vocab:
        raise ValueError(
            f"external lemma model {os.path.basename(path)!r}: key_vocab lacks '<unk>'"
        )
    return {"idx": {k: i for i, k in enumerate(vocab)}, "classes": classes, "mat": mat}


def external_lemmatizer(basename: str):
    """lemmatize-contract ((form, upos, lang) -> lemma) backed by a
    shipped artifact; slots behind the dedup-then-broadcast-join stage
    (operators/annotate.attach_lemmas(lemmatizer='external:<basename>'))
    with zero plan change. Lookup ladder: 'form\\tupos' -> lowercased
    form -> '<unk>'."""

    def lem(form: str, upos: str, lang: str) -> str:
        key = ("lemma", basename)
        model = _EXTERNAL_MODELS.get(key)
        if model is None:
            from ..io.modelstore import executor_path

            model = _load_external_lemma_model(executor_path(basename))
            _EXTERNAL_MODELS[key] = model
        idx, classes, mat = model["idx"], model["classes"], model["mat"]
        low = form.lower()
        i = idx.get(f"{low}\t{upos}", idx.get(low, idx["<unk>"]))
        return apply_edit(form, classes[int(np.argmax(mat[i]))])

    return lem


# ---------------------------------------------------------------------------
# Generic sparse multiclass perceptron (shared by the tagger and boundary
# micro-models; weights layout: {"classes": [...], "w": {feat: {cls: w}}})
# ---------------------------------------------------------------------------

def perceptron_predict(weights: dict, feats: list[str]) -> str:
    """argmax class; ties break to the earlier class in weights['classes']
    (a fixed, committed order) — deterministic under any parallelism."""
    w = weights["w"]
    scores: dict[str, float] = {}
    for f in feats:
        for cls, v in w.get(f, {}).items():
            scores[cls] = scores.get(cls, 0.0) + v
    best, best_s = None, None
    for cls in weights["classes"]:
        s = scores.get(cls, 0.0)
        if best_s is None or s > best_s:
            best, best_s = cls, s
    return best


# ----------------------------------------------------------------- tagger

_NUM_RE_STR = r"^\d[\d.,]*$"


def tag_features(forms: list[str], lang: str, i: int) -> list[str]:
    """Joint-tagger features: word identity/shape/suffix + one word of
    context each side + language — the standard linear-tagger shapes."""
    import re

    f = forms[i]
    low = f.lower()
    prev = forms[i - 1].lower() if i > 0 else "<s>"
    nxt = forms[i + 1].lower() if i + 1 < len(forms) else "</s>"
    return [
        f"w:{low}",
        f"wl:{low}:{lang}",
        f"suf1:{low[-1:]}",
        f"suf2:{low[-2:]}",
        f"suf3:{low[-3:]}",
        f"shape:U{f[:1].isupper()}:F{i == 0}",
        f"num:{bool(re.match(_NUM_RE_STR, f))}",
        f"prev:{prev}",
        f"next:{nxt}",
        f"lang:{lang}",
        "bias",
    ]


@lru_cache(maxsize=1)
def _tagger_weights() -> dict:
    return _load_artifact("micro_tagger", "micro_tagger_weights.json")


def tag_sentence(forms: list[str], lang: str) -> list[tuple[str, str, str]]:
    """Learned drop-in for tagger_rules.tag_sentence: same (upos, xpos,
    feats) triple contract; the joint class is the full triple (the
    reference's tagger predicts upos/xpos/attrs off one shared encoder)."""
    w = _tagger_weights()
    out = []
    for i in range(len(forms)):
        cls = perceptron_predict(w, tag_features(forms, lang, i))
        upos, xpos, feats = cls.split("\t")
        out.append((upos, xpos, feats))
    return out


def get_tagger(name: str):
    """'rules' | 'learned' | 'external:<basename>' (a shipped tensor
    artifact, see external_tagger) — same registry convention as
    get_scorer, so a deployment can swap the tagging stage (SURVEY §2a
    #13) without touching the plan."""
    if name == "rules":
        from . import tagger_rules

        return tagger_rules.tag_sentence
    if name == "learned":
        return tag_sentence
    if name.startswith("external:"):
        return external_tagger(name.split(":", 1)[1])
    raise ValueError(f"unknown tagger: {name!r}")


# --------------------------------------------------------------- boundary

def boundary_features(toks: list[str], spa: list[int], lang: str, i: int) -> list[str]:
    """Boundary-classifier features: token identity + spacing + one token
    of context each side + digit-context conjunctions (the signals a CNN
    over a char window learns; reference tokenizer.py:70-127)."""
    n = len(toks)
    t = toks[i]
    low = t.lower()
    prev_dig = toks[i - 1].isdigit() if i > 0 else False
    nxt = toks[i + 1].lower() if i + 1 < n else "</s>"
    nxt_dig = toks[i + 1].isdigit() if i + 1 < n else False
    nxt_spa = spa[i + 1] if i + 1 < n else 0
    nxt2_dig = toks[i + 2].isdigit() if i + 2 < n else False
    return [
        f"t:{low}",
        f"tl:{low}:{lang}",
        f"tls:{low}:{lang}:{spa[i]}",
        f"sp:{spa[i]}",
        f"dig:{t.isdigit()}",
        f"next:{nxt}",
        f"numsep:{low}:{prev_dig}:{nxt_dig}:{spa[i]}",
        f"digrun:{t.isdigit()}:{spa[i]}:{nxt}:{nxt_spa}:{nxt2_dig}",
        f"lang:{lang}",
        "bias",
    ]


@lru_cache(maxsize=1)
def _boundary_weights() -> dict:
    return _load_artifact("micro_boundary", "micro_boundary_weights.json")


def classify(toks: list[str], spa: list[int], lang: str) -> list[int]:
    """Learned drop-in for segment_rules.classify: same 5-label alphabet,
    same window/concat bookkeeping (labels are position-local here too)."""
    w = _boundary_weights()
    return [int(perceptron_predict(w, boundary_features(toks, spa, lang, i))) for i in range(len(toks))]


def get_boundary(name: str):
    if name == "rules":
        from . import segment_rules

        return segment_rules.classify
    if name == "learned":
        return classify
    raise ValueError(f"unknown boundary classifier: {name!r}")


# ------------------------------------------------------------- lemmatizer

def edit_script(form: str, lemma: str) -> str:
    """Derive the char-transduction class mapping form -> lemma:
    'n_strip|append|case' over the lowercased form (strip n chars from the
    end, append a string, then apply the case class). This is the standard
    lemmatization-as-edit-script-classification reduction of the
    reference's char seq2seq (lemmatizer.py:78-171): a finite class set
    replaces the decoder, and the per-character case classes
    (lemmatizer.py:210-224) collapse to {orig, low, cap} because the
    recasing rule is positional (initial upper for PROPN)."""
    low = form.lower()
    if lemma == form and lemma != low:
        return "0||orig"  # identity incl. original casing (PUNCT/SYM/NUM)
    lem_low = lemma.lower()
    p = 0
    while p < len(low) and p < len(lem_low) and low[p] == lem_low[p]:
        p += 1
    n_strip = len(low) - p
    append = lem_low[p:]
    if lemma == lem_low:
        case = "low"
    elif lemma and lemma == lem_low[:1].upper() + lem_low[1:]:
        case = "cap"
    else:
        case = "orig"  # lemma == form with mixed casing
    return f"{n_strip}|{append}|{case}"


def apply_edit(form: str, cls: str) -> str:
    n_s, append, case = cls.split("|", 2)
    if case == "orig":
        return form
    low = form.lower()
    n = int(n_s)
    base = (low[: len(low) - n] if n else low) + append
    if case == "cap":
        return base[:1].upper() + base[1:] if base else base
    return base


def lemma_features(form: str, upos: str, lang: str) -> list[str]:
    """Suffix/shape features conditioned on UPOS + language — the signals
    the reference's seq2seq conditions on (encoder reads chars + upos/lang
    embeddings, lemmatizer.py:84-101)."""
    low = form.lower()
    n = len(low)
    fs = [
        f"u:{upos}",
        f"ul:{upos}:{lang}",
        f"w:{low}",
        f"wu:{low}:{upos}",
        f"wul:{low}:{upos}:{lang}",
        f"len:{min(n, 8)}:{upos}",
        "bias",
    ]
    for k in (1, 2, 3, 4):
        fs.append(f"suf{k}:{low[-k:]}:{upos}")
        fs.append(f"sufl{k}:{low[-k:]}:{upos}:{lang}")
        fs.append(f"sufn{k}:{low[-k:]}:{min(n, 8)}:{upos}")
    return fs


@lru_cache(maxsize=1)
def _lemma_weights() -> dict:
    return _load_artifact("micro_lemmatizer", "micro_lemmatizer_weights.json")


def lemmatize(form: str, upos: str, lang: str) -> str:
    """Learned drop-in for lemma_rules.lemmatize: same pure
    (form, upos, lang) -> lemma contract, so it slots behind the SAME
    dedup-then-broadcast-join stage (operators/annotate.attach_lemmas)
    with zero plan change."""
    cls = perceptron_predict(_lemma_weights(), lemma_features(form, upos, lang))
    return apply_edit(form, cls)


def canonical_edit(
    form: str, gold: str, prefer: tuple = ("low", "cap", "orig")
) -> str:
    """edit_script normalized to a casing-insensitive representative:
    'Paris'->'Paris' (PROPN) and 'PARIS'->'Paris' yield '0||orig' vs
    '0||cap' from edit_script — functionally identical on either form
    but DISTINCT class strings, which would poison pattern consistency
    in the transducer. Pick the first case class in `prefer` whose
    application reproduces the gold, so all casings of a form map to
    one class. Verbatim-identity tags (PUNCT/SYM/NUM, where the gold IS
    the form at any casing) should pass prefer=('orig', 'low', 'cap')
    so mixed-case forms share the 'orig' class with lowercase ones."""
    n_s, app, _case = edit_script(form, gold).split("|", 2)
    for case in prefer:
        cls = f"{n_s}|{app}|{case}"
        if apply_edit(form, cls) == gold:
            return cls
    return edit_script(form, gold)


@lru_cache(maxsize=1)
def _lemma_transducer() -> dict:
    return _load_artifact("micro_lemma_transducer", "micro_lemma_transducer.json")


def transduce_lemma(form: str, upos: str, lang: str) -> str:
    """Generative lemmatizer: longest-suffix-rule induction with backoff
    (kernels/transducer.py) — COMPOSES edit programs for unseen forms
    instead of choosing among memorized classes (the reference seq2seq's
    open-vocab property, lemmatizer.py:78-171, via the classic suffix-
    transducer reduction). Same pure (form, upos, lang) -> lemma
    contract as lemma_rules/lemmatize, so it slots behind the identical
    dedup-then-broadcast-join stage. A (upos, lang) group absent from
    the artifact falls back to the en group (lemma semantics are
    lang-independent outside trained langs), then to lowercase identity."""
    from . import transducer as T

    tabs = _lemma_transducer()
    tab = tabs.get(f"{upos}|{lang}") or tabs.get(f"{upos}|en")
    if tab is None:
        return apply_edit(form, "0||low")
    return apply_edit(form, T.lookup(tab, T.lemma_patterns(form)))


def get_lemmatizer(name: str):
    """'rules' | 'learned' | 'transducer' | 'external:<basename>' (a
    shipped tensor artifact, see external_lemmatizer) — same registry
    convention as get_scorer, completing the three neural-stage seams
    (SURVEY §2a #13/#14/#17). 'transducer' is the generative open-vocab
    path (suffix-rule induction, transduce_lemma)."""
    if name == "rules":
        from . import lemma_rules

        return lemma_rules.lemmatize
    if name == "learned":
        return lemmatize
    if name == "transducer":
        return transduce_lemma
    if name.startswith("external:"):
        return external_lemmatizer(name.split(":", 1)[1])
    raise ValueError(f"unknown lemmatizer: {name!r}")


# ------------------------------------------------------------ MWT expander

def mwt_program(form: str, words: list[str]) -> str:
    """Derive the char-transduction program mapping a surface MWT form to
    its word sequence — the classification reduction of the reference's
    compound-word-expander seq2seq (compound.py:183-245). Program grammar
    (one spec per output word, '|'-joined):
      word 1: 's{n}+{app}'  strip n chars from the end of lower(form), append
      word k: 'l{k}+{pre}'  the form's last k chars, prefixed with pre
              'a+{lit}'     a literal word (no char overlap with the form)
    The program depends only on SHAPE, so distinct surface forms with the
    same contraction pattern share a class (es 'del'/'al' -> one class;
    pt 'dos' generalizes from 'do'+plural shapes) — that sharing is what
    lets the expander produce NON-dictionary expansions."""
    low = form.lower()
    specs = []
    w1 = words[0].lower() if words else ""
    p = 0
    while p < len(low) and p < len(w1) and low[p] == w1[p]:
        p += 1
    specs.append(f"s{len(low) - p}+{w1[p:]}")
    for w in words[1:]:
        wl = w.lower()
        k = 0
        for kk in range(min(len(wl), len(low)), 0, -1):
            if wl[-kk:] == low[-kk:]:
                k = kk
                break
        specs.append(f"l{k}+{wl[:-k]}" if k else f"a+{wl}")
    return "|".join(specs)


def apply_mwt_program(form: str, program: str) -> list[str]:
    if program == "s0+":
        # pure identity passes the form through VERBATIM — the rules
        # expander returns [form] for any non-lexicon form regardless of
        # case (segment_rules.expand_mwt), and the shape features are
        # case-folded, so a case-lowering identity would silently
        # lower-case every capitalized unseen form (measured as the 13%
        # mwt_rules_agree gap on the r5 open-vocabulary corpus).
        return [form]
    low = form.lower()
    out = []
    for spec in program.split("|"):
        op, arg = spec.split("+", 1)
        if op.startswith("s"):
            n = int(op[1:])
            out.append((low[: len(low) - n] if n else low) + arg)
        elif op.startswith("l"):
            k = int(op[1:])
            out.append(arg + (low[-k:] if k else ""))
        else:
            out.append(arg)
    return out


def mwt_features(form: str, lang: str) -> list[str]:
    """Shape features: contraction programs are determined by the
    (first char, final chars, length, language) shape — 'das' shares
    shape:d:s:3:pt with 'dos', not with 'da' (length) or 'mas' (initial) —
    so program classes transfer to unseen surface forms.

    Deliberately NO bias/bare-lang/bare-length features: those only encode
    class priors, which would drown the shape evidence transfer depends on.
    A form with NO seen shape features scores 0 for every class and the
    committed tie-break (perceptron_predict: earliest class in sorted
    order) lands on the identity program 's0+' — first because every
    program starts with an 's{n}' spec and n=0 sorts lowest — so unknown
    surface forms pass through unchanged."""
    low = form.lower()
    n = min(len(low), 6)
    return [
        f"w:{low}",
        f"wl:{low}:{lang}",
        f"pre1:{low[:1]}:{lang}",
        f"suf1:{low[-1:]}:{lang}",
        f"suf2:{low[-2:]}:{lang}",
        f"prelen:{low[:1]}:{n}:{lang}",
        f"shape:{low[:1]}:{low[-1:]}:{n}:{lang}",
        f"shape2:{low[:1]}:{low[-2:]}:{n}:{lang}",
    ]


@lru_cache(maxsize=1)
def _mwt_weights() -> dict:
    return _load_artifact("micro_mwt", "micro_mwt_weights.json")


def expand_mwt(form: str, lang: str) -> list[str]:
    """Learned drop-in for segment_rules.expand_mwt: same pure
    (form, lang) -> words contract behind the same distinct-forms +
    broadcast-join shape. Unlike the dictionary it can expand surface
    forms it never saw, via program-class sharing."""
    cls = perceptron_predict(_mwt_weights(), mwt_features(form, lang))
    return apply_mwt_program(form, cls)


@lru_cache(maxsize=1)
def _mwt_transducer() -> dict:
    return _load_artifact("micro_mwt_transducer", "micro_mwt_transducer.json")


def transduce_mwt(form: str, lang: str) -> list[str]:
    """Generative MWT expander via suffix-rule induction (reference
    compound.py:183-245 semantics through kernels/transducer.py): the
    dictionary ships as whole-word rules, contraction SHAPES as suffix
    rules (so unseen surface forms sharing a trained contraction shape
    expand), and everything else backs off to the verbatim-identity
    program 's0+'. A language absent from the artifact is identity."""
    from . import transducer as T

    tab = _mwt_transducer().get(lang)
    if tab is None:
        return [form]
    return apply_mwt_program(form, T.lookup(tab, T.mwt_patterns(form)))


def get_mwt_expander(name: str):
    if name == "dict":
        from . import segment_rules

        return segment_rules.expand_mwt
    if name == "learned":
        return expand_mwt
    if name == "transducer":
        return transduce_mwt
    raise ValueError(f"unknown MWT expander: {name!r}")


# ------------------------------------------------- coverage introspection

def vocab_coverage(
    keys: list[tuple[str, str, str]],
    lemma_train_keys: set | None = None,
    mwt_train_forms: set | None = None,
) -> dict:
    """Closed-vocab boundary metric for the learned lemmatizer + MWT
    expander (the honest stat behind the exact-parity claim): the learned
    kernels are CLASSIFIERS over finite class sets — provably exact on
    every trained key (the trainers assert 0 train errors), generalizing
    to unseen forms only via suffix/shape sharing — unlike the reference's
    seq2seq (lemmatizer.py:78-171, compound.py:183-245) which can emit
    arbitrary strings. Before pointing this engine at an open-vocabulary
    corpus, run this over the corpus's distinct keys: keys outside the
    train set ride the shape-generalization path, whose quality is what
    the *_rules_agree_frac columns measure against the rules fallback.

    keys: distinct (form, upos, lang) triples from the corpus.
    lemma_train_keys: the lemmatizer trainer's (form, upos, lang) set
      (reproducible from scripts/train_micro_lemmatizer.py defaults).
    mwt_train_forms: the MWT trainer's (lang, lower-form) set.
    Exact fracs are None when the corresponding train set isn't supplied.
    """
    from . import lemma_rules, segment_rules

    n = len(keys)
    if not n:
        return {"n_keys": 0, "lemma_exact_frac": 1.0, "lemma_rules_agree_frac": 1.0,
                "mwt_exact_frac": 1.0, "mwt_rules_agree_frac": 1.0,
                "lemma_transducer_agree_frac": 1.0, "mwt_transducer_agree_frac": 1.0}
    lemma_exact = lemma_agree = mwt_exact = mwt_agree = 0
    lemma_trans = mwt_trans = 0
    for form, upos, lang in keys:
        low = form.lower()
        gold_lemma = lemma_rules.lemmatize(form, upos, lang)
        gold_mwt = segment_rules.expand_mwt(form, lang)
        if lemma_train_keys is not None and (form, upos, lang) in lemma_train_keys:
            lemma_exact += 1
        if lemmatize(form, upos, lang) == gold_lemma:
            lemma_agree += 1
        if transduce_lemma(form, upos, lang) == gold_lemma:
            lemma_trans += 1
        if mwt_train_forms is not None and (lang, low) in mwt_train_forms:
            mwt_exact += 1
        if expand_mwt(form, lang) == gold_mwt:
            mwt_agree += 1
        if transduce_mwt(form, lang) == gold_mwt:
            mwt_trans += 1
    return {
        "n_keys": n,
        "lemma_exact_frac": lemma_exact / n if lemma_train_keys is not None else None,
        "lemma_rules_agree_frac": lemma_agree / n,
        "lemma_transducer_agree_frac": lemma_trans / n,
        "mwt_exact_frac": mwt_exact / n if mwt_train_forms is not None else None,
        "mwt_rules_agree_frac": mwt_agree / n,
        "mwt_transducer_agree_frac": mwt_trans / n,
    }


# ---------------------------------------------------------------- loading

def _load_artifact(store_name: str, basename: str) -> dict:
    """Same zip-safe loading ladder as load_weights.

    The modelstore path VERIFIES integrity: a sha256 mismatch (ValueError)
    must propagate — falling back to the raw file would load the tampered
    artifact anyway and make the check decorative. Only a missing/partial
    modelstore (ImportError from a trimmed deploy, FileNotFoundError /
    KeyError from a catalog that doesn't know this artifact) falls back."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), basename)
    if os.path.isfile(path):
        try:
            from ..io.modelstore import load_json
        except ImportError:
            load_json = None
        if load_json is not None:
            try:
                return load_json(store_name)
            except (FileNotFoundError, KeyError):
                pass  # not catalogued here — the packaged file is the source
        with open(path) as f:
            return json.load(f)
    from importlib import resources

    return json.loads(resources.files("nlp_cube_spark.kernels").joinpath(basename).read_text())

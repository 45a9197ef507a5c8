"""Deterministic biaffine-style arc scorer + label rules.

Produces the (n+1, n+1) head-probability matrix the MST decoder consumes —
the same interface as the reference's biaffine head (cube/networks/
parser.py:109-216 emits scores, softmax at :425 feeds the decoder at
utils.py:565-577). The "weights" here are UD attachment rules for the
fixture grammar; structure (score matrix -> softmax -> MST -> label argmax)
is identical, so swapping in a learned scorer later changes nothing
downstream.
"""

from __future__ import annotations

import numpy as np

STRONG = 12.0
WEAK = 0.25


def _pick_root(upos: list[str]) -> int:
    """0-based index of the syntactic root word."""
    for i, u in enumerate(upos):
        if u == "VERB":
            return i
    # copular sentence: root is the predicate nominal = first NOUN/PROPN
    # that follows an AUX (README.md:24-31: "test" is root, "is" is cop)
    aux = next((i for i, u in enumerate(upos) if u == "AUX"), None)
    if aux is not None:
        for i in range(aux + 1, len(upos)):
            if upos[i] in ("NOUN", "PROPN", "PRON", "NUM"):
                return i
    for i, u in enumerate(upos):
        if u in ("NOUN", "PROPN", "PRON"):
            return i
    return 0


def _next_nominal(upos: list[str], start: int) -> int | None:
    for j in range(start, len(upos)):
        if upos[j] in ("NOUN", "PROPN", "PRON", "NUM"):
            return j
    return None


def intended_arcs(forms: list[str], upos: list[str]) -> tuple[list[int], list[str]]:
    """Rule attachment: (head per word, 1-based, 0=ROOT) + deprel labels."""
    n = len(forms)
    if n == 0:
        return [], []
    root = _pick_root(upos)
    heads = [root + 1] * n
    labels = ["dep"] * n
    heads[root], labels[root] = 0, "root"

    nominal_of_adp: dict[int, int] = {}
    for i, u in enumerate(upos):
        if i == root:
            continue
        if u == "PUNCT":
            heads[i], labels[i] = root + 1, "punct"
        elif u == "DET":
            j = _next_nominal(upos, i + 1)
            if j is not None:
                heads[i], labels[i] = j + 1, "det"
        elif u == "ADP":
            j = _next_nominal(upos, i + 1)
            if j is not None:
                heads[i], labels[i] = j + 1, "case"
                nominal_of_adp[j] = i
        elif u == "AUX":
            heads[i], labels[i] = root + 1, "cop"
        elif u == "NUM":
            j = _next_nominal(upos, i + 1)
            if j is not None and j != i:
                heads[i], labels[i] = j + 1, "nummod"
            else:
                heads[i], labels[i] = root + 1, "obj" if i > root else "nsubj"
        elif u == "CCONJ":
            j = _next_nominal(upos, i + 1)
            if j is not None:
                heads[i], labels[i] = j + 1, "cc"

    # nominal core arguments
    subj_found = False
    prev_nominal: int | None = None
    for i, u in enumerate(upos):
        if i == root or u not in ("NOUN", "PROPN", "PRON"):
            if i == root:
                prev_nominal = i
            continue
        if i < root and not subj_found:
            heads[i], labels[i] = root + 1, "nsubj"
            subj_found = True
            prev_nominal = i
        elif i < root and subj_found:
            # apposition: "Alice , the scientist ," — nominal between commas
            # attaches to the previous nominal (ref README copula example +
            # UD appos convention)
            if prev_nominal is not None:
                heads[i], labels[i] = prev_nominal + 1, "appos"
            prev_nominal = i
        else:  # i > root
            if i in nominal_of_adp:
                heads[i], labels[i] = root + 1, "obl"
            elif upos[root] == "VERB" and labels[i] == "dep":
                heads[i], labels[i] = root + 1, "obj"
            elif labels[i] == "dep":
                if prev_nominal is not None and prev_nominal > root:
                    heads[i], labels[i] = prev_nominal + 1, "appos"
                else:
                    heads[i], labels[i] = root + 1, "obj"
            prev_nominal = i

    return heads, labels


def _floor(n: int) -> np.ndarray:
    """(n+1, n+1) distance-decayed floor WEAK/(1+|d-h|): no self-arcs, and
    ROOT's row 0 is zero. Each entry depends only on (d, h), never on n."""
    idx = np.arange(n + 1)
    m = WEAK / (1.0 + np.abs(idx[:, None] - idx[None, :]))
    np.fill_diagonal(m, 0.0)
    m[0, :] = 0.0
    return m


# One floor for sentences up to FLOOR_WORDS words (129^2 float64, ~130 KB per
# worker), sliced per sentence; longer sentences build their own.
FLOOR_WORDS = 128
_FLOOR = _floor(FLOOR_WORDS)


def score_matrix(forms, upos, intended=None) -> np.ndarray:
    """Row-normalized head probabilities from the rule arcs.

    Intended arcs get a dominant score; every other (dep, head) pair gets a
    distance-decayed floor so the matrix is a realistic dense score surface
    (MST still has real work to do when rules conflict).

    One sentence (lists of forms and UPOS tags) gives its (n+1, n+1) matrix.
    k sentences of n words each (lists of those lists) give a (k, n+1, n+1)
    stack, built with one floor broadcast, one STRONG assignment and one
    row-normalize; a single sentence is a stack of one. `intended` passes
    the intended_arcs heads (one list per sentence) when the caller has
    them already.
    """
    if not forms or isinstance(forms[0], str):
        return score_matrix([forms], [upos], None if intended is None else [intended])[0]
    if intended is None:
        intended = [intended_arcs(f, u)[0] for f, u in zip(forms, upos)]
    k, n = len(forms), len(forms[0])
    m = np.empty((k, n + 1, n + 1))
    m[:] = _FLOOR[: n + 1, : n + 1] if n <= FLOOR_WORDS else _floor(n)
    m[np.arange(k)[:, None], np.arange(1, n + 1), np.array(intended, dtype=np.int64).reshape(k, n)] = STRONG
    # row-normalize to probabilities (softmax analog)
    m[:, 1:] /= m[:, 1:].sum(axis=2, keepdims=True)
    m[:, 0, 0] = 1.0
    return m


def label_arcs(
    forms: list[str], upos: list[str], heads: list[int],
    intended: tuple[list[int], list[str]] | None = None,
) -> list[str]:
    """Label chosen arcs; mirrors the reference's post-MST label argmax
    (parser.py:427-438) with rule lookups conditioned on the decoded head.
    `intended` is the sentence's intended_arcs, when the caller has it."""
    intended_heads, intended_labels = intended if intended is not None else intended_arcs(forms, upos)
    out = []
    for i, h in enumerate(heads):
        if h == intended_heads[i]:
            out.append(intended_labels[i])
        elif h == 0:
            out.append("root")
        else:
            hu = upos[h - 1] if 1 <= h <= len(upos) else "X"
            u = upos[i]
            if u == "PUNCT":
                out.append("punct")
            elif u == "DET":
                out.append("det")
            elif u == "ADP":
                out.append("case")
            elif u == "AUX":
                out.append("cop")
            elif u in ("NOUN", "PROPN", "PRON"):
                out.append("nmod" if hu in ("NOUN", "PROPN") else ("obj" if i > h - 1 else "nsubj"))
            else:
                out.append("dep")
    return out

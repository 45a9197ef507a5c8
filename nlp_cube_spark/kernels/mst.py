"""Maximum spanning arborescence (Chu-Liu/Edmonds) with single-root repair.

Decodes dependency trees from an arc-probability matrix, playing the role of
the reference's MST decoder (cube/networks/utils.py:400-577, itself derived
from the public Dozat Parser-v3 script). This is an independent
implementation in log space: cycle contraction adds log-scores where the
probability formulation multiplies them, which makes identical argmax
decisions with better numerics.

Conventions (same as reference `decode`):
- input `probs` is (n+1, n+1): probs[d, h] = P(head(d) = h), row/col 0 = ROOT;
  or a (k, n+1, n+1) stack of k such matrices, one per n-word sentence.
- output heads[1:]: head index per word, 0 means ROOT (one row per sentence
  for a stack).
- single-root enforcement: if the raw MST hangs several words off ROOT, try
  each plausible root, force it, and keep the highest-scoring tree —
  mirroring the reference's `roots_to_try` fallback ladder (utils.py:525-534)
  because root choice feeds triple extraction.
"""

from __future__ import annotations

import numpy as np

NEG = -1e18


def _find_cycle(heads: list[int]) -> list[int] | None:
    """Return one cycle (list of node ids, excluding ROOT) or None.

    Runs on a Python list: indexing a numpy array one scalar at a time costs
    more than the whole walk on sentence-sized inputs."""
    n = len(heads)
    color = [0] * n  # 0 unvisited, 1 in progress, 2 done
    for s in range(1, n):
        if color[s]:
            continue
        path = []
        v = s
        while v != 0 and color[v] == 0:
            color[v] = 1
            path.append(v)
            v = heads[v]
        if v != 0 and color[v] == 1:
            # found a cycle: the suffix of path starting at v
            cyc = path[path.index(v) :]
            for p in path:
                color[p] = 2
            return cyc
        for p in path:
            color[p] = 2
    return None


def _greedy_heads(logs: np.ndarray) -> np.ndarray:
    masked = logs.copy()
    np.fill_diagonal(masked, NEG)  # heads may be any other node, ROOT included
    heads = np.argmax(masked, axis=1)
    heads[0] = 0
    return heads


def _cle(logs: np.ndarray) -> np.ndarray:
    """Chu-Liu/Edmonds on log-scores; returns head per node (heads[0]=0)."""
    n = logs.shape[0]
    heads = _greedy_heads(logs)
    cyc = _find_cycle(heads.tolist())
    if cyc is None:
        return heads

    cyc_set = set(cyc)
    rest = [v for v in range(n) if v not in cyc_set]
    cyc_arr = np.array(cyc)
    rest_arr = np.array(rest)

    cyc_score = float(sum(logs[v, heads[v]] for v in cyc))

    # contracted graph: rest nodes + one meta node (index m)
    m = len(rest)
    sub = np.full((m + 1, m + 1), NEG)
    sub[:m, :m] = logs[np.ix_(rest_arr, rest_arr)]

    # arcs into the cycle: for each outside head h, the best entry node —
    # gain = total cycle score - lost internal arc + new external arc
    enter_gain = logs[np.ix_(cyc_arr, rest_arr)] - logs[cyc_arr, heads[cyc_arr]][:, None] + cyc_score
    best_entry = np.argmax(enter_gain, axis=0)  # per outside node
    sub[m, :m] = enter_gain[best_entry, np.arange(m)]

    # arcs out of the cycle: best cycle-internal head per outside dependent
    exit_scores = logs[np.ix_(rest_arr, cyc_arr)]
    best_exit = np.argmax(exit_scores, axis=1)
    sub[:m, m] = exit_scores[np.arange(m), best_exit]

    sub_heads = _cle(sub)

    out = np.zeros(n, dtype=np.int64)
    # outside nodes
    for i, v in enumerate(rest):
        h = sub_heads[i]
        out[v] = rest[h] if h < m else cyc[best_exit[i]]
    # cycle keeps its internal arcs except the entry node
    for v in cyc:
        out[v] = heads[v]
    entry_outside = sub_heads[m]  # index into rest
    entry_node = cyc[best_entry[entry_outside]]
    out[entry_node] = rest[entry_outside]
    out[0] = 0
    return out


def decode_tree(probs: np.ndarray) -> np.ndarray:
    """probs (n+1, n+1) -> heads for words 1..n (0 = ROOT); a stack
    (k, n+1, n+1) of k n-word sentences -> heads (k, n), each row decoded
    as if alone. A single matrix is a stack of one.

    The log-scores, masks and greedy argmax are taken once for the whole
    stack. A row whose greedy heads are a tree with exactly one ROOT child
    is final (Chu-Liu/Edmonds would return those heads unchanged); every
    other row runs the contraction and single-root repair on its own."""
    p = np.asarray(probs, dtype=np.float64)
    if p.ndim == 2:
        return decode_tree(p[None])[0]
    k, n1 = p.shape[0], p.shape[1]
    if n1 <= 1:  # zero-word sentences: nothing to decode
        return np.zeros((k, 0), dtype=np.int64)
    # zero and negative probabilities score NEG; `~(p <= 0)` keeps NaN in
    # the logged set, so a NaN probability stays NaN
    logs = np.log(p, out=np.full(p.shape, NEG), where=~(p <= 0))
    diag = np.arange(n1)
    logs[:, diag, diag] = NEG
    logs[:, 0, :] = NEG  # ROOT has no head

    heads = logs.argmax(axis=2)
    heads[:, 0] = 0
    # pointer doubling: after it every word that reaches ROOT maps to 0, and
    # a word on (or leading into) a cycle does not
    anc = heads
    for _ in range(n1.bit_length()):
        anc = np.take_along_axis(anc, anc, axis=1)
    final = ((heads[:, 1:] == 0).sum(axis=1) == 1) & (anc == 0).all(axis=1)
    for r in np.flatnonzero(~final):
        heads[r] = _decode_one(logs[r], p[r])
    return heads[:, 1:]


def _decode_one(logs: np.ndarray, probs: np.ndarray) -> np.ndarray:
    """One sentence's masked log-scores (n+1, n+1) -> single-root heads
    (heads[0] = 0): Chu-Liu/Edmonds, then the root-repair ladder."""
    n1 = logs.shape[0]
    heads = _cle(logs)
    roots = np.where(heads[1:] == 0)[0] + 1
    if len(roots) == 1:
        return heads

    # single-root repair ladder (mirrors reference utils.py:520-563)
    if len(roots) == 0:
        roots = np.where(probs[1:, 0] >= 1.0 / n1)[0] + 1
    if len(roots) == 0:
        roots = np.array([int(np.argmax(probs[1:, 0])) + 1])

    best_score, best = -np.inf, None
    for r in roots:
        forced = logs.copy()
        root_score = logs[r, 0]
        forced[1:, 0] = NEG
        forced[r, :] = NEG
        forced[r, 0] = 0.0
        t = _cle(forced)
        arc_scores = forced[np.arange(1, n1), t[1:]]
        # reference semantics (utils.py:530 `tree_probs.all()`): a candidate
        # using ANY zero-probability arc is invalid (-inf) — the forced root
        # arc scores its TRUE log prob, not the 0.0 placeholder
        others = arc_scores[np.arange(n1 - 1) != (r - 1)]
        if root_score <= NEG / 2 or (others <= NEG / 2).any():
            score = -np.inf
        else:
            score = float(others.sum()) + root_score
        if best is None or score > best_score:
            best_score, best = score, t
    return best

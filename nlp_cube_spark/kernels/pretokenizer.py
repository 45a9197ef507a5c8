"""Rule pre-tokenizer + space-after annotation.

Semantics match the reference pre-tokenizer and offset bookkeeping
(reference: cube/networks/utils_tokenizer.py:32-55 `LanguasitoTokenizer`,
:322-334 `get_tokens`):

- space-delimited languages: maximal alphanumeric runs are one pre-token;
  every other non-space char is its own pre-token; spaces only separate.
- no-space languages (zh/ja style): every char is a pre-token.
- space flag per pre-token: 2 = a space follows in the raw text, 1 = not.

Implemented with one compiled regex instead of the reference's per-char
Python loop; output is provably identical on any input (alnum runs and
single non-alnum non-space chars partition the non-space text).
"""

from __future__ import annotations

import re

_TOK_RE = re.compile(r"[^\W_]+|[^\s]", re.UNICODE)
# NOTE: reference uses str.isalnum() per char. `[^\W_]` is the regex
# equivalent of \w minus underscore == unicode alnum; `[^\s]` catches each
# remaining symbol individually (regex alternation is leftmost-longest here
# because the alnum branch is tried first at each position).

NO_SPACE = 1
SPACE = 2


def normalize_ws(text: str) -> str:
    """Whitespace normalization applied before tokenization.

    Reference: cube/networks/tokenizer.py:225-229 — newlines to spaces, then
    collapse runs of spaces to one.
    """
    text = text.replace("\n", " ").replace("\r", " ")
    return re.sub(r" {2,}", " ", text)


def pretokenize(text: str, no_space_lang: bool = False) -> tuple[list[str], list[int]]:
    """Split normalized text into pre-tokens with space-after flags."""
    if no_space_lang:
        toks = [ch for ch in text if ch != " "]
        spa = []
        n = len(text)
        for i, ch in enumerate(text):
            if ch == " ":
                continue
            spa.append(SPACE if i + 1 < n and text[i + 1] == " " else NO_SPACE)
        # trailing position counts as no-space, matching reference get_tokens
        if spa and text.endswith(" "):
            spa[-1] = SPACE
        return toks, spa

    toks: list[str] = []
    spa: list[int] = []
    for m in _TOK_RE.finditer(text):
        toks.append(m.group(0))
        end = m.end()
        spa.append(SPACE if end < len(text) and text[end] == " " else NO_SPACE)
    return toks, spa


def detokenize(forms: list[str], space_after: list[bool]) -> str:
    """Inverse property used by tests: reference objects.py:109-115."""
    out = []
    for f, s in zip(forms, space_after):
        out.append(f)
        if s:
            out.append(" ")
    return "".join(out).strip()

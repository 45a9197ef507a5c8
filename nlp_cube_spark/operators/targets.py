"""Tokenizer training-target encoding as DataFrame operators (SURVEY §2a #9).

Two entry shapes, one pure kernel (kernels/targets.encode_targets):

- fused_tokenizer_targets(pages): pages -> per-PRE-TOKEN target rows in
  ONE Arrow stage (segmentation + MWT + alignment fused, parse skipped —
  no O(n^2) scoring), zero shuffle. Pre-tokens here are the actual
  pre-tokenizer output, which runs FINER than decoded tokens (e.g.
  '1,000' is three pre-tokens merged into one token by the boundary
  decoder), so inside-token class 1 appears exactly where the reference
  emits it.
- tokenizer_targets_from_gold(words): treebank gold (io/conllu
  WORDS_SCHEMA or annotate FLAT_WORDS_SCHEMA) -> targets — the
  reference's actual training shape (utils_tokenizer.py:298: pretoks
  from its own tokenizer, tokens from gold). One applyInPandas shuffle
  keyed by (url, sent_id) — uniform keys, the minimal co-location a
  per-sentence alignment needs.

100 TB shape: both stages are linear per sentence; the fused variant
adds no exchange, the gold variant shuffles once on (url, sent_id).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..kernels.targets import encode_targets, gold_tokens_from_words
from .annotate import _annotate_doc, _row_stage

TARGETS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("pretok_id", T.IntegerType()),
        T.StructField("pretok", T.StringType()),
        T.StructField("target", T.IntegerType()),
    ]
)


def _sentence_targets(
    gold: list[tuple[str, int]], spaces: list[bool], lang: str
) -> tuple[list[str], list[int]]:
    """Reconstruct sentence text from gold token surfaces + SpaceAfter,
    pre-tokenize it with the engine's pre-tokenizer, and align by running
    char length — shared by both operator shapes."""
    from ..kernels.pretokenizer import normalize_ws, pretokenize

    text = "".join(
        t + (" " if sp else "") for (t, _n), sp in zip(gold, spaces)
    ).strip()
    pretoks, _spa = pretokenize(normalize_ws(text), no_space_lang=(lang == "zh"))
    return pretoks, encode_targets(pretoks, gold)


def _token_spaces(mwt_ids, space_after) -> list[bool]:
    """Word-level SpaceAfter -> token-level (last word of each token)."""
    spaces: list[bool] = []
    prev_mwt = None
    for mid, spa in zip(mwt_ids, space_after):
        if mid and mid == prev_mwt:
            spaces[-1] = bool(spa)
        else:
            spaces.append(bool(spa))
        prev_mwt = mid
    return spaces


def fused_tokenizer_targets(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """pages -> (url, sent_id, pretok_id, pretok, target), one Arrow stage."""

    def emit(out, urls, langs, texts):
        for url, lang, sents in zip(urls, langs, _annotate_doc(texts, langs, parse=False)):
            for sid, (_f, space, mwt_ids, tok_forms, _tg, _hd, _lb) in enumerate(sents):
                gold = gold_tokens_from_words(tok_forms, mwt_ids)
                pretoks, tgts = _sentence_targets(gold, _token_spaces(mwt_ids, space), lang)
                for pid, (ptok, tgt) in enumerate(zip(pretoks, tgts), start=1):
                    out["url"].append(url)
                    out["sent_id"].append(sid)
                    out["pretok_id"].append(pid)
                    out["pretok"].append(ptok)
                    out["target"].append(tgt)

    return _row_stage(pages, ("url", "lang", text_col), TARGETS_SCHEMA, emit)


def tokenizer_targets_from_gold(words: DataFrame) -> DataFrame:
    """Gold words (CoNLL-U WORDS_SCHEMA shape) -> targets: treebank
    tokenizations finer or coarser than the pre-tokenizer produce honest
    1s (inside-token) rather than being assumed identical."""

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        url, sent_id = key
        pdf = pdf.sort_values("word_id")
        lang = pdf["lang"].iloc[0]
        gold = gold_tokens_from_words(list(pdf["tok_form"]), list(pdf["mwt_id"]))
        pretoks, tgts = _sentence_targets(
            gold, _token_spaces(pdf["mwt_id"], pdf["space_after"]), lang
        )
        return pd.DataFrame(
            {
                "url": url,
                "sent_id": int(sent_id),
                "pretok_id": range(1, len(pretoks) + 1),
                "pretok": pretoks,
                "target": tgts,
            }
        )

    return words.groupBy("url", "sent_id").applyInPandas(run, schema=TARGETS_SCHEMA)

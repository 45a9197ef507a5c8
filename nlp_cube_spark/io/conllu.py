"""CoNLL-U scan + serialization (reference ops #1 and the Document __repr__).

Parse semantics match reference cube/io_utils/objects.py:27-62,86-87:
- '#' comment lines skipped; blank line = sentence boundary
- 10 tab-separated columns
- MWT head rows ("n-m" index) recorded as surface tokens spanning words n..m
- empty nodes ("x.y" index, ellipsis) are skipped entirely

Serialization matches objects.py:67-68,140-144: MWT head row emitted before
its covered words; `SpaceAfter=No` in MISC when space_after is false.

MWT spacing lives on the TOKEN (the head row), as in valid CoNLL-U: parse
propagates the head row's MISC flag to its covered words (their own MISC is
ignored — covered rows carry '_'), and the serializer emits the flag on
the head row only (from the group's last word) with '_' on covered rows.
Round-trips of external CoNLL-U with SpaceAfter=No on an MWT line are
byte-faithful.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

WORDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("word_id", T.IntegerType()),
        T.StructField("mwt_id", T.IntegerType()),
        T.StructField("tok_form", T.StringType()),
        T.StructField("form", T.StringType()),
        T.StructField("lemma", T.StringType()),
        T.StructField("upos", T.StringType()),
        T.StructField("xpos", T.StringType()),
        T.StructField("feats", T.StringType()),
        T.StructField("head", T.IntegerType()),
        T.StructField("deprel", T.StringType()),
        T.StructField("space_after", T.BooleanType()),
    ]
)


def parse_conllu_text(text: str, url: str = "", lang: str = "") -> list[dict]:
    """One CoNLL-U document -> word row dicts."""
    rows: list[dict] = []
    sent_id = 0
    mwt_until = -1
    mwt_tok = None
    mwt_space = True
    mwt_idx = 0
    saw_word = False
    for line in text.split("\n"):
        line = line.rstrip("\r")
        if not line.strip():
            if saw_word:
                sent_id += 1
                saw_word = False
            mwt_until, mwt_tok = -1, None
            continue
        if line.startswith("#"):
            continue
        parts = line.split("\t")
        if len(parts) < 10:
            continue
        idx = parts[0]
        if "." in idx:  # empty node (ellipsis) — skipped on load
            continue
        if "-" in idx:  # MWT head row
            a, b = idx.split("-")
            mwt_until = int(b)
            mwt_tok = parts[1]
            mwt_space = "SpaceAfter=No" not in parts[9]
            mwt_idx += 1
            continue
        wid = int(idx)
        in_mwt = wid <= mwt_until
        rows.append(
            {
                "url": url,
                "lang": lang,
                "sent_id": sent_id,
                "word_id": wid,
                "mwt_id": mwt_idx if in_mwt else 0,
                "tok_form": mwt_tok if in_mwt else parts[1],
                "form": parts[1],
                "lemma": parts[2],
                "upos": parts[3],
                "xpos": parts[4],
                "feats": parts[5],
                "head": int(parts[6]) if parts[6].isdigit() else 0,
                "deprel": parts[7],
                # covered words inherit the token's (head row's) flag
                "space_after": mwt_space if in_mwt else "SpaceAfter=No" not in parts[9],
            }
        )
        saw_word = True
    return rows


def read_conllu(spark: SparkSession, path: str, lang: str = "") -> DataFrame:
    """Distributed CoNLL-U scan: one file per row (wholetext) -> words DF.

    At scale each treebank file is a unit of work; parsing is stateful per
    document, so it runs inside mapInPandas on the file's own partition."""
    files = spark.read.text(path, wholetext=True).withColumn(
        "url", F.input_file_name()
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for txt, url in zip(pdf["value"], pdf["url"]):
                out.extend(parse_conllu_text(txt, url=url, lang=lang))
            yield pd.DataFrame(out, columns=[f.name for f in WORDS_SCHEMA.fields])

    return files.mapInPandas(run, schema=WORDS_SCHEMA)


def serialize_words(words: DataFrame) -> DataFrame:
    """words DF -> one CoNLL-U text per url (url, conllu STRING).

    Pure Catalyst: sort within sentence arrays, build lines with concat_ws,
    insert MWT head rows via per-sentence array logic. Grouping shuffles on
    url — unavoidable for a per-document text artifact."""
    # MWT head rows: emitted before the first word of each mwt group,
    # detected with a pure array pass after grouping.
    rows = words.select(
        "url",
        "sent_id",
        F.struct(
            "word_id", "mwt_id", "tok_form", "form", "lemma", "upos", "xpos",
            "feats", "head", "deprel", "space_after",
        ).alias("w"),
    )
    sent = rows.groupBy("url", "sent_id").agg(F.array_sort(F.collect_list("w")).alias("ws"))
    # build per-sentence text in a SQL HOF pass (aggregate carries running
    # state: emitted mwt ids)
    sent_txt = sent.select(
        "url",
        "sent_id",
        F.expr(
            """
            concat_ws('\n',
              flatten(transform(ws, w ->
                CASE WHEN w.mwt_id > 0 AND NOT exists(
                         slice(ws, 1, int(array_position(ws, w)) - 1),
                         p -> p.mwt_id = w.mwt_id)
                THEN array(
                  concat_ws('\t',
                    concat(cast(w.word_id as string), '-',
                           cast(w.word_id + size(filter(ws, q -> q.mwt_id = w.mwt_id)) - 1 as string)),
                    w.tok_form, '_', '_', '_', '_', '_', '_', '_',
                    -- token flag = the group's LAST word (covered rows
                    -- carry '_')
                    CASE WHEN element_at(filter(ws, q -> q.mwt_id = w.mwt_id), -1).space_after
                         THEN '_' ELSE 'SpaceAfter=No' END),
                  concat_ws('\t', cast(w.word_id as string), w.form, w.lemma, w.upos,
                            w.xpos, w.feats, cast(w.head as string), w.deprel, '_', '_'))
                ELSE array(
                  concat_ws('\t', cast(w.word_id as string), w.form, w.lemma, w.upos,
                            w.xpos, w.feats, cast(w.head as string), w.deprel, '_',
                            CASE WHEN w.mwt_id > 0 OR w.space_after THEN '_' ELSE 'SpaceAfter=No' END))
                END)))
            """
        ).alias("sent_text"),
    )
    return (
        sent_txt.groupBy("url")
        .agg(F.array_sort(F.collect_list(F.struct("sent_id", "sent_text"))).alias("ss"))
        .select(
            "url",
            F.concat(F.concat_ws("\n\n", F.expr("transform(ss, s -> s.sent_text)")), F.lit("\n")).alias("conllu"),
        )
    )

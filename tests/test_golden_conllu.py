"""Byte-parity regression: engine CoNLL-U serialization vs the frozen
oracle-generated golden file (SURVEY.md §5 layer 2 golden methodology).

tests/data/golden_seed4242.conllu was produced ONCE by the reference-shaped
oracle with an independent serializer; the engine's distributed path
(fused annotate -> serialize_words) must reproduce it byte-for-byte.
"""

import os

from nlp_cube_spark.datagen import pages_df
from nlp_cube_spark.io import conllu as CU
from nlp_cube_spark.operators import annotate as A

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "golden_seed4242.conllu")


def test_engine_serialization_matches_golden(spark):
    pages = pages_df(spark, 12, seed=4242)
    words = A.annotate(pages)
    ser = {r.url: r.conllu for r in CU.serialize_words(words).collect()}
    rebuilt = "".join(f"# newdoc id = {url}\n{ser[url]}\n" for url in sorted(ser))
    golden = open(GOLDEN).read()
    assert rebuilt == golden


def test_golden_roundtrips_through_scanner(spark):
    golden = open(GOLDEN).read()
    rows = CU.parse_conllu_text(golden)
    assert len(rows) > 100
    assert sum(1 for r in rows if not r["space_after"]) > 20
    assert sum(1 for r in rows if r["mwt_id"] > 0) >= 2

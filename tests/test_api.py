"""Reference-API drop-in shim tests (cube/api.py usage from README)."""

import os
import subprocess
import sys
from collections import Counter

from nlp_cube_spark.api import Cube
from nlp_cube_spark.datagen import pages_df


def test_readme_usage_pattern():
    cube = Cube()
    cube.load("en", device="cpu")
    document = cube("This is a test.")
    # reference README.md:24-31 gold parse
    s = document.sentences[0]
    assert [w.word for w in s.words] == ["This", "is", "a", "test", "."]
    assert s[0].upos == "PRON" and s[0].label == "nsubj" and s[0].head == 4
    assert s[1].lemma == "be" and s[1].label == "cop"
    assert s[2].upos == "DET"
    assert s[3].label == "root" and s[3].head == 0
    assert s[4].upos == "PUNCT"
    assert not s[3].space_after  # "test." attached
    assert s.text == "This is a test."


def test_conllu_repr_matches_reference_shape():
    doc = Cube()("Alice admires Bob.")
    txt = repr(doc)
    lines = [l for l in txt.strip().split("\n")]
    assert len(lines) == 4
    cols = lines[0].split("\t")
    assert len(cols) == 10 and cols[0] == "1" and cols[1] == "Alice"


def test_mwt_in_api():
    cube = Cube()
    cube.load("es")
    doc = cube("Emma viaja al planeta.")
    s = doc.sentences[0]
    forms = [w.word for w in s.words]
    assert forms == ["Emma", "viaja", "a", "el", "planeta", "."]
    assert "3-4\tal" in repr(s)
    assert s.text == "Emma viaja al planeta."
    # a capitalised contraction keeps its own surface (Token.text)
    s = cube("Al planeta viaja Emma.").sentences[0]
    assert [w.word for w in s.words][:2] == ["a", "el"]
    assert "1-2\tAl" in repr(s)
    assert s.text == "Al planeta viaja Emma."


def test_triples_api():
    t = Cube().triples("Alice admires Bob. Alice is a scientist.")
    trip = {(x["subj"], x["pred"], x["obj"], x["pattern"]) for x in t}
    assert ("Alice", "admire", "Bob", "svo") in trip
    assert ("Alice", "be", "scientist", "copula") in trip


def test_batch_mode_matches_single(spark):
    pages = pages_df(spark, 5, seed=55)
    cube = Cube()
    df = cube.process_triples(spark, pages)
    batch = Counter((r.url, r.sent_id, r.subj, r.pred, r.obj, r.pattern) for r in df.collect())
    single = Counter()
    for row in pages.collect():
        cube.load(row.lang)
        for t in cube.triples(row.text):
            single[(row.url, t["sent_id"], t["subj"], t["pred"], t["obj"], t["pattern"])] += 1
    assert batch and batch == single


def test_api_import_is_spark_and_oracle_free():
    """`import nlp_cube_spark.api` pulls in neither pyspark (imported
    lazily, on the first call) nor the oracle, which stays the
    independent reference of tests and benchmarks only."""
    code = ("import sys, nlp_cube_spark.api; "
            "print(sorted(m for m in ('pyspark', 'nlp_cube_spark.oracle') if m in sys.modules))")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, check=True, capture_output=True, text=True)
    assert out.stdout.strip() == "[]"

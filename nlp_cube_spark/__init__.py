"""nlp_cube_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the capabilities of adobe/NLP-Cube (reference at
/root/reference, see SURVEY.md) as a Spark-first pipeline:

    pages (url, warc_ts, html, text, lang)
      -> extract_text        (pandas UDF, byte-identical per url)
      -> segment             (fused mapInPandas: normalize + pretokenize +
                              boundary decode, ref tokenizer.py:224-304)
      -> tag + parse         (fused mapInPandas: UPOS/XPOS/FEATS + biaffine-style
                              arc scoring + Chu-Liu/Edmonds MST,
                              ref parser.py:404-448, utils.py:400-577)
      -> lemmatize           (dedup (form,upos,lang) -> kernel -> broadcast join,
                              ref lemmatizer.py:185-231 + utils.py:109-115)
      -> triples             (open-IE arc patterns, in the same fused Arrow
                              stage: annotate.sentence_triples)
      -> link                (alias broadcast join + argmax per mention)
      -> canonicalize        (connected components: driver union-find under
                              LOCAL_EDGE_BOUND, else a checkpointed
                              DataFrame min-label loop)
      -> graph tables        (partitioned parquet/Iceberg-style layout)

Everything relational is stock Spark SQL; custom work is confined to the
Arrow/pandas-UDF kernels in `kernels/` and the iterative connected-components
loop. No RDDs, no per-row Python UDFs.
"""

from . import _zipcache

__version__ = "0.1.0"

# unpickling any product closure in a Python worker imports this package,
# so the worker's later tasks skip pyspark's per-task zip re-reads
_zipcache.install()


def __getattr__(name):
    # convenience: `from nlp_cube_spark import Cube` without importing the
    # api module (and transitively pyspark) at package import time
    if name == "Cube":
        from .api import Cube

        return Cube
    raise AttributeError(name)

"""Output checks. Each returns a list of mismatch descriptions (empty when
the output is correct), so a failed check is counted, not fatal.

References are independent of the Spark path: triples come from the
eager single-process oracle (`nlp_cube_spark.oracle`), entities from a
union-find over the stored triples, CoNLL-U from the golden file."""

from __future__ import annotations

import os
import time
from collections import Counter

from nlp_cube_spark.oracle import annotate_document, extract_triples

GOLDEN = os.path.join("tests", "data", "golden_seed4242.conllu")
TRIPLE_COLS = ("url", "sent_id", "subj", "pred", "obj", "pattern")


class Oracle:
    """The eager single-process oracle, keeping its own speed and the
    sentences and words it segmented across calls."""

    def __init__(self):
        self.docs = self.sentences = self.words = 0
        self.seconds = 0.0

    def triples(self, rows: list[dict]) -> Counter:
        """(url, sent_id, subj, pred, obj, pattern) multiset over `rows`."""
        t0 = time.perf_counter()
        trip = []
        for r in rows:
            for sid, sent in enumerate(annotate_document(r["text"], r["lang"])):
                self.sentences += 1
                self.words += len(sent)
                trip.extend((r["url"], sid, s, p, o, pat) for s, p, o, pat in extract_triples(sent))
        self.docs += len(rows)
        self.seconds += time.perf_counter() - t0
        return Counter(trip)

    def layers(self, passes: float) -> dict:
        return {"oracle.docs_per_s": self.docs / self.seconds,
                "kernels.sentences": self.sentences / passes,
                "kernels.words": self.words / passes}


def diff_counters(got: Counter, want: Counter, what: str) -> list[str]:
    if got == want:
        return []
    missing, extra = want - got, got - want
    return [f"{what}: {sum(missing.values())} missing (e.g. {next(iter(missing), None)}), "
            f"{sum(extra.values())} unexpected (e.g. {next(iter(extra), None)})"]


def reference_entities(triples: list[dict]) -> tuple[dict, int]:
    """Union-find over the equivalence edges canonicalize defines: appos
    subj ~ obj, and every linked mention ~ its entity id. Returns
    ({mention: (canonical_id, canonical)}, number of distinct edges), where
    canonical_id is the minimum node of the component and canonical its
    minimum mention."""
    edges = {(t["subj"].lower(), t["obj"].lower()) for t in triples
             if t["pattern"] == "appos" and t["subj"] is not None and t["obj"] is not None}
    for t in triples:
        for m, eid in ((t["subj"], t["subj_id"]), (t["obj"], t["obj_id"])):
            if m is not None and eid is not None:
                edges.add((m.lower(), f"eid:{eid}"))
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # roots stay component minima
    canon: dict[str, str] = {}
    for x in parent:
        if not x.startswith("eid:"):
            r = find(x)
            canon[r] = min(canon.get(r, x), x)
    return {x: (find(x), canon[find(x)]) for x in parent if not x.startswith("eid:")}, len(edges)


def check_graph(spark, out_dir: str, want_triples: Counter) -> tuple[list[str], dict]:
    """Stored triples equal the oracle's; the entities table equals the
    union-find reference. Also returns the counts the traced run reports."""
    rows = [r.asDict() for r in spark.read.parquet(f"{out_dir}/triples").select(
        *TRIPLE_COLS, "subj_id", "obj_id").collect()]
    errors = diff_counters(Counter(tuple(r[c] for c in TRIPLE_COLS) for r in rows), want_triples, "triples")
    want_ents, n_edges = reference_entities(rows)
    got_ents = {r.mention: (r.canonical_id, r.canonical)
                for r in spark.read.parquet(f"{out_dir}/entities").collect()}
    if got_ents != want_ents:
        bad = [m for m in set(got_ents) | set(want_ents) if got_ents.get(m) != want_ents.get(m)]
        errors.append(f"entities: {len(bad)} mentions differ from union-find (e.g. {bad[0]!r}: "
                      f"{got_ents.get(bad[0])} vs {want_ents.get(bad[0])})")
    mentions = {m.lower() for r in rows for m in (r["subj"], r["obj"]) if m is not None}
    linked = {m.lower() for r in rows for m, e in ((r["subj"], r["subj_id"]), (r["obj"], r["obj_id"]))
              if m is not None and e is not None}
    sizes = Counter(cid for cid, _ in got_ents.values())
    counts = {
        "linking.mentions": len(mentions),
        "linking.linked_ratio": len(linked) / len(mentions) if mentions else 0.0,
        "canonicalize.edges": n_edges,
        "canonicalize.components": len(sizes),
        "canonicalize.largest_component": max(sizes.values(), default=0),
    }
    return errors, counts


def check_golden(cube) -> list[str]:
    """str(doc) of the 12 gen_pages(seed=4242) documents, byte-equal to the
    frozen golden CoNLL-U (read only)."""
    from nlp_cube_spark.datagen import gen_pages

    rows = sorted(gen_pages(12, seed=4242), key=lambda r: r["url"])
    got = "".join(f"# newdoc id = {r['url']}\n{cube(r['text'], flavour=r['lang'])}\n" for r in rows)
    with open(GOLDEN) as f:
        want = f.read()
    return [] if got == want else ["golden CoNLL-U: str(doc) differs from " + GOLDEN]

"""Deterministic KG negative sampling (operators/kgtrain.corrupt_triples,
Bordes 2013 corruption protocol, filtered setting)."""

import pytest

from nlp_cube_spark.operators.kgtrain import corrupt_triples

TRUTH = [("a", "likes", "b"), ("b", "likes", "c"), ("c", "sees", "a"),
         ("a", "likes", "c")]


def _triples(spark):
    return spark.createDataFrame(TRUTH, "subj string, pred string, obj string")


def test_corruption_protocol(spark):
    out = corrupt_triples(_triples(spark), k=3).collect()
    assert out
    truth = set(TRUTH)
    for r in out:
        # one side corrupted, the other kept
        if r.corrupted == "subj":
            assert r.neg_obj == r.obj and r.neg_subj != r.subj
        else:
            assert r.corrupted == "obj"
            assert r.neg_subj == r.subj and r.neg_obj != r.obj
        # filtered setting: never a true triple
        assert (r.neg_subj, r.pred, r.neg_obj) not in truth
        assert 1 <= r.sample_id <= 3
    # <= k negatives per triple (drops are the protocol, not a bug)
    from collections import Counter

    per = Counter((r.subj, r.pred, r.obj) for r in out)
    assert all(v <= 3 for v in per.values())


def test_determinism_across_partitionings(spark):
    t = _triples(spark)
    a = sorted(map(tuple, corrupt_triples(t, k=3).collect()))
    b = sorted(map(tuple, corrupt_triples(t.repartition(7), k=3).collect()))
    assert a == b


def test_degenerate_inputs(spark):
    empty = spark.createDataFrame([], "subj string, pred string, obj string")
    assert corrupt_triples(empty, k=2).count() == 0
    nulls = spark.createDataFrame(
        [(None, "p", "x"), ("x", "p", None)], "subj string, pred string, obj string"
    )
    assert corrupt_triples(nulls, k=2).count() == 0
    # single entity: every corruption is a no-op replacement -> dropped
    one = spark.createDataFrame([("x", "p", "x")], "subj string, pred string, obj string")
    assert corrupt_triples(one, k=4).count() == 0


def test_transe_training_properties(spark):
    import math

    from nlp_cube_spark.operators.kgtrain import transe_train

    t = _triples(spark)
    out = transe_train(t, dim=4, iters=2)
    rows = {(r.kind, r.name, r.pos): r.val for r in out.collect()}
    # shape: (3 entities + 2 relations) x 4 dims
    assert len(rows) == 5 * 4
    assert {k for k, _, _ in rows} == {"entity", "relation"}
    # init values are the documented hash formula (iters=0 == emb0)
    import hashlib

    init = {(r.kind, r.name, r.pos): r.val
            for r in transe_train(t, dim=4, iters=0).collect()}
    h = int(hashlib.md5("entity\x01a\x010".encode()).hexdigest()[:13], 16)
    assert init[("entity", "a", 0)] == (h % 2000001 - 1000000) / 1e6
    # training moved parameters, deterministically across partitionings
    assert rows != init
    again = {(r.kind, r.name, r.pos): r.val
             for r in transe_train(t.repartition(5), dim=4, iters=2).collect()}
    assert again == rows

    # full-batch margin loss does not increase on the planted graph
    def loss(emb):
        from nlp_cube_spark.operators.kgtrain import corrupt_triples

        pairs = corrupt_triples(t, k=1).collect()
        tot = 0.0
        for p in pairs:
            dp = sum((emb[("entity", p.subj, j)] + emb[("relation", p.pred, j)]
                      - emb[("entity", p.obj, j)]) ** 2 for j in range(4))
            dn = sum((emb[("entity", p.neg_subj, j)] + emb[("relation", p.pred, j)]
                      - emb[("entity", p.neg_obj, j)]) ** 2 for j in range(4))
            tot += max(0.0, 1.0 + dp - dn)
        return tot

    assert loss(rows) <= loss(init) + 1e-9, (loss(rows), loss(init))


def test_completion_topk_protocol(spark):
    from nlp_cube_spark.operators.kgtrain import (
        transe_completion_topk,
        transe_train,
    )

    t = _triples(spark)
    emb = transe_train(t, dim=4, iters=2).localCheckpoint()
    out = transe_completion_topk(emb, t, k=2).collect()
    truth = set(TRUTH)
    by_q = {}
    for r in out:
        # filtered protocol: no known true triple is ever proposed
        assert (r.subj, r.pred, r.candidate) not in truth
        assert r.dist >= 0.0
        by_q.setdefault((r.subj, r.pred), []).append((r.rank, r.dist))
    # ranks are dense from 1 and distances non-decreasing within a query
    for ranks in by_q.values():
        ranks.sort()
        assert [x[0] for x in ranks] == list(range(1, len(ranks) + 1))
        assert all(a[1] <= b[1] for a, b in zip(ranks, ranks[1:]))
    # ('a','likes') has truths b and c: only candidate 'a' remains
    assert len(by_q[("a", "likes")]) == 1
    # determinism across partitionings
    again = sorted(map(tuple, transe_completion_topk(
        emb, t.repartition(5), k=2).collect()))
    assert again == sorted(map(tuple, out))


def test_transe_filtered_eval_matches_bruteforce(spark):
    from nlp_cube_spark.operators.kgtrain import transe_filtered_eval, transe_train

    trips = spark.createDataFrame(
        [("a", "r", "b"), ("a", "r", "c"), ("b", "r", "c"),
         ("c", "s", "a"), ("b", "s", "a")],
        "subj string, pred string, obj string",
    )
    emb = transe_train(trips, dim=4, iters=2)
    got = transe_filtered_eval(emb, trips).collect()[0]
    assert got.n_queries == 5

    # brute-force replica on the collected integer vectors
    import math
    vecs = {}
    for r in emb.collect():
        vecs.setdefault((r.kind, r.name), {})[r.pos] = math.floor(r.val * 1e6 + 0.5)
    ents = sorted({n for (k, n) in vecs if k == "entity"})
    true = {(r.subj, r.pred, r.obj) for r in trips.collect()}

    def dist(s, p, c):
        sv, pv, cv = vecs[("entity", s)], vecs[("relation", p)], vecs[("entity", c)]
        return sum((sv[i] + pv[i] - cv[i]) ** 2 for i in sv)

    ranks = []
    for (s, p, o) in true:
        do = dist(s, p, o)
        beats = sum(
            1 for e in ents
            if (s, p, e) not in true
            and (dist(s, p, e) < do or (dist(s, p, e) == do and e < o))
        )
        ranks.append(1 + beats)
    n = len(ranks)
    import math as m
    r6 = lambda x: m.floor(x * 1e6 + 0.5) / 1e6
    assert got.mrr == r6(sum(1000000000 // r for r in ranks) / n / 1e9)
    assert got.mean_rank == r6(sum(ranks) / n)
    assert got.hits_at_1 == r6(sum(r <= 1 for r in ranks) / n)
    assert got.hits_at_10 == r6(sum(r <= 10 for r in ranks) / n)
    assert 0 < got.mrr <= 1 and got.hits_at_10 <= 1


def test_corrupt_triples_rejects_non_positive_k(spark):
    for k in (0, -2):
        with pytest.raises(ValueError):
            corrupt_triples(_triples(spark), k=k)


def test_transe_train_rejects_non_positive_dim(spark):
    from nlp_cube_spark.operators.kgtrain import transe_train

    for dim in (0, -1):
        with pytest.raises(ValueError):
            transe_train(_triples(spark), dim=dim)

"""Each output check passes on a consistent output and fails on a
corrupted one. Plain Python, no Spark:

    python3 -m pytest kgbench/test_checks.py -q
"""

from __future__ import annotations

import itertools
import random

import checks
import gen
from zh_ner_tf_spark.config import (MINHASH_BANDS, MINHASH_NUM_HASHES,
                                    MINHASH_PRIME, SEED)
from zh_ner_tf_spark.functions.hashing import hash_family

THRESHOLD = 0.5
LSH = (hash_family(MINHASH_NUM_HASHES, SEED), MINHASH_BANDS, MINHASH_PRIME)


def _planted_batch(seed: int = 7):
    rng = random.Random(seed)
    pool = gen.SurfacePool(rng, 60)
    sampler = gen.SurfaceSampler(pool)
    rows, planted = gen.gen_pages(rng, 40, lambda t: sampler.draw(rng, t))
    return pool, planted


def _graph_of(planted, pool):
    """The graph a correct build must produce from the planted inputs:
    one node per surface (clusters = exact-Jaccard components, which a
    correct blocking may only refine), one edge per planted triple."""
    freq = {}
    for _, _, subj, _, obj in planted["triples"]:
        for s in (subj, obj):
            freq[s] = freq.get(s, 0) + 1
    pairs = checks.exact_similar_pairs(list(freq), THRESHOLD)
    uf = checks.UnionFind()
    for a, b, _ in pairs:
        uf.union(a, b)
    canon = {s: abs(hash(uf.find(s))) for s in freq}
    nodes = [(canon[s], s, pool.etype_of[s], n) for s, n in freq.items()]
    edges = {}
    for _, _, subj, pred, obj in planted["triples"]:
        k = (canon[subj], canon[obj], pred)
        edges[k] = edges.get(k, 0) + 1
    return nodes, [(*k, w) for k, w in edges.items()]


def test_batch_checks_pass_on_consistent_output():
    pool, planted = _planted_batch()
    nodes, edges = _graph_of(planted, pool)
    # only mentions that take part in triples here: plant that count
    planted = {**planted, "mentions": sum(n[3] for n in nodes)}
    assert checks.check_batch(planted["triples"], nodes, edges, planted) == []


def test_batch_check_fails_on_a_dropped_triple():
    pool, planted = _planted_batch()
    nodes, edges = _graph_of(planted, pool)
    planted = {**planted, "mentions": sum(n[3] for n in nodes)}
    fails = checks.check_batch(planted["triples"][1:], nodes, edges, planted)
    assert any(f.startswith("triples:") for f in fails)


def test_batch_check_fails_on_a_dropped_edge_occurrence():
    pool, planted = _planted_batch()
    nodes, edges = _graph_of(planted, pool)
    planted = {**planted, "mentions": sum(n[3] for n in nodes)}
    src, dst, pred, w = edges[0]
    fails = checks.check_batch(planted["triples"], nodes,
                               [(src, dst, pred, w - 1), *edges[1:]], planted)
    assert any(f.startswith("edge weight") for f in fails)


def _cluster_fixture():
    """Two families of near-duplicate spellings of different types (no
    shared bigram between them), each its own exact component."""
    per, org = gen.ENTITY_CHARS["PER"], gen.ENTITY_CHARS["ORG"]
    a = "".join(per[:4])
    b = "".join(org[:4])
    fam_a = [a, a + per[5], a[:-1] + per[6]]   # J = 3/4, 1/2 with a
    fam_b = [b, b + org[5]]
    nodes = [(1, s, "PER", 3) for s in fam_a] + [(2, s, "ORG", 2) for s in fam_b]
    return nodes


def test_cluster_check_passes_on_exact_components():
    fails, stats = checks.check_clusters(_cluster_fixture(), THRESHOLD, *LSH)
    assert fails == [] and stats["exact_pairs"] >= 3


def test_cluster_check_fails_when_two_clusters_are_merged():
    nodes = [(1, s, e, f) for _, s, e, f in _cluster_fixture()]
    fails, _ = checks.check_clusters(nodes, THRESHOLD, *LSH)
    assert any(f.startswith("clusters:") for f in fails)


def test_cluster_check_fails_when_every_cluster_is_split():
    nodes = [(i, s, e, f) for i, (_, s, e, f) in enumerate(_cluster_fixture())]
    fails, _ = checks.check_clusters(nodes, THRESHOLD, *LSH)
    assert any(f.startswith("recall:") for f in fails)


def _pool_pairs(seed: int = 3):
    """(surfaces, exact similar pairs) of a seeded pool."""
    pool = gen.SurfacePool(random.Random(seed), 300)
    surfaces = list(pool.etype_of)
    return surfaces, checks.exact_similar_pairs(surfaces, THRESHOLD)


def _clusters_of(surfaces, pairs):
    """One node per surface, clusters = exact-Jaccard components."""
    uf = checks.UnionFind()
    for a, b, _ in pairs:
        uf.union(a, b)
    return [(abs(hash(uf.find(s))), s, "PER", 1) for s in surfaces]


def _split_pair(nodes, a, b):
    """Move ``b`` out of ``a``'s cluster into a cluster of its own."""
    return [(-1 if s == b else c, s, e, f) for c, s, e, f in nodes]


def test_cluster_check_fails_when_a_banded_pair_is_split():
    surfaces, pairs = _pool_pairs()
    fam, bands, prime = LSH
    a, b = next((a, b) for a, b, _ in pairs
                if checks.band_keys(a, fam, bands, prime)
                & checks.band_keys(b, fam, bands, prime)
                and sum(1 for x, y, _ in pairs if b in (x, y)) == 1)
    nodes = _split_pair(_clusters_of(surfaces, pairs), a, b)
    fails, _ = checks.check_clusters(nodes, THRESHOLD, *LSH)
    assert any(f.startswith("recall:") and "MinHash band" in f for f in fails)


def test_cluster_check_passes_when_an_unbanded_pair_is_split():
    # MinHash-LSH may miss a pair that shares no band: a correct output
    # with such a pair in two clusters passes
    fam, bands, prime = LSH
    for seed in itertools.count(3):
        surfaces, pairs = _pool_pairs(seed)
        missed = [(a, b) for a, b, _ in pairs
                  if not checks.band_keys(a, fam, bands, prime)
                  & checks.band_keys(b, fam, bands, prime)
                  and sum(1 for x, y, _ in pairs if b in (x, y)) == 1]
        if missed:
            break
    a, b = missed[0]
    nodes = _split_pair(_clusters_of(surfaces, pairs), a, b)
    fails, stats = checks.check_clusters(nodes, THRESHOLD, *LSH)
    assert fails == [] and stats["merged_pairs"] == len(pairs) - 1


def test_s_curve_recall_fails_when_most_pairs_are_split():
    surfaces, pairs = _pool_pairs()
    nodes = [(i, s, "PER", 1) for i, s in enumerate(surfaces)]
    fails, stats = checks.check_clusters(nodes, THRESHOLD, *LSH)
    assert any(f.startswith("recall:") and "S-curve" in f for f in fails)
    assert stats["recall_tail_p"] < checks.RECALL_ALPHA


def test_lower_tail_matches_enumeration():
    p = [0.9, 0.75, 0.99, 0.6]
    for k in range(len(p) + 1):
        want = sum(
            _prob(p, hits) for hits in itertools.product((0, 1), repeat=len(p))
            if sum(hits) <= k)
        assert abs(checks.lower_tail(p, k) - want) < 1e-12


def _prob(p, hits):
    out = 1.0
    for pi, h in zip(p, hits):
        out *= pi if h else 1.0 - pi
    return out


def test_exact_pairs_match_brute_force():
    rng = random.Random(3)
    pool = gen.SurfacePool(rng, 300, shared_suffix=40)
    surfaces = list(pool.etype_of)

    def jac(x, y):
        a, b = gen.bigrams(x), gen.bigrams(y)
        return len(a & b) / len(a | b)

    brute = {frozenset((x, y)) for i, x in enumerate(surfaces)
             for y in surfaces[i + 1:] if jac(x, y) >= THRESHOLD}
    fast = {frozenset((x, y)) for x, y, _ in
            checks.exact_similar_pairs(surfaces, THRESHOLD)}
    assert fast == brute and brute


def _increment_fixture():
    nodes = [(1, "甲乙丙", "PER", 5), (1, "甲乙丙丁", "PER", 2), (7, "戊己庚", "ORG", 4)]
    edges = [(1, 7, "works_for", 3), (1, 7, "founded", 1)]
    links = {"甲乙丙": (1, 1_000_000), "戊己庚": (7, 1_000_000)}
    return [200, 100, 100], [200, 100, 100], nodes, edges, links


def test_increment_checks_pass_on_consistent_output():
    processed, sizes, nodes, edges, links = _increment_fixture()
    assert checks.check_increments(processed, sizes, nodes, edges, list(nodes),
                                   list(edges), 4, links) == []


def test_increment_check_fails_when_one_increment_is_doubled():
    processed, sizes, nodes, edges, links = _increment_fixture()
    # the second increment consumed twice: its pages counted again and
    # its triple occurrences (one works_for edge) added a second time
    doubled_processed = [200, 200, 100]
    doubled_edges = [(1, 7, "works_for", 4), (1, 7, "founded", 1)]
    fails = checks.check_increments(doubled_processed, sizes, nodes,
                                    doubled_edges, nodes, edges, 4, links)
    assert any(f.startswith("processed_pages") for f in fails)
    assert any(f.startswith("edges:") for f in fails)
    assert any(f.startswith("edge weight") for f in fails)


def test_increment_check_fails_on_a_wrong_link():
    processed, sizes, nodes, edges, links = _increment_fixture()
    links = {**links, "戊己庚": (1, 1_000_000)}
    fails = checks.check_increments(processed, sizes, nodes, edges, nodes,
                                    edges, 4, links)
    assert any(f.startswith("links:") for f in fails)


def test_generator_is_a_function_of_the_seed():
    a = _planted_batch(11)[1]
    b = _planted_batch(11)[1]
    c = _planted_batch(12)[1]
    assert a == b and a != c

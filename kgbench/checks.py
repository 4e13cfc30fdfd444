"""Independent output checks. Plain Python over collected rows: none of
them compares against a stored copy of an earlier output. Each check
returns a list of failure messages (empty = passed)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from gen import bigrams


def check_batch(triples: list[tuple], nodes: list[tuple], edges: list[tuple],
                planted: dict) -> list[str]:
    """batch_build. triples: (url, sent_id, subj, pred, obj);
    nodes: (canon_id, surface, etype, freq); edges: (src, dst, pred, weight).
    The triple set equals the planted golden triples; node frequencies
    sum to the planted mention count; edge weights sum to the planted
    triple count."""
    fails = []
    got, want = set(triples), set(planted["triples"])
    if len(triples) != len(got):
        fails.append(f"triples: {len(triples) - len(got)} duplicate rows")
    if got != want:
        fails.append(f"triples: {len(want - got)} planted missing, "
                     f"{len(got - want)} unplanted present")
    fails += _sum_check("node freq", sum(n[3] for n in nodes), planted["mentions"])
    fails += _sum_check("edge weight", sum(e[3] for e in edges), len(planted["triples"]))
    return fails


def _sum_check(what: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{what}: sum {got} != planted {want}"]


def exact_similar_pairs(surfaces: list[str], threshold: float) -> list[tuple[str, str, float]]:
    """Every pair of surfaces whose exact bigram Jaccard is >= threshold,
    by an inverted index with prefix filtering: order grams rarest first;
    two sets reaching the threshold must share a gram within their first
    |A| - ceil(threshold * |A|) + 1 grams."""
    grams = {s: bigrams(s) for s in surfaces}
    df = Counter(g for gs in grams.values() for g in gs)
    index: dict[str, list[str]] = defaultdict(list)
    out = []
    for s in sorted(surfaces, key=lambda x: (len(grams[x]), x)):
        a = grams[s]
        ordered = sorted(a, key=lambda g: (df[g], g))
        prefix = ordered[: len(a) - math.ceil(threshold * len(a)) + 1]
        seen: set[str] = set()
        for g in prefix:
            for other in index[g]:
                if other in seen:
                    continue
                seen.add(other)
                b = grams[other]
                inter = len(a & b)
                union = len(a) + len(b) - inter
                if inter >= threshold * union:
                    out.append((other, s, inter / union))
        for g in prefix:
            index[g].append(s)
    return out


class UnionFind:
    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        root = x
        while self.parent.get(root, root) != root:
            root = self.parent[root]
        while x != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def s_curve(j: float, rows: int, bands: int) -> float:
    """Probability that two sets of Jaccard j share at least one band."""
    return 1.0 - (1.0 - j ** rows) ** bands


def lower_tail(p: list[float], k: int) -> float:
    """P(X <= k) for X a sum of independent Bernoulli(p_i), exactly:
    the distribution of the misses n - X, kept up to n - k - 1."""
    need = len(p) - k
    if need <= 0:
        return 1.0
    dist = [1.0] + [0.0] * (need - 1)
    for pi in p:
        for y in range(need - 1, 0, -1):
            dist[y] = dist[y] * pi + dist[y - 1] * (1.0 - pi)
        dist[0] *= pi
    return max(0.0, 1.0 - sum(dist))


def band_keys(s: str, family: list[tuple[int, int]], bands: int,
              prime: int) -> set[tuple]:
    """The MinHash-LSH band keys of a surface under the documented
    scheme: shingle hash fold (h*31 + code point) mod P over each char
    bigram, signature j = min over shingles of (a_j*h + b_j) mod P,
    band b = signature rows [b*r, (b+1)*r)."""
    hashes = []
    for g in bigrams(s):
        h = 0
        for c in g:
            h = (h * 31 + ord(c)) % prime
        hashes.append(h)
    sig = [min((a * h + b) % prime for h in hashes) for a, b in family]
    r = len(family) // bands
    return {(i, tuple(sig[i * r:(i + 1) * r])) for i in range(bands)}


# false-failure rate of the S-curve recall check on a correct output
RECALL_ALPHA = 1e-6


def check_clusters(nodes: list[tuple], threshold: float,
                   family: list[tuple[int, int]], bands: int,
                   prime: int) -> tuple[list[str], dict]:
    """nodes: (canon_id, surface, etype, freq), one per surface. Every
    canonical cluster lies inside one component of the exact
    bigram-Jaccard >= threshold graph over the node surfaces. Recall,
    twice: every exact similar pair whose MinHash signatures (the
    program's hash family) agree on a band ends in one cluster; and the
    number of exact similar pairs in one cluster is not implausibly low
    for the band/row S-curve (its exact lower tail under independent
    pairs stays above RECALL_ALPHA)."""
    fails = []
    canon_of = {n[1]: n[0] for n in nodes}
    pairs = exact_similar_pairs(list(canon_of), threshold)
    uf = UnionFind()
    for a, b, _ in pairs:
        uf.union(a, b)
    comps_of_cluster: dict = defaultdict(set)
    for canon, surface, *_ in nodes:
        comps_of_cluster[canon].add(uf.find(surface))
    split = sum(1 for c in comps_of_cluster.values() if len(c) > 1)
    if split:
        fails.append(f"clusters: {split} canonical clusters span several "
                     "exact-Jaccard components")
    keys: dict[str, set] = {}

    def keys_of(s):
        if s not in keys:
            keys[s] = band_keys(s, family, bands, prime)
        return keys[s]

    banded = [(a, b) for a, b, _ in pairs if keys_of(a) & keys_of(b)]
    missed = sum(1 for a, b in banded if canon_of[a] != canon_of[b])
    if missed:
        fails.append(f"recall: {missed} of {len(banded)} exact pairs that "
                     "share a MinHash band ended in different clusters")
    merged = sum(1 for a, b, _ in pairs if canon_of[a] == canon_of[b])
    rows = len(family) // bands
    tail = lower_tail([s_curve(j, rows, bands) for _, _, j in pairs], merged)
    if tail < RECALL_ALPHA:
        fails.append(f"recall: {merged}/{len(pairs)} exact pairs merged, "
                     f"P(<= {merged}) = {tail:.2g} under the S-curve")
    stats = {"exact_pairs": len(pairs), "band_pairs": len(banded),
             "merged_pairs": merged, "recall_tail_p": tail,
             "clusters": len(comps_of_cluster)}
    return fails, stats


def check_resolve(nodes: list[tuple], weight_sum: int, n_mentions: int,
                  n_triples: int, etype_of: dict[str, str]) -> list[str]:
    """entity_resolve. nodes: (canon_id, surface, etype, freq).
    Frequencies and weights sum to the generated mention and triple
    rows, and there is one node per generated (surface, etype). The
    clusters are checked by ``check_clusters``."""
    fails = []
    fails += _sum_check("node freq", sum(n[3] for n in nodes), n_mentions)
    fails += _sum_check("edge weight", weight_sum, n_triples)
    keys = {(n[1], n[2]) for n in nodes}
    want = set(etype_of.items())
    if len(nodes) != len(want) or keys != want:
        fails.append(f"nodes: {len(nodes)} rows, {len(keys)} distinct "
                     f"(surface, etype); generator has {len(want)}")
    return fails


def representatives(nodes: list[tuple]) -> dict[int, str]:
    """canon_id -> representative surface: highest freq, ties to the
    lexicographically larger surface (the graph's documented rule)."""
    best: dict[int, tuple] = {}
    for canon, surface, _etype, freq in nodes:
        cur = best.get(canon)
        if cur is None or (freq, surface) > cur:
            best[canon] = (freq, surface)
    return {c: s for c, (_, s) in best.items()}


def check_increments(processed: list[int], sizes: list[int],
                     published_nodes: list[tuple], published_edges: list[tuple],
                     full_nodes: list[tuple], full_edges: list[tuple],
                     golden_triples: int, links: dict[str, tuple]) -> list[str]:
    """crawl_increments. processed/sizes: each run_incremental call's
    processed_pages and the pages it was given; published_*: the graph
    after the last increment; full_*: a batch rebuild over every page;
    links: surface -> (canon_id, score_ppm) from the published alias
    table. Every call processed exactly its increment; the published
    graph equals the rebuild; edge weights sum to the planted triple
    count; every cluster's representative surface links to its own
    cluster at score 10^6."""
    fails = []
    if processed != sizes:
        fails.append(f"processed_pages {processed} != increment sizes {sizes}")
    if sorted(published_nodes) != sorted(full_nodes):
        fails.append("nodes: published graph differs from a full rebuild")
    if sorted(published_edges) != sorted(full_edges):
        fails.append("edges: published graph differs from a full rebuild")
    fails += _sum_check("edge weight", sum(e[3] for e in published_edges),
                        golden_triples)
    bad = [s for c, s in representatives(published_nodes).items()
           if links.get(s) != (c, 1_000_000)]
    if bad:
        fails.append(f"links: {len(bad)} representative surfaces do not link "
                     "to their own cluster at 10^6")
    return fails

"""Blocking, connected components, dedup, similarity, skew, lineage —
correctness vs sequential Python oracles (union-find, brute force)."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from zh_ner_tf_spark.operators.blocking import block_entities
from zh_ner_tf_spark.operators.components import connected_components
from zh_ner_tf_spark.operators.dedup import (
    dedup_exact,
    exact_dup_groups,
    minhash_near_dups,
    ngram_jaccard_pairs,
    simhash_groups,
    simhash_table,
)
from zh_ner_tf_spark.operators.similarity import (
    ann_topk,
    brute_force_topk,
    lsh_candidates,
)
from zh_ner_tf_spark.operators.skew import hot_key_census, salted_agg


# ---------------------------------------------------------------- helpers
def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _shingles(s, k=2):
    if len(s) < k:
        return {s}
    return {s[i: i + k] for i in range(len(s) - k + 1)}


def _jac(a, b):
    return len(a & b) / len(a | b)


# ---------------------------------------------------------------- tests
def test_connected_components_matches_union_find(spark):
    rng = np.random.RandomState(42)
    n = 200
    edges = [(int(a), int(b)) for a, b in rng.randint(0, n, size=(300, 2)) if a != b]
    # include a long path (worst case for propagation depth)
    edges += [(1000 + i, 1000 + i + 1) for i in range(30)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    nodes = {x for e in edges for x in e}
    want = _union_find(nodes, edges)
    # canonical labels: min node id per component in both
    assert got == want


def test_connected_components_caches_edge_lineage(spark):
    """sym is localCheckpoint'd before the loop: the (expensive) upstream
    edge DAG must run a bounded number of times, NOT once per iteration.
    A 30-node path needs several propagation rounds; an accumulator in the
    edge source counts upstream row evaluations."""
    acc = spark.sparkContext.accumulator(0)

    def _count(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    base = spark.createDataFrame(
        pd.DataFrame(
            [(i, i + 1) for i in range(30)], columns=["src", "dst"]
        )
    ).mapInPandas(_count, schema="src long, dst long")
    out = connected_components(base)
    assert out.filter(F.col("component") != 0).count() == 0
    # sym = union of two selects over base -> upstream evaluated at most
    # twice during the one checkpoint materialization (30 rows each);
    # without the checkpoint this is 30 * 2 * (2 joins/iter * ~5 iters).
    assert acc.value <= 2 * 30


def test_blocking_finds_near_duplicate_surfaces(spark):
    surfaces = [
        (1, "阿里巴巴集团"), (2, "阿里巴巴集团公司"),   # near dup
        (3, "腾讯控股"), (4, "腾讯控股有限"),           # near dup
        (5, "完全不同的东西"), (6, "东风汽车"),
        (7, "阿里巴巴集团"),                            # exact dup of 1
    ]
    df = spark.createDataFrame(surfaces, "entity_id int, surface string")
    pairs = {(r["src"], r["dst"]): r["jaccard"] for r in block_entities(df, threshold=0.5).collect()}
    # exact dups collapse pre-banding (min id kept), so (1,7) never appears
    assert (1, 7) not in pairs
    assert (1, 2) in pairs and abs(
        pairs[(1, 2)] - round(_jac(_shingles("阿里巴巴集团"), _shingles("阿里巴巴集团公司")), 6)
    ) < 1e-9
    assert (3, 4) in pairs
    assert all(src != 5 and dst != 5 for src, dst in pairs)


def test_minhash_vs_exact_jaccard_recall(spark):
    # LSH candidates must contain every pair with high true Jaccard
    rng = np.random.RandomState(7)
    base = "spark catalyst tungsten arrow shuffle partition broadcast"
    docs = []
    for i in range(30):
        words = base.split()
        if i % 3 == 0:
            words = words + [f"x{i}"]          # near-dups of base
        else:
            words = [f"w{i}_{j}" for j in range(8)]  # distinct
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got_pairs = {(r["src"], r["dst"]) for r in minhash_near_dups(df, threshold=0.5).collect()}
    want_pairs = set()
    for (i, a), (j, b) in itertools.combinations(docs, 2):
        if _jac(_shingles(a), _shingles(b)) >= 0.5 and a != b:
            want_pairs.add((min(i, j), max(i, j)))
    # every wanted pair found (bands are generous at 16 hashes / 8 bands)
    assert want_pairs <= got_pairs


def test_lsh_doc_pairs_collapses_exact_dups(spark):
    """1k identical docs + near-dup and distinct docs: (a) the pair set
    equals the direct uncollapsed band self-join, (b) the rep-side band
    table holds ONE row per (band_id, band_value) for the duplicated
    text — the hot band keys are gone before the join."""
    from zh_ner_tf_spark.operators.blocking import lsh_doc_pairs, minhash_bands_table

    boiler = "breaking news contact us terms of service all rights reserved"
    rows = [(i, boiler) for i in range(1000)]
    rows += [(2000, "a completely different document about spark shuffles"),
             (2001, "a completely different document about spark shuffle"),
             (2002, "unrelated text with no overlap whatsoever here")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    got = {(r["src"], r["dst"]) for r in lsh_doc_pairs(df, "doc_id", "text", k=3).collect()}

    bands = minhash_bands_table(df, "doc_id", "text", k=3)
    a = bands.select("band_id", "band_value", F.col("doc_id").alias("src"))
    b = bands.select("band_id", "band_value", F.col("doc_id").alias("dst"))
    want = {
        (r["src"], r["dst"])
        for r in a.join(b, ["band_id", "band_value"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst").distinct().collect()
    }
    assert got == want
    assert len(got) >= 1000 * 999 // 2  # all intra-group pairs present

    # collapsed band table: the boilerplate text contributes one rep row
    # per band, so no band group exceeds the distinct-text count
    reps = df.dropDuplicates(["text"])
    rep_bands = minhash_bands_table(reps, "doc_id", "text", k=3)
    max_group = (
        rep_bands.groupBy("band_id", "band_value")
        .count().agg(F.max("count")).first()[0]
    )
    assert max_group <= reps.count()


def test_banded_pairs_salted_equals_plain_self_join(spark):
    """One hot band key (60 members vs mean ~1): the salted self-join
    emits exactly the plain join's pair set, and the hot key's pair work
    is spread over more than one salt bucket."""
    from zh_ner_tf_spark.operators.blocking import banded_pairs_salted

    rows = [(0, 999, i) for i in range(60)]           # hot band
    rows += [(1, i, 1000 + i) for i in range(50)]      # 50 singleton bands
    rows += [(2, 5, 2000), (2, 5, 2001)]               # one cold pair
    banded = spark.createDataFrame(
        pd.DataFrame(rows, columns=["band_id", "band_value", "eid"])
    )
    got = {
        (r["src"], r["dst"])
        for r in banded_pairs_salted(banded, "eid", salt_buckets=8).collect()
    }
    a = banded.select("band_id", "band_value", F.col("eid").alias("src"))
    b = banded.select("band_id", "band_value", F.col("eid").alias("dst"))
    want = {
        (r["src"], r["dst"])
        for r in a.join(b, ["band_id", "band_value"])
        .filter(F.col("src") < F.col("dst")).collect()
    }
    assert got == want
    assert len(got) == 60 * 59 // 2 + 1
    # the hot side actually salts: the 60 hot ids hash to >1 bucket
    n_salts = (
        banded.filter(F.col("band_id") == 0)
        .select(F.pmod(F.xxhash64(F.col("eid")), F.lit(8)).alias("s"))
        .distinct().count()
    )
    assert n_salts > 1


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "ccc"), (5, "bbb"), (6, "aaa")],
        "doc_id int, text string",
    )
    groups = {r["content_hash"]: (r["n_dups"], r["keep_id"]) for r in exact_dup_groups(df).collect()}
    assert sorted(groups.values()) == [(1, 4), (2, 2), (3, 1)]
    kept = sorted(r["doc_id"] for r in dedup_exact(df).collect())
    assert kept == [1, 2, 4]


def test_ngram_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "q r s t u")],
        "doc_id int, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "src int, dst int")
    got = {(r["src"], r["dst"]): r["jaccard"] for r in ngram_jaccard_pairs(df, pairs).collect()}
    # trigrams of 1: {abc,bcd,cde}; of 2: {abc,bcd,cdx} -> jac 2/4
    assert abs(got[(1, 2)] - 0.5) < 1e-9
    assert got[(1, 3)] == 0.0


def test_ngram_hash_rows_matches_frozen_column_spec(spark):
    """The vectorized pandas gram-hash path reproduces word_ngram_hashes
    (the frozen Column/oracle spec) exactly — incl. CJK codepoints,
    adjacent repeated tokens, space runs, short docs, and empty/
    whitespace docs (whole-doc fold = [0])."""
    from zh_ner_tf_spark.operators.dedup import ngram_hash_rows, word_ngram_hashes

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "of of of"), (2, "one two"), (3, "single"),
        (4, ""), (5, "   "), (6, "阿里巴巴 集团 腾讯 控股 有限 公司"),
        (7, "mixed 中文 and english tokens here"), (8, "a  b   c"),
    ]
    df = spark.createDataFrame(pd.DataFrame(texts, columns=["doc_id", "text"]))
    for n in (2, 3):
        got = {
            (r["_k"], r["gh"])
            for r in ngram_hash_rows(df, "doc_id", "text", n).collect()
        }
        want = {
            (r["doc_id"], g)
            for r in df.select(
                "doc_id", word_ngram_hashes(F.col("text"), n).alias("g")
            ).collect()
            for g in r["g"]
        }
        assert got == want
    # empty/whitespace docs are present with the fold-of-nothing hash
    got3 = dict(
        ngram_hash_rows(df, "doc_id", "text", 3)
        .groupBy("_k").agg(F.collect_set("gh").alias("g")).collect()
    )
    assert got3[4] == [0] and got3[5] == [0]


def test_sketch_signature_plan_has_no_pre_aggregate_shuffle(spark):
    """Sketch construction must not shuffle the token stream (r9): the
    simhash is a pure per-document function computed inside one Arrow
    pass, so the plan has no KEYED Exchange and no Window/Sort stage
    (the r8 shape paid a hashpartitioning Exchange for the per-doc vote
    aggregate). A round-robin Exchange is permitted — that is
    ensure_parallelism repairing an under-partitioned input, gone on
    production-partitioned inputs."""
    df = spark.createDataFrame(
        pd.DataFrame([(0, "a b c d e"), (1, "f g h")], columns=["doc_id", "text"])
    )
    plan = (
        simhash_table(df, "doc_id", "text", bits=16, n=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Window" not in plan


def test_simhash_identical_and_different(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "entirely unrelated words here now")],
        "doc_id int, text string",
    )
    groups = simhash_groups(df)
    m = {r["simhash"]: r["n_docs"] for r in groups.collect()}
    assert sorted(m.values()) == [1, 2]


def test_simhash_udf_null_text_is_none_not_nan():
    """A NULL text's simhash is an explicit None in the UDF's object
    output, not a float NaN left for Arrow to coerce."""
    from zh_ner_tf_spark.operators.dedup import simhash_udf

    out = simhash_udf(2, 16).func(pd.Series(["the quick brown fox", None]))
    assert isinstance(out[0], int)
    assert out[1] is None


def test_fmt_double_sql_refuses_non_finite_weights():
    from zh_ner_tf_spark.operators.similarity import _fmt_double_sql

    assert _fmt_double_sql(0.1) == "CAST('0.1' AS DOUBLE)"
    for bad in (float("inf"), float("-inf"), float("nan")):
        with pytest.raises(ValueError, match="non-finite"):
            _fmt_double_sql(bad)


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.RandomState(42)
    corpus = rng.normal(size=(50, 16)).astype(np.float32)
    queries = rng.normal(size=(3, 16)).astype(np.float32)
    cdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(corpus)], "vec_id int, embedding array<float>"
    )
    qdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(queries)], "query_id int, embedding array<float>"
    )
    got = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(cdf, qdf, k=5).collect()
    }
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    sims = np.round((qn.astype(np.float64) @ cn.astype(np.float64).T), 6)
    for qi in range(3):
        order = sorted(range(50), key=lambda c: (-sims[qi, c], c))[:5]
        for rank, cid in enumerate(order, start=1):
            assert got[(qi, rank)] == cid, (qi, rank)


def test_ann_topk_is_subset_ranked_consistently(spark):
    rng = np.random.RandomState(1)
    corpus = rng.normal(size=(80, 16)).astype(np.float32)
    cdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(corpus)], "vec_id int, embedding array<float>"
    )
    qdf = spark.createDataFrame(
        [(0, corpus[7].tolist())], "query_id int, embedding array<float>"
    )
    got = ann_topk(cdf, qdf, k=3).collect()
    # the query IS corpus vec 7 -> its own bucket always contains it, rank 1
    assert got[0]["vec_id"] == 7 and abs(got[0]["cosine"] - 1.0) < 1e-6
    cands = {r["vec_id"] for r in got}
    assert len(cands) <= 3


def test_lsh_candidates_self_similarity(spark):
    rng = np.random.RandomState(3)
    v = rng.normal(size=16).astype(np.float32)
    rows = [(0, v.tolist()), (1, v.tolist()), (2, (-v).tolist())]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    pairs = {(r["src"], r["dst"]) for r in lsh_candidates(df).collect()}
    assert (0, 1) in pairs          # identical vectors share all bands
    assert (0, 2) not in pairs      # antipodal vectors share no band


def test_salted_agg_equals_direct_groupby(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    direct = {
        (r["event_type"],): (r["n"], r["mx"])
        for r in df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    salted = {
        (r["event_type"],): (r["n"], r["mx"])
        for r in salted_agg(
            df, ["event_type"], {"n": ("count", ""), "mx": ("max", "value")}
        ).collect()
    }
    assert direct == salted


def test_salted_join_equals_plain_join(spark):
    """salted_join is multiset-equal to the plain join on a skewed
    dataset for inner AND left joins (unmatched hot and cold left rows
    survive a left join exactly once; hot right rows replicated per
    salt meet each left row exactly once); right/full are rejected."""
    from zh_ner_tf_spark.operators.skew import salted_join

    left_rows = (
        [("hot", i) for i in range(2000)]
        + [(f"cold{i % 7}", i) for i in range(70)]
        + [("lonely", 1), ("lonely", 2)]          # no right match
    )
    right_rows = (
        [("hot", "a"), ("hot", "b")]              # hot key: 2 matches
        + [(f"cold{i}", f"r{i}") for i in range(7)]
        + [("right_only", "x")]
    )
    left = spark.createDataFrame(left_rows, "k string, v int")
    right = spark.createDataFrame(right_rows, "k string, tag string")

    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, left.join(right, ["k"], how).collect())
        )
        salted = sorted(
            map(tuple, salted_join(left, right, ["k"], how=how,
                                   salt_buckets=8).collect())
        )
        assert salted == plain, how
    import pytest as _pytest

    with _pytest.raises(ValueError, match="inner.*left"):
        salted_join(left, right, ["k"], how="full")


def test_hot_key_census(spark):
    rows = [("hot", i) for i in range(1000)] + [(f"cold{i}", i) for i in range(50)]
    df = spark.createDataFrame(rows, "k string, v int")
    hot = [r["k"] for r in hot_key_census(df, ["k"], factor=16).collect()]
    assert hot == ["hot"]


def test_ivf_topk_full_probe_equals_brute_force(spark):
    from zh_ner_tf_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 3").selectExpr(
        "vec_id as query_id", "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    # probing every centroid must reproduce brute force EXACTLY
    full = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(
            emb, queries, k=5, n_centroids=8, nprobe=8
        ).collect()
    }
    assert full == exact


def test_ivf_topk_partial_probe_finds_self(spark):
    from zh_ner_tf_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id = 7").selectExpr(
        "vec_id as query_id", "embedding"
    )
    got = ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=1).collect()
    # the query IS corpus vector 7: same assignment -> same bucket -> rank 1
    assert got[0]["vec_id"] == 7 and abs(got[0]["cosine"] - 1.0) < 1e-6


def test_ivf_distributed_codebook_quality_and_full_probe(spark):
    """Distributed k-means codebook (full-corpus refinement, map-side-
    combinable element-wise sums): (1) the nprobe=C == brute-force
    invariant holds for ANY codebook, so the whole assignment/join path
    stays exact under it; (2) full-corpus refinement must not LOSE
    quality vs the bounded-sample fit (mean within-cluster cosine of
    the assignment, epsilon for float-order nondeterminism); (3) empty
    corpus -> None like the sample fit."""
    from zh_ner_tf_spark.operators.similarity import (
        fit_ivf_centroids,
        fit_ivf_centroids_distributed,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent_d = fit_ivf_centroids_distributed(emb, n_centroids=8, iters=3)
    assert cent_d.shape == (8, 64)
    assert np.allclose(np.linalg.norm(cent_d, axis=1), 1.0, atol=1e-9)

    queries = emb.filter("vec_id < 3").selectExpr(
        "vec_id as query_id", "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    full = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(
            emb, queries, k=5, nprobe=8, centroids=cent_d
        ).collect()
    }
    assert full == exact

    def mean_within_cluster_cos(cent):
        x = np.array([r[0] for r in emb.select("embedding").collect()],
                     dtype=np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ cent.T
        return float(sims.max(axis=1).mean())

    cent_s = fit_ivf_centroids(emb, n_centroids=8, iters=2)
    assert mean_within_cluster_cos(cent_d) >= mean_within_cluster_cos(cent_s) - 1e-6

    empty = emb.filter("vec_id < 0")
    assert fit_ivf_centroids_distributed(empty, n_centroids=4) is None


def test_ann_metadata_dim_and_rows_match_probed_path(spark):
    """ann_topk with dim/n_rows from parquet METADATA (zero pre-flight
    jobs) is value-identical to the probe-and-count fallback, and the
    metadata readers agree with the live data."""
    from zh_ner_tf_spark.sources.tables import (
        load_table,
        table_embedding_dim,
        table_row_count,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    dim = table_embedding_dim(sf)
    n = table_row_count(sf, "embeddings")
    assert dim == 64 and n == emb.count()
    q = emb.filter("vec_id < 3").selectExpr("vec_id as query_id", "embedding")
    a = ann_topk(emb, q, k=5, n_rows=n, dim=dim).collect()
    b = ann_topk(emb, q, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert [tuple(r) for r in sorted(a, key=key)] == [
        tuple(r) for r in sorted(b, key=key)
    ]


@pytest.mark.parametrize("shape", ["long_path", "star", "bridged_cliques"])
def test_connected_components_adversarial_shapes(spark, shape):
    if shape == "long_path":
        # worst case for naive propagation: O(n) without pointer jumping
        edges = [(i, i + 1) for i in range(200)]
    elif shape == "star":
        # hot-key shape: one node with degree 300
        edges = [(0, i) for i in range(1, 300)]
    else:
        a = [(i, j) for i in range(20) for j in range(i + 1, 20)]
        b = [(100 + i, 100 + j) for i in range(20) for j in range(i + 1, 20)]
        edges = a + b + [(19, 100)]  # bridge joins the cliques
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    nodes = {x for e in edges for x in e}
    want = _union_find(nodes, edges)
    assert got == want


def test_winnow_fingerprints_match_bruteforce_and_guarantee(spark):
    """Spark winnowing == a sequential brute-force implementation of the
    published algorithm (min per window, rightmost tie-break), and the
    winnowing guarantee holds: two documents sharing a run of >= n+w-1
    tokens share at least one fingerprint hash."""
    import pandas as pd

    from zh_ner_tf_spark.operators.dedup import (
        _gram_hashes_np,
        winnow_fingerprints,
    )

    import random

    n, w = 3, 4
    docs = [
        (0, "a b c d e f g h i j"),
        (1, "x y z a b c d e f g h q"),       # shares 'a b c d e f g h'
        (2, "p p p p p p"),                   # all-equal hashes: tie-break
        (3, "one two"),                       # fewer than n tokens
        (4, ""),                              # empty
        (5, "u v w x y z"),                   # exactly enough for 1 window
    ]
    # plus a seeded random corpus over a tiny vocab (forces hash repeats,
    # hence tie-breaks, at many window offsets)
    rng = random.Random(7)
    docs += [
        (10 + i, " ".join(rng.choice("aa bb cc dd".split())
                          for _ in range(rng.randint(0, 30))))
        for i in range(50)
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    got = {
        (r["doc_id"], r["fp_pos"], r["fp_hash"])
        for r in winnow_fingerprints(df, "doc_id", "text", n=n, w=w).collect()
    }

    def brute(doc_id, text):
        gh = _gram_hashes_np(text, n, distinct=False)
        m = len(gh)
        out = set()
        for s in range(max(m - w, 0) + 1):
            window = gh[s: s + w] if m > w else gh
            mn = min(window)
            # rightmost position achieving the min
            rel = max(i for i, v in enumerate(window) if v == mn)
            out.add((doc_id, s + rel, mn))
        return out

    want = set()
    for doc_id, text in docs:
        want |= brute(doc_id, text)
    assert got == want

    # guarantee: docs 0 and 1 share the 8-token run -> >= 1 common hash
    h0 = {h for d, p, h in got if d == 0}
    h1 = {h for d, p, h in got if d == 1}
    assert h0 & h1


def test_similarity_operators_on_empty_corpus(spark):
    """Empty corpora flow through every similarity path to empty results
    with the standard output schema (no codebook-fit or dim-inference
    crash) — the partition-of-nothing production case."""
    from pyspark.sql import functions as F

    from zh_ner_tf_spark.operators.dedup import embedding_near_dups
    from zh_ner_tf_spark.operators.similarity import (
        ann_topk,
        brute_force_topk,
        ivf_topk,
        lsh_candidates,
    )

    emptye = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    q = emptye.select(F.col("vec_id").alias("query_id"), "embedding")
    for name, df in (
        ("brute", brute_force_topk(emptye, q)),
        ("ivf", ivf_topk(emptye, q)),
        ("ann", ann_topk(emptye, q)),
    ):
        assert df.count() == 0, name
        assert [f.name for f in df.schema] == [
            "query_id", "vec_id", "cosine", "rank"
        ], name
    assert lsh_candidates(emptye).count() == 0
    assert embedding_near_dups(emptye).count() == 0


# ------------------------------------------------- SRP salting + scaling
def test_srp_params_scale_with_corpus_size():
    """The adaptive band family: fixture scale reproduces the frozen
    oracle family (16, 4); band width grows with the corpus so bucket
    occupancy stays bounded; band COUNT grows with band width so the
    analytic recall for cosine>=0.95 pairs stays >= 0.9 at every scale
    (wider bands cut true candidates too — more bands compensate)."""
    import math

    from zh_ner_tf_spark.operators.similarity import srp_params

    assert srp_params(500) == (16, 4)   # sf0.01 embeddings -> oracle family
    assert srp_params(0) == (16, 4)
    assert srp_params(2000) == (24, 4)
    p = 1.0 - math.acos(0.95) / math.pi
    last_bpb = 0
    for n in (10, 500, 2000, 10 ** 4, 10 ** 6, 10 ** 9, 10 ** 12):
        bits, bands = srp_params(n)
        assert bits % bands == 0
        bpb = bits // bands
        assert bpb >= last_bpb          # bucket count is monotone in n
        last_bpb = bpb
        if n >= 32:
            # occupancy bound: <= 32 expected rows/bucket up to the cap
            assert bpb >= min(24, math.ceil(math.log2(n / 32)))
        recall = 1.0 - (1.0 - p ** bpb) ** bands
        assert recall >= 0.9, (n, bits, bands, recall)


def test_lsh_candidates_salted_equals_unsalted_on_hot_bucket(spark):
    """Pair-set equality of the census-salted SRP band join vs the plain
    self-join on a corpus with a REAL hot bucket: 100 identical vectors
    collide in every band (the dense-cluster failure mode the salting
    spreads), 400 random background vectors fill the key space so the
    census threshold (16x mean) actually fires."""
    from zh_ner_tf_spark.operators.similarity import _hyperplanes, _srp_bands

    rng = np.random.RandomState(7)
    hot_vec = rng.normal(size=16).astype(np.float32).tolist()
    rows = [(i, hot_vec) for i in range(100)] + [
        (i, rng.normal(size=16).astype(np.float32).tolist())
        for i in range(100, 500)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    n_bits, n_bands = 60, 4  # 15-bit bands: background spreads, cluster is hot

    planes = _hyperplanes(16, n_bits)
    bands = _srp_bands(df, "vec_id", "embedding", planes, n_bits, n_bands, "eid")
    # precondition: the cluster's band keys really are census-hot
    assert hot_key_census(
        bands.select("band_id", "band_value"), ["band_id", "band_value"]
    ).count() >= 1

    salted = {
        (r["src"], r["dst"])
        for r in lsh_candidates(df, n_bits=n_bits, n_bands=n_bands).collect()
    }
    left = bands.select("band_id", "band_value", F.col("eid").alias("src"))
    right = bands.select("band_id", "band_value", F.col("eid").alias("dst"))
    plain = {
        (r["src"], r["dst"])
        for r in left.join(right, ["band_id", "band_value"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
        .collect()
    }
    assert salted == plain
    assert len(salted) >= 100 * 99 // 2  # the cluster is all-pairs


def test_lsh_candidates_adaptive_default_matches_explicit_fixture(spark):
    """At the 500-row embeddings fixture the adaptive default resolves to
    the explicit (16, 4) family — byte-for-byte the same pair set (this is
    what keeps the driver gate's inlined-hyperplane oracle exact)."""
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = {(r["src"], r["dst"]) for r in lsh_candidates(df).collect()}
    e = {
        (r["src"], r["dst"])
        for r in lsh_candidates(df, n_bits=16, n_bands=4).collect()
    }
    assert d == e and len(d) > 0


def test_gram_hashes_batch_matches_per_doc_spec():
    """_gram_hashes_batch (one segmented pass per Arrow batch) must be
    value-equal to the frozen per-document spec _gram_hashes_np on
    adversarial inputs: NULLs, empties, all-space, docs shorter than n,
    multi-space runs, CJK, and long mixed docs — for both the distinct
    and the positional (winnowing) modes."""
    from zh_ner_tf_spark.operators.dedup import (
        _gram_hashes_batch,
        _gram_hashes_np,
    )

    rng = np.random.RandomState(11)
    words = ["alpha", "beta", "北京", "大学", "x", "委员会", "12", "β"]
    texts = [
        None, "", " ", "   ", "a", "a b", "a  b", " a b ",
        "一 二 三 四 五", "solo",
        " ".join(rng.choice(words, size=200).tolist()),
        "  ".join(rng.choice(words, size=50).tolist()) + "  ",
    ]
    for n in (2, 3, 5):
        for distinct in (True, False):
            got = _gram_hashes_batch(texts, n, distinct)
            want = [_gram_hashes_np(t, n, distinct=distinct) for t in texts]
            assert got == want, (n, distinct)
    assert _gram_hashes_batch([None, None], 3) == [None, None]
    assert _gram_hashes_batch([], 3) == []
    assert _gram_hashes_batch(["", None, " "], 2) == [[0], None, [0]]


def test_ivf_params_scale_and_small_corpus_guard():
    from zh_ner_tf_spark.operators.similarity import ivf_params

    assert ivf_params(0) == 16
    assert ivf_params(500) == 22          # ~sqrt(n)
    assert ivf_params(10 ** 6) == 256     # capped: driver-side k-means
    assert ivf_params(100) == 16          # floored
    last = 0
    for n in (10, 100, 10 ** 4, 10 ** 6, 10 ** 9):
        c = ivf_params(n)
        assert c >= last
        last = c


def test_multi_probe_ann_recall_never_worse(spark):
    """Multi-probe LSH (query-side bit flips by ascending |margin|):
    per-query recall vs brute force is monotone non-decreasing in
    n_probes, and strictly recovers misses on a corpus where single-
    bucket ANN drops true neighbors. Corpus-side work is unchanged —
    probes only add QUERY band rows."""
    rng = np.random.RandomState(23)
    corpus = rng.normal(size=(300, 16)).astype(np.float32)
    cdf = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(corpus)],
        "vec_id int, embedding array<float>",
    )
    qdf = spark.createDataFrame(
        [(i, corpus[i * 37].tolist()) for i in range(4)],
        "query_id int, embedding array<float>",
    )
    want = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(cdf, qdf, k=5).collect()
    }

    def recall(n_probes: int) -> float:
        got = {
            (r["query_id"], r["vec_id"])
            for r in ann_topk(
                cdf, qdf, k=5, n_bits=24, n_bands=4, n_probes=n_probes
            ).collect()
        }
        return len(got & want) / len(want)

    r1, r3, r6 = recall(1), recall(3), recall(6)
    assert r1 <= r3 <= r6, (r1, r3, r6)
    assert r6 > r1  # probing recovers at least one dropped neighbor
    assert r6 >= 0.5


def test_srp_bands_match_packed_signature_slices(spark):
    """_srp_bands computes band values per plane group; srp_signature is
    the packed-bigint spec the DuckDB oracle replica re-expresses (sig =
    sum 2^i [dot>0], band b = bits [b*r, (b+1)*r)). Both constructions
    must agree bit-for-bit for families that fit the bigint."""
    from zh_ner_tf_spark.operators.similarity import (
        _hyperplanes,
        _srp_bands,
        srp_signature,
    )

    rng = np.random.RandomState(5)
    rows = [(i, rng.normal(size=16).astype(np.float32).tolist())
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    n_bits, n_bands = 16, 4
    planes = _hyperplanes(16, n_bits)
    got = {
        (r["eid"], r["band_id"]): r["band_value"]
        for r in _srp_bands(
            df, "vec_id", "embedding", planes, n_bits, n_bands, "eid"
        ).collect()
    }
    bpb = n_bits // n_bands
    packed = df.select(
        F.col("vec_id"),
        srp_signature(F.col("embedding"), planes).alias("sig"),
    )
    want = {}
    for r in packed.collect():
        for b in range(n_bands):
            want[(r["vec_id"], b)] = (r["sig"] >> (b * bpb)) & ((1 << bpb) - 1)
    assert got == want


def test_srp_family_explicit_bits_and_degenerate_params(spark):
    """Review regressions: an explicit n_bits ALONE keeps the legacy
    4-band family (not silently discarded for the adaptive default);
    recall_sim=1.0 / recall_target=1.0 degrade gracefully instead of
    raising math-domain errors."""
    from zh_ner_tf_spark.operators.similarity import (
        _resolve_srp_family,
        srp_params,
    )

    df = spark.createDataFrame([(0, [1.0, 2.0])], "vec_id int, embedding array<float>")
    assert _resolve_srp_family(df, 32, None, n_rows=1) == (32, 4)
    assert _resolve_srp_family(df, None, 8, n_rows=500) == (32, 8)
    assert _resolve_srp_family(df, 16, 4, n_rows=10**9) == (16, 4)
    assert srp_params(10_000, recall_sim=1.0) == (36, 4)  # 9-bit bands, 4 bands
    bits, bands = srp_params(10_000, recall_target=1.0)
    assert bands <= 64  # capped, no domain error


def test_null_embeddings_emit_no_candidates(spark):
    """NULL vectors must vanish from the LSH paths: without the
    isNotNull filter every null row lands in bucket 0 of every band (a
    bogus mega-bucket pairing unrelated rows with NULL cosines)."""
    rng = np.random.RandomState(31)
    rows = [(i, rng.normal(size=8).astype(np.float32).tolist()) for i in range(20)]
    rows += [(100, None), (101, None), (102, None)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    pairs = {(r["src"], r["dst"])
             for r in lsh_candidates(df, n_bits=16, n_bands=4).collect()}
    assert all(s < 100 and d < 100 for s, d in pairs)
    # and the probe path agrees with the single-bucket path on nulls
    q = spark.createDataFrame(
        [(0, None)], "query_id int, embedding array<float>"
    )
    assert ann_topk(df, q, k=3, n_bits=16, n_bands=4).count() == 0
    assert ann_topk(df, q, k=3, n_bits=16, n_bands=4, n_probes=3).count() == 0


def test_ivf_distributed_codebook_wide_dim(spark):
    """dim=512 gate for the constant-width partial-sum path (VERDICT r5:
    the previous per-dimension SUM-column aggregation compiled dim
    aggregate expressions and would hit codegen method limits at
    production embedding widths). Quality gates are the same as the
    dim=64 test: nprobe=C == brute force under the fitted codebook, and
    full-corpus refinement never loses within-cluster cosine vs the
    bounded-sample fit."""
    from zh_ner_tf_spark.operators.similarity import (
        brute_force_topk,
        fit_ivf_centroids,
        fit_ivf_centroids_distributed,
        ivf_topk,
    )

    rng = np.random.RandomState(11)
    dim, n, c = 512, 240, 6
    centers = rng.normal(size=(c, dim))
    rows = []
    for i in range(n):
        v = centers[i % c] + 0.15 * rng.normal(size=dim)
        rows.append((i, v.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cent_d = fit_ivf_centroids_distributed(emb, n_centroids=c, iters=3)
    assert cent_d.shape == (c, dim)
    assert np.allclose(np.linalg.norm(cent_d, axis=1), 1.0, atol=1e-9)

    queries = emb.filter("vec_id < 3").selectExpr(
        "vec_id as query_id", "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in brute_force_topk(emb, queries, k=4).collect()
    }
    full = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in ivf_topk(
            emb, queries, k=4, nprobe=c, centroids=cent_d
        ).collect()
    }
    assert full == exact

    x = np.array([r[1] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)

    def quality(cent):
        return float((x @ cent.T).max(axis=1).mean())

    cent_s = fit_ivf_centroids(emb, n_centroids=c, iters=2)
    assert quality(cent_d) >= quality(cent_s) - 1e-6
    # planted structure actually recovered: every point close to its
    # centroid (well above what random centroids would give)
    assert quality(cent_d) > 0.9


def test_srp_bands_arrow_gemm_parity_and_dispatch(spark):
    """The Arrow-GEMM corpus banding (constant plan width at production
    embedding dims) is value-identical to the inlined-literal JVM form
    on a family where plane dots are far from the sign boundary, nulls
    emit no band rows on either path, and the auto dispatcher keeps the
    oracle-gated fixture families on the JVM plan while wide families
    switch to the single-UDF plan."""
    from zh_ner_tf_spark.operators.similarity import (
        SRP_ARROW_GEMM_THRESHOLD,
        _hyperplanes,
        _srp_bands,
    )

    rng = np.random.RandomState(3)
    dim, n_bits, n_bands = 96, 32, 4
    rows = [(i, rng.normal(size=dim).tolist()) for i in range(120)]
    rows.append((999, None))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = _hyperplanes(dim, n_bits, 0)

    def frozen(df):
        return sorted(
            (r["eid"], r["band_id"], r["band_value"]) for r in df.collect()
        )

    jvm = _srp_bands(emb, "vec_id", "embedding", planes, n_bits, n_bands,
                     "eid", impl="jvm")
    arrow = _srp_bands(emb, "vec_id", "embedding", planes, n_bits, n_bands,
                       "eid", impl="arrow")
    assert frozen(jvm) == frozen(arrow)
    assert len(frozen(jvm)) == 120 * n_bands  # null row emitted nothing

    # dispatcher: fixture-scale family stays JVM (no Python eval node),
    # wide family switches to the Arrow plan
    assert dim * n_bits <= SRP_ARROW_GEMM_THRESHOLD
    auto_small = _srp_bands(emb, "vec_id", "embedding", planes, n_bits,
                            n_bands, "eid")
    assert "ArrowEvalPython" not in auto_small._jdf.queryExecution().toString()

    wide_dim = 768
    wide_bits = 48
    assert wide_dim * wide_bits > SRP_ARROW_GEMM_THRESHOLD
    wide = spark.createDataFrame(
        [(0, [0.0] * wide_dim)], "vec_id long, embedding array<double>"
    )
    auto_wide = _srp_bands(wide, "vec_id", "embedding",
                           _hyperplanes(wide_dim, wide_bits, 0), wide_bits, 8,
                           "eid")
    assert "ArrowEvalPython" in auto_wide._jdf.queryExecution().toString()


def test_near_dup_clusters_close_pairs_transitively(spark):
    """near_dup_clusters == union-find closure over lsh_doc_pairs: every
    doc labeled with its cluster's min id, chain clusters (A~B, B~C,
    A!~C) collapse to one, exact dups cluster, colliding-with-nothing
    docs are their own singletons with keep=1, and exactly one keep per
    cluster."""
    import pandas as pd

    from zh_ner_tf_spark.operators.blocking import lsh_doc_pairs
    from zh_ner_tf_spark.operators.dedup import near_dup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [
        (1, base * 3),
        (2, base * 3),                       # exact dup of 1
        (3, base * 3 + "tail one"),          # near dup of 1/2
        (4, base * 3 + "tail one more"),     # near dup of 3 (chain)
        (5, "completely unrelated text about spark physical plans"),
        (6, None),                           # NULL text
    ]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in near_dup_clusters(docs).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6}

    # sequential union-find over the SAME pair set
    pairs = [(r["src"], r["dst"]) for r in lsh_doc_pairs(docs).collect()]
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: min(j for j, _ in rows if find(j) == find(i))
            for i, _ in rows}
    assert {d: c for d, (c, _) in got.items()} == want
    # 1 and 2 (exact dups) share a cluster; the chain pulls 3,4 in too
    assert got[2][0] == got[1][0] == 1
    assert got[3][0] == 1 and got[4][0] == 1
    # singletons keep themselves
    assert got[5] == (5, 1) and got[6] == (6, 1)
    # exactly one representative per cluster
    clusters = {}
    for d, (c, keep) in got.items():
        clusters.setdefault(c, 0)
        clusters[c] += keep
    assert all(v == 1 for v in clusters.values())


def test_quantize_embeddings_roundtrip_and_recall(spark):
    """int8 symmetric quantization: (1) every dequantized element sits
    within scale/2 of the original (half-up rounding bound); (2) codes
    span [-127, 127]; (3) zero vectors store scale 0 / zero codes and a
    NULL vector stays NULL, a NaN-containing vector degrades to the
    NULL branch (whole-row NULL codes + NULL scale — not a NaN scale
    with element-wise NULL codes; ADVICE r6), and an EMPTY vector keeps
    scale 0 with empty codes; (4) top-k over the quantized corpus keeps
    high overlap with the float ranking on planted clusters."""
    from zh_ner_tf_spark.operators.similarity import (
        brute_force_topk,
        dequantize_expr,
        quantize_embeddings,
        quantized_topk,
    )

    rng = np.random.RandomState(5)
    rows = [(i, (rng.normal(size=16) * (1 + i % 3)).tolist())
            for i in range(60)]
    rows.append((100, [0.0] * 16))
    rows.append((101, None))
    rows.append((102, [1.0, float("nan")] + [0.5] * 14))
    rows.append((103, []))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = quantize_embeddings(emb)
    got = {r["vec_id"]: r for r in
           q.withColumn("deq", dequantize_expr("qembedding", "qscale"))
            .collect()}
    assert got[102]["qembedding"] is None and got[102]["qscale"] is None
    assert got[103]["qembedding"] == [] and got[103]["qscale"] == 0.0
    for i, vec in rows:
        if vec is None or i in (102, 103):
            if vec is None:
                assert got[i]["qembedding"] is None
                assert got[i]["qscale"] is None
            continue
        scale = got[i]["qscale"]
        if all(v == 0 for v in vec):
            assert scale == 0.0 and all(c == 0 for c in got[i]["qembedding"])
            continue
        assert scale > 0
        codes = got[i]["qembedding"]
        assert max(abs(c) for c in codes) <= 127
        for orig, deq in zip(vec, got[i]["deq"]):
            assert abs(deq - orig) <= scale / 2 + 1e-12
    queries = emb.filter("vec_id < 4").selectExpr(
        "vec_id as query_id", "embedding"
    )
    # cosine is undefined over zero/NULL vectors (ANSI divide-by-zero);
    # the ranking portion runs on the real vectors only
    nz = emb.filter("vec_id < 100")
    exact = brute_force_topk(nz, queries, k=8).collect()
    quant = quantized_topk(q.filter("vec_id < 100"), queries, k=8).collect()
    ex = {}; qt = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in quant:
        qt.setdefault(r["query_id"], set()).add(r["vec_id"])
    for qid in ex:
        assert len(ex[qid] & qt[qid]) >= 6  # >= 0.75 overlap at k=8


def test_int8_rescore_paths_and_gate_margins(spark):
    """The int8-rescore ANN paths (VERDICT r6 item 2) plus the UNDERLYING
    scalars behind the pinned-flag driver rows (ADVICE r6): the driver
    gates emit booleans only, so this test computes the raw margins at
    sf0.01 — a regression toward a gate becomes visible locally (with
    the measured value in the failure message) before it can trip the
    driver red.

      * ann_int8_rescore: per-query recall@10 of the int8-rescored
        ann_topk vs the float path (driver gate >= 9/10; sf0.01
        measures 10/10) and near-dup pair-set Jaccard (driver gate
        0.9; sf0.01 measures ~0.984 — local floor 0.92).
      * quantized_topk_recall: per-query n_common (driver gate >= 8;
        local floor: min >= 8 AND mean >= 9 so a one-query slide is
        already loud).
    Candidate sets of the int8 path must be IDENTICAL to the float path
    (bands come from float vectors) — checked exactly, not gated."""
    from zh_ner_tf_spark.operators.dedup import embedding_near_dups
    from zh_ner_tf_spark.operators.similarity import (
        ann_candidate_pairs,
        quantize_embeddings,
        quantized_topk,
    )
    from zh_ner_tf_spark.sources.tables import (
        table_embedding_dim,
        table_row_count,
    )

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    nr = table_row_count(sf, "embeddings")
    dm = table_embedding_dim(sf)
    queries = emb.filter("vec_id < 5").selectExpr(
        "vec_id as query_id", "embedding"
    )

    # identical candidate sets: float vs int8 carry
    cand_f = ann_candidate_pairs(emb, queries, n_rows=nr, dim=dm,
                                 carry_vec=False)
    cand_8 = ann_candidate_pairs(emb, queries, n_rows=nr, dim=dm,
                                 int8_rescore=True)
    set_f = {(r["qid"], r["cid"]) for r in cand_f.collect()}
    set_8 = {(r["qid"], r["cid"]) for r in cand_8.select("qid", "cid").collect()}
    assert set_f == set_8

    # ann_int8_rescore margins
    base = ann_topk(emb, queries, k=10, n_rows=nr, dim=dm)
    q8 = ann_topk(emb, queries, k=10, n_rows=nr, dim=dm, int8_rescore=True)
    bs, qs = {}, {}
    for r in base.collect():
        bs.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in q8.collect():
        qs.setdefault(r["query_id"], set()).add(r["vec_id"])
    common = {k: len(bs[k] & qs.get(k, set())) for k in bs}
    assert min(common.values()) >= 9, f"ann int8 recall margins: {common}"
    nd_f = {(r["src"], r["dst"]) for r in
            embedding_near_dups(emb, threshold=0.3, n_rows=nr, dim=dm)
            .select("src", "dst").collect()}
    nd_8 = {(r["src"], r["dst"]) for r in
            embedding_near_dups(emb, threshold=0.3, n_rows=nr, dim=dm,
                                int8_rescore=True)
            .select("src", "dst").collect()}
    jac = len(nd_f & nd_8) / max(len(nd_f | nd_8), 1)
    assert jac >= 0.92, (
        f"near-dup int8 agreement {jac:.4f} (|float|={len(nd_f)}, "
        f"|int8|={len(nd_8)}, inter={len(nd_f & nd_8)})"
    )

    # quantized_topk_recall margins
    exact = brute_force_topk(emb, queries, k=10)
    quant = quantized_topk(quantize_embeddings(emb), queries, k=10)
    ex, qt = {}, {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in quant.collect():
        qt.setdefault(r["query_id"], set()).add(r["vec_id"])
    ncommon = {k: len(ex[k] & qt.get(k, set())) for k in ex}
    vals = list(ncommon.values())
    assert min(vals) >= 8 and sum(vals) / len(vals) >= 9, (
        f"quantized recall margins: {ncommon}"
    )


def test_ivf_codebook_quality_margin(spark):
    """ADVICE r6 companion for ivf_codebook_quality: the driver row pins
    never_worse (full-corpus refinement >= sample fit, 1e-6 slack) as a
    boolean; here the raw mean-max-cos DELTA is computed and shown, so
    drift toward the slack boundary is visible locally first."""
    import __spark_entry__ as entry
    from zh_ner_tf_spark.operators.similarity import (
        fit_ivf_centroids,
        fit_ivf_centroids_distributed,
    )
    from zh_ner_tf_spark.sources.tables import table_embedding_dim

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dim = table_embedding_dim(sf)
    cent_d = fit_ivf_centroids_distributed(emb, n_centroids=8, iters=2,
                                           dim=dim)
    cent_s = fit_ivf_centroids(emb, n_centroids=8, iters=2)
    delta = (entry._mean_max_cos(emb, cent_d)
             - entry._mean_max_cos(emb, cent_s))
    assert delta >= -1e-6, f"never_worse margin delta={delta:.2e}"


def test_pair_jaccard_ok_empty_and_partial_sets(spark):
    """ADVICE r7: the ann_int8_rescore near-dup agreement gate must be
    well-defined on EMPTY pair sets (sum over zero rows is NULL) and
    compute plain Jaccard otherwise."""
    import __spark_entry__ as entry

    def pairs(rows):
        return spark.createDataFrame(rows or [], "src BIGINT, dst BIGINT")

    empty = pairs(None)
    # both empty -> vacuous agreement, not NULL
    assert entry._pair_jaccard_ok(empty, empty).collect()[0][
        "neardup_ok"] == 1
    # one side empty, other not -> union>0, inter=0 -> not ok
    some = pairs([(1, 2), (3, 4)])
    assert entry._pair_jaccard_ok(some, empty).collect()[0][
        "neardup_ok"] == 0
    # 9/10 overlap -> exactly at the 0.9 gate -> ok
    a = pairs([(i, i + 100) for i in range(10)])
    b = pairs([(i, i + 100) for i in range(9)] + [(99, 999)])
    # union = 11, inter = 9 -> 9 < 0.9*11 -> not ok
    assert entry._pair_jaccard_ok(a, b).collect()[0]["neardup_ok"] == 0
    # identical sets -> ok
    assert entry._pair_jaccard_ok(a, a).collect()[0]["neardup_ok"] == 1


def test_quantize_embeddings_rejects_column_collisions(spark):
    """ADVICE r7: inputs already carrying the working/output column
    names must raise, not be silently clobbered/dropped."""
    from zh_ner_tf_spark.operators.similarity import quantize_embeddings

    base = spark.createDataFrame(
        [(1, [0.5, -0.25])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    for bad in ("_qmaxabs", "qembedding", "qscale"):
        with pytest.raises(ValueError, match=bad):
            quantize_embeddings(base.withColumn(bad, F.lit(0)))
    # non-default names collide too
    with pytest.raises(ValueError, match="codes"):
        quantize_embeddings(
            base.withColumn("codes", F.lit(0)), q_col="codes"
        )
    # and renaming the collision away works
    out = quantize_embeddings(base)
    assert {"qembedding", "qscale"} <= set(out.columns)


def _py_word_ngrams(text, n):
    """Sequential replica of word_ngram_hashes (distinct poly-hashed
    word n-grams, whole-doc fold when shorter than n tokens)."""
    P = 1_000_000_007

    def poly(s):
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % P
        return acc

    toks = [t for t in text.split(" ") if t != ""]
    th = [poly(t) for t in toks]
    if len(th) >= n:
        out = []
        for i in range(len(th) - n + 1):
            acc = th[i]
            for k in range(1, n):
                acc = (acc * 31 + th[i + k]) % P
            out.append(acc)
    else:
        acc = 0
        for h in th:
            acc = (acc * 31 + h) % P
        out = [acc]
    return set(out)


def test_containment_pairs_matches_sequential_replica(spark):
    """containment_pairs == the set-arithmetic replica over every
    ordered pair, including: full containment of a snippet in a
    superset doc (the case Jaccard banding misses), partial overlap,
    df-banned grams excluded from BOTH numerator and denominator, and
    docs sharing nothing absent from the output."""
    from zh_ner_tf_spark.operators.dedup import containment_pairs

    texts = {
        1: "alpha beta gamma delta epsilon zeta",
        2: "intro words alpha beta gamma delta epsilon zeta outro more",
        3: "alpha beta gamma something else entirely here",
        4: "totally unrelated content in this document",
        5: "alpha beta gamma delta epsilon zeta",  # exact dup of 1
    }
    n, maxdf, thr = 2, 3, 100_000
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["src"], r["dst"]): (
            r["shared_grams"], r["src_grams"], r["containment_ppm"]
        )
        for r in containment_pairs(
            docs, n=n, max_gram_df=maxdf, min_containment_ppm=thr
        ).collect()
    }

    grams = {i: _py_word_ngrams(t, n) for i, t in texts.items()}
    from collections import Counter

    df = Counter(g for gs in grams.values() for g in gs)
    banned = {g for g, c in df.items() if c > maxdf}
    pruned = {i: gs - banned for i, gs in grams.items()}
    want = {}
    for a in texts:
        for b in texts:
            if a == b:
                continue
            shared = len(pruned[a] & pruned[b])
            if shared == 0 or len(pruned[a]) == 0:
                continue
            ppm = (1_000_000 * shared) // len(pruned[a])
            if ppm >= thr:
                want[(a, b)] = (shared, len(pruned[a]), ppm)
    assert got == want
    # the asymmetry is real in this fixture: snippet 1 fully contained
    # in superset 2, but not vice versa
    assert got[(1, 2)][2] == 1_000_000 and got[(2, 1)][2] < 1_000_000


def test_bm25_scores_match_hand_formula(spark):
    """bm25_scores == the scalar Lucene-form BM25 computed in plain
    Python on a 4-doc corpus (one doc matching nothing, one empty)."""
    import math

    from zh_ner_tf_spark.operators.search import bm25_scores

    texts = {
        1: "spark query engine for spark jobs",
        2: "query planner",
        3: "nothing relevant here at all friends",
        4: "",
    }
    q = ["spark", "query"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(docs, q).collect()
    }

    toks = {i: [t for t in txt.lower().split() if t] for i, txt in texts.items()}
    dls = {i: len(ts) for i, ts in toks.items() if ts}
    n_docs = len(dls)
    avgdl = sum(dls.values()) / n_docs
    k1, b = 1.2, 0.75
    want = {}
    for i, ts in toks.items():
        if not ts:
            continue
        s = 0.0
        for term in sorted(set(q)):
            tf = ts.count(term)
            if tf == 0:
                continue
            dft = sum(1 for ts2 in toks.values() if term in ts2)
            idf = math.log((n_docs - dft + 0.5) / (dft + 0.5) + 1.0)
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls[i] / avgdl))
        if s > 0.0:
            want[i] = s
    assert set(got) == set(want) == {1, 2}
    for i in want:
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])
    # doc 1 matches both terms twice -> strictly above doc 2
    assert got[1] > got[2]

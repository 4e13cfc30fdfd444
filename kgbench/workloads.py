"""The three workloads. Each generates its inputs from the seed, stages
them, then runs a closed loop with one client (the next operation starts
only after the previous one has finished) until ``seconds`` have passed,
and checks every output. Set-up ends, and ``setup_end`` is taken, before
the first timed operation."""

from __future__ import annotations

import bisect
import contextlib
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import checks
import gen

# batch_build: one crawl slice
BATCH_PAGES = 800
BATCH_FAMILIES = 800
# entity_resolve: surfaces, mention rows and triple rows
RESOLVE_FAMILIES = 9000
RESOLVE_SHARED_SUFFIX = 600
RESOLVE_MENTIONS = 300_000
RESOLVE_TRIPLES = 150_000
# crawl_increments: base snapshot, then increments of INC_PAGES
CRAWL_FAMILIES = 4000
CRAWL_BASE_PAGES = 100
CRAWL_BASE_VISIBLE = 0.2
INC_PAGES = 100
INC_FRESH = 0.08
KEEP_GRAPH_SNAPSHOTS = 2
COMPACT_DELTAS_EVERY = 2
N_BUCKETS = 4
RELINK_MIN_SCORE = 600_000


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    workdir: str
    rss: object
    tracer: object = None


def _op_span(ctx: Context, name: str):
    return ctx.tracer.span(name) if ctx.tracer else contextlib.nullcontext({})


def _cluster_check(node_rows: list[tuple]) -> tuple[list[str], dict]:
    """``checks.check_clusters`` with the program's similarity threshold
    and MinHash-LSH parameters (hash family, bands, prime)."""
    from zh_ner_tf_spark.config import (JACCARD_THRESHOLD, MINHASH_BANDS,
                                        MINHASH_NUM_HASHES, MINHASH_PRIME, SEED)
    from zh_ner_tf_spark.functions.hashing import hash_family

    return checks.check_clusters(
        node_rows, JACCARD_THRESHOLD, hash_family(MINHASH_NUM_HASHES, SEED),
        MINHASH_BANDS, MINHASH_PRIME)


def _warm_python_workers(spark) -> None:
    """Start one Python worker per core (the tagger and sketch UDFs reuse
    them) so the first timed operation does not pay their start-up."""
    n = spark.sparkContext.defaultParallelism

    def touch(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    spark.range(0, n * 64, 1, n).mapInPandas(touch, "id long").count()


def _timed_loop(ctx: Context, op) -> tuple[list[float], int, int, list]:
    """Closed loop: call ``op()`` until ``ctx.seconds`` have passed
    (at least once). ``op`` returns (seconds, outputs); an exception
    counts as a failed operation. Returns (op seconds, attempted,
    failed, outputs)."""
    times, outputs, attempted, failed = [], [], 0, 0
    deadline = time.perf_counter() + ctx.seconds
    while attempted == 0 or time.perf_counter() < deadline:
        attempted += 1
        try:
            dt, out = op()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
            continue
        times.append(dt)
        outputs.append(out)
    return times, attempted, failed, outputs


def _result(setup_end, times, attempted, failed, rows_per_op,
            failures, check_stats, **extra) -> dict:
    return {"setup_end": setup_end, "op_s": times, "attempted": attempted,
            "failed": failed, "rows_per_op": rows_per_op,
            "failures": failures, "checks": check_stats, **extra}


# ---------------------------------------------------------------- batch_build
def batch_build(ctx: Context) -> dict:
    from zh_ner_tf_spark import pipeline

    spark = ctx.spark
    rng = random.Random(ctx.seed)
    pool = gen.SurfacePool(rng, BATCH_FAMILIES)
    sampler = gen.SurfaceSampler(pool)
    rows, planted = gen.gen_pages(rng, BATCH_PAGES, lambda t: sampler.draw(rng, t))
    word2id, class_of = gen.build_vocab()
    weights = gen.reference_shape_weights(word2id, class_of)
    path = os.path.join(ctx.workdir, "pages")
    spark.createDataFrame(rows, gen.pages_schema()).repartition(8).write.parquet(path)
    _warm_python_workers(spark)
    setup_end = time.time()

    def op():
        with _op_span(ctx, "op"):
            t = time.perf_counter()
            out = pipeline.run_pipeline(spark, spark.read.parquet(path),
                                        weights, word2id, lang="zh")
            nodes = out["nodes"].localCheckpoint()
            edges = out["edges"].localCheckpoint()
            dt = time.perf_counter() - t
        triples = [tuple(r) for r in out["triples"].select(
            "url", "sent_id", "subj", "pred", "obj").collect()]
        node_rows = [tuple(r) for r in nodes.collect()]
        fails = checks.check_batch(
            triples, node_rows, [tuple(r) for r in edges.collect()], planted)
        cluster_fails, stats = _cluster_check(node_rows)
        return dt, (fails + cluster_fails, stats)

    times, attempted, failed, outs = _timed_loop(ctx, op)
    peak = ctx.rss.peak_mb
    stats = outs[-1][1] if outs else {}
    stats.update(pages=BATCH_PAGES, zh_mentions=planted["mentions"],
                 golden_triples=len(planted["triples"]), pool_surfaces=len(pool))
    return _result(setup_end, times, attempted, failed, BATCH_PAGES,
                   [f for fs, _ in outs for f in fs], stats, peak_rss_mb=peak)


# ------------------------------------------------------------- entity_resolve
def _zipf_rank(n: int, salt: int, seed: int):
    """JVM-side rank in [0, n-2] with P(rank <= r) ~ ln(r + 1) / ln(n)
    (Zipf with exponent 1), from a seeded hash of the row id."""
    import math

    from pyspark.sql import functions as F

    u = F.pmod(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)),
               F.lit(1 << 52)) / float(1 << 52)
    return (F.floor(F.exp(u * math.log(n))) - 1).cast("long")


def entity_resolve(ctx: Context) -> dict:
    import pandas as pd
    from pyspark.sql import functions as F

    from zh_ner_tf_spark import pipeline

    spark = ctx.spark
    rng = random.Random(ctx.seed)
    pool = gen.SurfacePool(rng, RESOLVE_FAMILIES, shared_suffix=RESOLVE_SHARED_SUFFIX)
    # popularity order across all types; row i < n_surf names surface i
    # once, so every surface occurs and the node count is known
    everyone = [s for t in gen.ETYPES for s in pool.order[t]]
    rng.shuffle(everyone)
    n_surf = len(everyone)
    surf = spark.createDataFrame(pd.DataFrame({
        "rank": range(n_surf), "mention": everyone,
        "etype": [pool.etype_of[s] for s in everyone]}))
    subjects = pool.order["PER"]
    objects = pool.order["ORG"] + pool.order["LOC"]
    rng.shuffle(objects)
    subj_tab = spark.createDataFrame(pd.DataFrame(
        {"srank": range(len(subjects)), "subj": subjects}))
    obj_tab = spark.createDataFrame(pd.DataFrame(
        {"orank": range(len(objects)), "obj": objects}))
    seed = ctx.seed
    mentions = (
        spark.range(0, RESOLVE_MENTIONS, 1, 8)
        .withColumn("rank", F.when(F.col("id") < n_surf, F.col("id"))
                    .otherwise(_zipf_rank(n_surf, 1, seed)))
        .join(F.broadcast(surf), "rank")
        .select(F.concat(F.lit("https://m.example/"), (F.col("id") % 50_000)
                         .cast("string")).alias("url"),
                (F.col("id") % 7).cast("int").alias("sent_id"),
                "mention", "etype")
    )
    preds = F.array(*[F.lit(p) for p in gen.PREDICATES])
    triples = (
        spark.range(0, RESOLVE_TRIPLES, 1, 8)
        .withColumn("srank", _zipf_rank(len(subjects), 2, seed))
        .withColumn("orank", _zipf_rank(len(objects), 3, seed))
        .join(F.broadcast(subj_tab), "srank")
        .join(F.broadcast(obj_tab), "orank")
        .select("subj",
                F.element_at(preds, (F.pmod(F.xxhash64("id", F.lit(seed)),
                                            F.lit(len(gen.PREDICATES))) + 1)
                             .cast("int")).alias("pred"),
                "obj")
    )
    m_path = os.path.join(ctx.workdir, "mentions")
    t_path = os.path.join(ctx.workdir, "triples")
    mentions.write.parquet(m_path)
    triples.write.parquet(t_path)
    _warm_python_workers(spark)
    setup_end = time.time()

    def op():
        with _op_span(ctx, "op"):
            t = time.perf_counter()
            nodes, edges = pipeline.graph_from_mentions(
                spark.read.parquet(m_path), spark.read.parquet(t_path))
            nodes = nodes.localCheckpoint()
            edges = edges.localCheckpoint()
            dt = time.perf_counter() - t
        weight = edges.agg(F.sum("weight")).first()[0]
        return dt, ([tuple(r) for r in nodes.collect()], int(weight or 0))

    times, attempted, failed, outs = _timed_loop(ctx, op)
    peak = ctx.rss.peak_mb
    failures, stats = [], {}
    for node_rows, weight in outs:
        cluster_fails, stats = _cluster_check(node_rows)
        failures += checks.check_resolve(
            node_rows, weight, RESOLVE_MENTIONS, RESOLVE_TRIPLES,
            pool.etype_of) + cluster_fails
    stats.update(surfaces=n_surf, mentions=RESOLVE_MENTIONS,
                 triples=RESOLVE_TRIPLES)
    return _result(setup_end, times, attempted, failed, RESOLVE_MENTIONS,
                   failures, stats, peak_rss_mb=peak)


# ----------------------------------------------------------- crawl_increments
def crawl_increments(ctx: Context) -> dict:
    from zh_ner_tf_spark import pipeline
    from zh_ner_tf_spark.sources import sinks
    from tracing import tree_files, written

    spark = ctx.spark
    rng = random.Random(ctx.seed)
    pool = gen.SurfacePool(rng, CRAWL_FAMILIES)
    visible = {t: max(1, int(len(pool.order[t]) * CRAWL_BASE_VISIBLE))
               for t in gen.ETYPES}
    sampler = gen.SurfaceSampler(pool, visible)

    # base: Zipf draws over the visible prefix of the pool; increments:
    # a fresh (never drawn) surface with probability INC_FRESH, else a
    # Zipf draw over the surfaces seen so far, in popularity order
    rank = {s: i for t in gen.ETYPES for i, s in enumerate(pool.order[t])}
    drawn: set[str] = set()
    seen: set[str] = set()
    old: dict[str, list[str]] = {}
    old_cum: dict[str, list[float]] = {}

    def pick(t):
        s = None
        if not old:
            s = sampler.draw(rng, t)
        elif rng.random() < INC_FRESH:
            s = sampler.fresh(t)
        if s is None:
            lst, cum = old[t], old_cum[t]
            s = lst[min(bisect.bisect_right(cum, rng.random() * cum[-1]), len(lst) - 1)]
        drawn.add(s)
        return s

    word2id, class_of = gen.build_vocab()
    weights = gen.reference_shape_weights(word2id, class_of)
    pages_table = os.path.join(ctx.workdir, "pages")
    graph_root = os.path.join(ctx.workdir, "graph")
    schema = gen.pages_schema()
    links_conf = {"min_score_ppm": RELINK_MIN_SCORE}
    golden = 0
    consumed = 0
    processed, sizes, new_share = [], [], []

    def append(n_pages):
        nonlocal golden
        drawn.clear()
        rows, planted = gen.gen_pages(rng, n_pages, pick, start=consumed,
                                      tag=f"s{ctx.seed}")
        golden += len(planted["triples"])
        new_share.append(len(drawn - seen) / len(drawn))
        seen.update(drawn)
        for t in gen.ETYPES:
            old[t] = sorted((s for s in seen if pool.etype_of[s] == t), key=rank.get)
            old_cum[t] = gen.zipf_cum(len(old[t]))
        with _op_span(ctx, "sinks.append") as rec:
            if ctx.tracer:
                files0 = tree_files(pages_table)
            sinks.snapshot_append(spark.createDataFrame(rows, schema), pages_table)
            if ctx.tracer:
                rec["files_written"], rec["bytes_written"] = written(
                    files0, tree_files(pages_table))
        return n_pages

    def consume():
        return pipeline.run_incremental(
            spark, pages_table, graph_root, weights, word2id, lang="zh",
            keep_graph_snapshots=KEEP_GRAPH_SNAPSHOTS,
            compact_deltas_every=COMPACT_DELTAS_EVERY,
            maintain_links=links_conf, n_buckets=N_BUCKETS)

    consumed += append(CRAWL_BASE_PAGES)
    base = consume()
    processed.append(base["processed_pages"])
    sizes.append(CRAWL_BASE_PAGES)
    setup_end = time.time()

    def op():
        nonlocal consumed
        n = append(INC_PAGES)
        with _op_span(ctx, "increment") as rec:
            if ctx.tracer:
                files0 = tree_files(graph_root)
            t = time.perf_counter()
            res = consume()
            dt = time.perf_counter() - t
            if ctx.tracer:
                rec["files_written"], rec["bytes_written"] = written(
                    files0, tree_files(graph_root))
        consumed += n
        processed.append(res["processed_pages"])
        sizes.append(n)
        return dt, None

    times, attempted, failed, _ = _timed_loop(ctx, op)
    peak = ctx.rss.peak_mb
    store_bytes = sum(tree_files(graph_root).values())

    # checks (untimed): the published graph against a batch rebuild
    def rows_of(df, cols):
        return [tuple(r) for r in df.select(*cols).collect()]

    ncols = ["canon_id", "surface", "etype", "freq"]
    ecols = ["src", "dst", "pred", "weight"]
    pub_nodes = rows_of(sinks.read_snapshot(spark, os.path.join(graph_root, "nodes")), ncols)
    pub_edges = rows_of(sinks.read_snapshot(spark, os.path.join(graph_root, "edges")), ecols)
    full = pipeline.run_pipeline(spark, sinks.read_snapshot(spark, pages_table),
                                 weights, word2id, lang="zh")
    # edges are resolved from the nodes plan: cache it so the rebuild's
    # graph tail runs once for both collects
    full_nodes = rows_of(full["nodes"].persist(), ncols)
    full_edges = rows_of(full["edges"], ecols)
    full["nodes"].unpersist()
    links = {r[0]: (r[1], r[2]) for r in sinks.read_snapshot(
        spark, os.path.join(graph_root, "state", "links")).select(
        "surface", "canon_id", "score_ppm").collect()}
    failures = checks.check_increments(
        processed, sizes, pub_nodes, pub_edges, full_nodes, full_edges,
        golden, links)
    cluster_fails, cluster_stats = _cluster_check(pub_nodes)
    failures += cluster_fails
    if ctx.tracer:
        with ctx.tracer.span("linking.relink") as rec:
            surfaces = spark.createDataFrame(
                [(s,) for s in sorted({n[1] for n in pub_nodes})], "surface string")
            rec["rows"] = pipeline.link_surfaces_to_graph(
                spark, graph_root, surfaces,
                min_score_ppm=RELINK_MIN_SCORE).localCheckpoint().count()
    stats = {**cluster_stats, "pages": consumed, "increments": len(times),
             "golden_triples": golden, "nodes": len(pub_nodes),
             "new_surface_share": statistics.mean(new_share[1:]) if len(new_share) > 1 else None,
             "store_bytes": store_bytes}
    return _result(setup_end, times, attempted, failed, INC_PAGES,
                   failures, stats, peak_rss_mb=peak,
                   store_bytes_per_page=store_bytes / consumed)


WORKLOADS = {
    "batch_build": batch_build,
    "entity_resolve": entity_resolve,
    "crawl_increments": crawl_increments,
}


def layer_metrics(tracer, res: dict, session_s: float) -> dict:
    """Per-layer metrics of a traced run: per-operation medians of span
    self-contained totals, plus engine-wide counts per operation."""
    ops = [s for s in tracer.spans if s["name"] in ("op", "increment")]

    def per_op(name, field=None, self_time=False):
        vals = []
        for op in ops:
            spans = [s for s in tracer.within(op) if s["name"] == name]
            if name == op["name"]:
                spans = [op]
            if field is None:
                vals.append(sum(tracer.self_time(s) if self_time
                                else s["end"] - s["start"] for s in spans))
            elif field.startswith("spark."):
                vals.append(sum(s["spark"][field[6:]] for s in spans))
            else:
                vals.append(sum(s.get(field, 0) or 0 for s in spans))
        return statistics.median(vals) if vals else 0.0

    # the first append is the base snapshot, consumed during set-up
    appends = [s for s in tracer.spans if s["name"] == "sinks.append"][1:]
    relink = [s for s in tracer.spans if s["name"] == "linking.relink"]
    tagger_s = per_op("tagger")
    tagger_chars = per_op("tagger", "chars")
    cand = per_op("blocking.band_join", "candidates")
    verified = per_op("blocking", "rows")
    op_name = ops[0]["name"] if ops else "op"
    wall = per_op(op_name)
    cpu = per_op(op_name, "spark.executor_cpu_s")
    py_cpu = per_op(op_name, "spark.python_worker_cpu_s")
    slots = tracer.counters.sc.defaultParallelism
    m = {
        "extract_text.s": (per_op("extract_text"), "s"),
        "extract_text.rows": (per_op("extract_text", "rows"), "rows"),
        "sentences.s": (per_op("sentences"), "s"),
        "sentences.rows": (per_op("sentences", "rows"), "rows"),
        "tagger.s": (tagger_s, "s"),
        "tagger.chars": (tagger_chars, "chars"),
        "tagger.chars_per_s": (tagger_chars / tagger_s if tagger_s else 0.0, "chars/s"),
        "triples.s": (per_op("triples"), "s"),
        "triples.rows": (per_op("triples", "rows"), "rows"),
        "pipeline.graph_tail_s": (per_op("graph_tail"), "s"),
        "skew.salted_agg_s": (per_op("skew.salted_agg"), "s"),
        "skew.hot_keys": (per_op("skew.census", "rows"), "keys"),
        "blocking.s": (per_op("blocking"), "s"),
        "blocking.candidates": (cand, "pairs"),
        "blocking.verified_pairs": (verified, "pairs"),
        "blocking.pairs_per_candidate": (verified / cand if cand else 0.0, "ratio"),
        "components.s": (per_op("components"), "s"),
        "components.jobs": (per_op("components", "spark.jobs"), "jobs"),
        "components.nodes": (per_op("components", "rows"), "nodes"),
        "pipeline.edge_resolve_s": (per_op("graph_tail", self_time=True), "s"),
        "sinks.append_s": (_median([s["end"] - s["start"] for s in appends]), "s"),
        "sinks.files_written": (_median([s.get("files_written", 0) for s in appends]), "files"),
        "sinks.bytes_written": (_median([s.get("bytes_written", 0) for s in appends]), "bytes"),
        "increment.jobs": (per_op("increment", "spark.jobs"), "jobs"),
        "increment.tasks": (per_op("increment", "spark.tasks"), "tasks"),
        "increment.files_written": (per_op("increment", "files_written"), "files"),
        "increment.bytes_written": (per_op("increment", "bytes_written"), "bytes"),
        "store.bytes_per_page": (res.get("store_bytes_per_page") or 0.0, "bytes/page"),
        "linking.relink_s": (_median([s["end"] - s["start"] for s in relink]), "s"),
        "spark.jobs": (per_op(op_name, "spark.jobs"), "jobs"),
        "spark.tasks": (per_op(op_name, "spark.tasks"), "tasks"),
        "spark.shuffle_write_bytes": (per_op(op_name, "spark.shuffle_write_bytes"), "bytes"),
        "spark.shuffle_read_bytes": (per_op(op_name, "spark.shuffle_read_bytes"), "bytes"),
        "spark.spill_bytes": (per_op(op_name, "spark.spill_bytes"), "bytes"),
        "spark.executor_cpu_s": (cpu, "s"),
        "spark.python_worker_cpu_s": (py_cpu, "s"),
        "spark.busy_frac": ((cpu + py_cpu) / (wall * slots) if wall else 0.0, "frac"),
        "session.start_s": (session_s, "s"),
        "process.peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "op.wall_s": (wall, "s"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def _median(vals):
    return statistics.median(vals) if vals else 0.0

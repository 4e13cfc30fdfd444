"""Checkpoint/lineage/resume gate (SURVEY.md §5.2 layer 6): run a stage,
simulate a crash that loses part of the input's commits, rerun, and
assert no duplicate rows and identical final output."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from zh_ner_tf_spark.plans.lineage import (
    read_manifest,
    resume_filter,
    run_stage_with_lineage,
    stage_metrics,
)


def _transform(df):
    # a representative stage: project + derive
    return df.select(
        "_bucket", "doc_id", F.length("text").alias("n"), (F.col("doc_id") * 2).alias("k")
    )


@pytest.fixture()
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )


def test_full_run_then_rerun_is_idempotent(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    r1 = run_stage_with_lineage(
        docs, _transform, spark, "stage1", "doc_id", out, man, n_buckets=8
    )
    n1 = r1.count()
    assert n1 == docs.count()
    # second run: nothing pending, output unchanged
    r2 = run_stage_with_lineage(
        docs, _transform, spark, "stage1", "doc_id", out, man, n_buckets=8
    )
    assert r2.count() == n1
    m = read_manifest(spark, man)
    assert m.count() == 8  # one commit row per bucket, no re-commits


def test_partial_crash_resume_no_duplicates(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    # First run commits everything; simulate a crash that had only
    # committed buckets {0..3} by rewriting the manifest filtered.
    run_stage_with_lineage(
        docs, _transform, spark, "s", "doc_id", out, man, n_buckets=8
    )
    full = read_manifest(spark, man)
    partial = full.filter(F.col("bucket") < 4)
    man2 = str(tmp_path / "manifest2")
    partial.coalesce(1).write.mode("overwrite").parquet(man2)

    # resume_filter must select exactly the uncommitted buckets
    pending = resume_filter(docs, spark, man2, "s", "doc_id", 8)
    pending_buckets = {
        r["_bucket"] for r in pending.select("_bucket").distinct().collect()
    }
    assert pending_buckets == {4, 5, 6, 7}

    # rerun against the partial manifest: re-processes only 4..7,
    # overwrites their partitions in place -> final output identical
    r = run_stage_with_lineage(
        docs, _transform, spark, "s", "doc_id", out, man2, n_buckets=8
    )
    assert r.count() == docs.count()
    got = {(x["doc_id"], x["n"], x["k"]) for x in r.collect()}
    want = {
        (x["doc_id"], x["n"], x["k"]) for x in _transform(
            docs.withColumn("_bucket", F.lit(0))
        ).collect()
    }
    assert got == want
    metrics = {r["stage"]: r for r in stage_metrics(spark, man2).collect()}
    assert metrics["s"]["n_buckets"] == 8
    assert metrics["s"]["rows_out"] == docs.count()


def test_resumable_tagger_stage_end_to_end(spark, tmp_path):
    """Exact resume wired around the REAL extract stage: pages ->
    sentences -> tagger mentions, bucket-committed; a crash that loses
    half the manifest re-processes only the missing buckets and the final
    mentions table is identical to an uninterrupted run."""
    from zh_ner_tf_spark.fixtures.corpus import planted_weights
    from zh_ner_tf_spark.fixtures.pages import (
        gen_pages,
        oracle_extract_text,
        pages_schema,
    )
    from zh_ner_tf_spark.operators.tagger import broadcast_model, tag_sentences
    from zh_ner_tf_spark.oracle import normalize_token
    from zh_ner_tf_spark.pipeline import pages_to_mentions

    rows = gen_pages(200, seed=42)
    word2id = {"<PAD>": 0}
    for r in rows:
        text = r["text"] if r["text"] is not None else oracle_extract_text(r["html"])
        for ch in text:
            word2id.setdefault(normalize_token(ch), len(word2id))
    for t in ("<NUM>", "<ENG>", "<UNK>"):
        word2id.setdefault(t, len(word2id))
    weights = planted_weights(word2id)
    wb, vb = broadcast_model(spark, weights, word2id)
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        schema=pages_schema(),
    )

    def mentions_stage(pending):
        # pending carries _bucket; run the real extract prefix on it
        sents, mentions = pages_to_mentions(pending.drop("_bucket"), wb, vb, "zh")
        keyed = pending.select("url", "_bucket")
        return mentions.join(keyed, "url")

    out = str(tmp_path / "mentions")
    man = str(tmp_path / "manifest")
    full = run_stage_with_lineage(
        pages, mentions_stage, spark, "extract", "url", out, man, n_buckets=8
    )
    want = {
        (r["url"], r["sent_id"], r["mention"], r["begin"]) for r in full.collect()
    }
    assert len(want) > 100

    # crash simulation: only buckets 0..3 committed
    partial = read_manifest(spark, man).filter(F.col("bucket") < 4)
    man2 = str(tmp_path / "manifest2")
    partial.coalesce(1).write.mode("overwrite").parquet(man2)
    resumed = run_stage_with_lineage(
        pages, mentions_stage, spark, "extract", "url", out, man2, n_buckets=8
    )
    got = {
        (r["url"], r["sent_id"], r["mention"], r["begin"]) for r in resumed.collect()
    }
    assert got == want


def test_snapshot_append_time_travel_and_isolation(spark, tmp_path):
    """Snapshot-manifest table emulation (Iceberg snapshot log): appends
    create numbered snapshots, time travel reads any committed snapshot,
    and a crashed write's orphan data dir is invisible to readers."""
    from zh_ner_tf_spark.sources.sinks import (
        committed_snapshots,
        read_snapshot,
        snapshot_append,
    )

    path = str(tmp_path / "nodes_tbl")
    df1 = spark.range(5).select(F.col("id"), F.lit("a").alias("tag"))
    df2 = spark.range(5, 8).select(F.col("id"), F.lit("b").alias("tag"))
    s1 = snapshot_append(df1, path)
    s2 = snapshot_append(df2, path)
    assert (s1, s2) == (1, 2) and committed_snapshots(path) == [1, 2]
    assert read_snapshot(spark, path).count() == 8           # latest
    assert read_snapshot(spark, path, 1).count() == 5        # time travel
    ids1 = {r["id"] for r in read_snapshot(spark, path, 1).collect()}
    assert ids1 == set(range(5))
    # a writer that dies after writing data but BEFORE the manifest
    # rename leaves an orphan dir no reader sees
    orphan = str(tmp_path / "nodes_tbl" / "data" / "snap-000099")
    spark.range(100, 200).select(
        F.col("id"), F.lit("crash").alias("tag")
    ).write.parquet(orphan)
    assert committed_snapshots(path) == [1, 2]
    assert read_snapshot(spark, path).count() == 8
    import pytest as _pytest
    with _pytest.raises(ValueError):
        read_snapshot(spark, path, 99)


def test_snapshot_compaction_preserves_rows_and_history(spark, tmp_path):
    """Compaction rewrites the live snapshot into few files, preserves
    every row, references only the compacted directory, and leaves the
    pre-compaction snapshots time-travel-readable."""
    from zh_ner_tf_spark.sources.sinks import (
        committed_snapshots,
        read_snapshot,
        snapshot_append,
        snapshot_compact,
    )

    path = str(tmp_path / "tbl")
    for lo, hi in ((0, 4), (4, 9), (9, 15)):
        snapshot_append(
            spark.range(lo, hi).select(F.col("id")).repartition(3), path
        )
    before = {r["id"] for r in read_snapshot(spark, path).collect()}
    sid = snapshot_compact(spark, path, target_partitions=1)
    assert committed_snapshots(path)[-1] == sid == 4
    after_df = read_snapshot(spark, path)
    assert {r["id"] for r in after_df.collect()} == before == set(range(15))
    # single compacted data dir, one parquet file
    assert after_df.rdd.getNumPartitions() == 1
    # history intact: snapshot 2 still reads the first two appends only
    assert {r["id"] for r in read_snapshot(spark, path, 2).collect()} == set(range(9))


def test_snapshot_append_survives_commit_race(spark, tmp_path, monkeypatch):
    """CAS commit: when another writer claims the next snapshot id
    first, snapshot_append retries against the refreshed head instead of
    clobbering the winner's manifest; compaction refuses and asks for a
    re-run."""
    import json
    import os

    from zh_ner_tf_spark.sources.sinks import (
        committed_snapshots,
        read_snapshot,
        snapshot_append,
        snapshot_compact,
    )

    path = str(tmp_path / "tbl")
    snapshot_append(spark.range(3), path)
    # a rival writer publishes snapshot 2 out from under us
    rival_dir = os.path.join(path, "data", "rival")
    spark.range(100, 103).write.parquet(rival_dir)
    with open(os.path.join(path, "snapshots", "1.json")) as f:
        prev = json.load(f)["data_dirs"]
    with open(os.path.join(path, "snapshots", "2.json"), "w") as f:
        json.dump({"snapshot_id": 2, "parent_id": 1,
                   "data_dirs": prev + [rival_dir]}, f)
    sid = snapshot_append(spark.range(200, 202), path)
    assert sid == 3 and committed_snapshots(path) == [1, 2, 3]
    ids = {r["id"] for r in read_snapshot(spark, path).collect()}
    assert ids == {0, 1, 2, 100, 101, 102, 200, 201}  # nobody's rows lost
    # compaction CAS: a rival commits id 4 BETWEEN compaction's read of
    # the head (stale: 3) and its manifest commit — simulated by pinning
    # compaction's view of the snapshot list while 4.json appears
    import zh_ner_tf_spark.sources.sinks as sinks

    with open(os.path.join(path, "snapshots", "4.json"), "w") as f:
        json.dump({"snapshot_id": 4, "parent_id": 3,
                   "data_dirs": prev}, f)
    monkeypatch.setattr(sinks, "committed_snapshots", lambda p: [1, 2, 3])
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="re-run compaction"):
        sinks.snapshot_compact(spark, path)


def test_snapshot_diff_incremental_reads(spark, tmp_path):
    """snapshot_diff reads exactly the rows appended in the range (the
    incremental-consumption contract), returns empty for an empty range,
    and refuses to diff across a compaction (double-count hazard)."""
    import pytest as _pytest

    from zh_ner_tf_spark.sources.sinks import (
        snapshot_append,
        snapshot_compact,
        snapshot_diff,
    )

    path = str(tmp_path / "tbl")
    snapshot_append(spark.range(0, 3), path)      # snap 1
    snapshot_append(spark.range(3, 7), path)      # snap 2
    snapshot_append(spark.range(7, 8), path)      # snap 3
    assert {r["id"] for r in snapshot_diff(spark, path, 1).collect()} == set(range(3, 8))
    assert {r["id"] for r in snapshot_diff(spark, path, 1, 2).collect()} == {3, 4, 5, 6}
    assert snapshot_diff(spark, path, 3, 3).count() == 0
    snapshot_compact(spark, path, target_partitions=1)   # snap 4 rewrites
    with _pytest.raises(ValueError, match="re-baseline"):
        snapshot_diff(spark, path, 2, 4)
    # post-compaction appends diff cleanly from the compacted base
    snapshot_append(spark.range(100, 102), path)  # snap 5
    assert {r["id"] for r in snapshot_diff(spark, path, 4).collect()} == {100, 101}


def test_snapshot_lineage_compose_kill_resume_time_travel(spark, tmp_path):
    """The unified sink (snapshot_stage_with_lineage): a graph write
    killed mid-stage leaves the table readable at its previous snapshot;
    the resumed run recomputes ONLY the uncommitted buckets and then
    publishes atomically; the final table equals an uninterrupted run;
    the old snapshot stays time-travel-readable."""
    import os

    from zh_ner_tf_spark.plans.lineage import (
        bucket_col,
        read_manifest,
        run_stage_with_lineage,
    )
    from zh_ner_tf_spark.sources.sinks import (
        committed_snapshots,
        read_snapshot,
        snapshot_append,
        snapshot_stage_with_lineage,
    )

    path = str(tmp_path / "nodes_tbl")
    nb = 8
    old = spark.range(1000, 1010).select(
        F.col("id").alias("canon_id"), F.lit("old").alias("surface"),
        F.lit("PER").alias("etype"), F.lit(1).alias("freq"),
    )
    assert snapshot_append(old, path) == 1  # previous crawl increment

    nodes = spark.range(0, 200).select(
        F.col("id").alias("canon_id"),
        F.concat(F.lit("s"), F.col("id")).alias("surface"),
        F.lit("ORG").alias("etype"), (F.col("id") % 7).alias("freq"),
    )

    # --- kill mid-graph-write: only half the buckets get committed (the
    # exact on-disk state a killed writer leaves), no snapshot publishes
    half = nodes.filter(bucket_col("canon_id", nb) < nb // 2)
    data_dir = os.path.join(path, "data", "stage-inc2")
    man_dir = os.path.join(path, "lineage", "inc2")
    run_stage_with_lineage(
        half, lambda p: p, spark, "inc2", "canon_id", data_dir, man_dir, nb
    )
    assert committed_snapshots(path) == [1]          # table untouched
    assert read_snapshot(spark, path).count() == 10  # old snapshot serves

    # --- resume: the SAME call a fresh run makes; must recompute only
    # the pending buckets, then publish snapshot 2
    sid, _ = snapshot_stage_with_lineage(
        nodes, spark, path, "inc2", "canon_id", nb
    )
    assert sid == 2 and committed_snapshots(path) == [1, 2]
    m = read_manifest(spark, man_dir)
    assert m.count() == nb                            # one commit per bucket
    runs = {r["run_id"] for r in m.select("run_id").distinct().collect()}
    assert len(runs) == 2                             # kill run + resume run
    resumed_buckets = {
        r["bucket"]
        for r in m.filter(~F.col("run_id").isin(*[
            x["run_id"] for x in m.filter(F.col("bucket") < nb // 2)
            .select("run_id").collect()
        ])).select("bucket").collect()
    }
    assert resumed_buckets == set(range(nb // 2, nb))  # only pending redone

    # --- final table identical to an uninterrupted run
    clean_path = str(tmp_path / "clean_tbl")
    snapshot_append(old, clean_path)
    snapshot_stage_with_lineage(nodes, spark, clean_path, "inc2", "canon_id", nb)
    key = lambda r: (r["canon_id"], r["surface"], r["etype"], r["freq"])  # noqa: E731
    got = sorted(key(r) for r in read_snapshot(spark, path).collect())
    want = sorted(key(r) for r in read_snapshot(spark, clean_path).collect())
    assert got == want and len(got) == 210

    # --- time travel: the pre-kill snapshot still reads exactly old rows
    assert {r["surface"] for r in read_snapshot(spark, path, 1).collect()} == {"old"}

    # --- idempotence: re-running the completed stage changes nothing
    sid2, _ = snapshot_stage_with_lineage(nodes, spark, path, "inc2", "canon_id", nb)
    assert sid2 == 2 and committed_snapshots(path) == [1, 2]
    assert read_manifest(spark, man_dir).count() == nb


def test_materialize_graph_snapshots_nodes_and_edges(spark, tmp_path):
    """materialize_graph publishes both graph tables through the unified
    sink: one committed snapshot each, rows round-trip, and the lineage
    manifests carry one commit per non-empty bucket."""
    from zh_ner_tf_spark.pipeline import materialize_graph
    from zh_ner_tf_spark.sources.sinks import read_snapshot

    outputs = {
        "nodes": spark.range(0, 50).select(
            F.col("id").alias("canon_id"),
            F.concat(F.lit("n"), F.col("id")).alias("surface"),
            F.lit("PER").alias("etype"), F.lit(2).alias("freq"),
        ),
        "edges": spark.range(0, 30).select(
            (F.col("id") % 10).alias("src"), (F.col("id") % 3).alias("dst"),
            F.lit("works_for").alias("pred"), F.lit(1).alias("weight"),
        ),
    }
    root = str(tmp_path / "graph")
    sids = materialize_graph(spark, outputs, root, stage="t", n_buckets=4)
    assert sids == {"nodes": 1, "edges": 1}
    nodes = read_snapshot(spark, f"{root}/nodes")
    edges = read_snapshot(spark, f"{root}/edges")
    assert nodes.count() == 50 and edges.count() == 30
    assert {r["surface"] for r in nodes.collect()} == {f"n{i}" for i in range(50)}


def test_snapshot_stage_with_lineage_empty_input(spark, tmp_path):
    """First call with an empty input publishes a valid EMPTY snapshot
    (schema-carrying), not a missing-path failure; a later real
    increment under a new stage appends normally."""
    from zh_ner_tf_spark.sources.sinks import (
        read_snapshot,
        snapshot_stage_with_lineage,
    )

    path = str(tmp_path / "tbl")
    empty = spark.range(0).select(
        F.col("id").alias("canon_id"), F.lit("x").alias("surface")
    )
    sid, out = snapshot_stage_with_lineage(empty, spark, path, "s1", "canon_id", 4)
    assert sid == 1 and out.count() == 0
    assert read_snapshot(spark, path).count() == 0
    full = spark.range(5).select(
        F.col("id").alias("canon_id"), F.lit("y").alias("surface")
    )
    sid2, _ = snapshot_stage_with_lineage(full, spark, path, "s2", "canon_id", 4)
    assert sid2 == 2 and read_snapshot(spark, path).count() == 5
    assert read_snapshot(spark, path, 1).count() == 0


def test_empty_then_nonempty_same_stage_resumes_cleanly(spark, tmp_path):
    """Review regression: a stage first run with an EMPTY input writes a
    root-level empty marker; re-running the SAME stage with rows must
    clear the marker and produce the normal bucket-partitioned layout
    (previously the mixed layout wedged every future read)."""
    from zh_ner_tf_spark.sources.sinks import (
        read_snapshot,
        snapshot_stage_with_lineage,
    )

    path = str(tmp_path / "tbl")
    empty = spark.range(0).select(
        F.col("id").alias("canon_id"), F.lit("x").alias("surface")
    )
    sid1, _ = snapshot_stage_with_lineage(empty, spark, path, "s", "canon_id", 4)
    assert sid1 == 1
    full = spark.range(8).select(
        F.col("id").alias("canon_id"), F.lit("y").alias("surface")
    )
    sid2, out = snapshot_stage_with_lineage(full, spark, path, "s", "canon_id", 4)
    assert out.count() == 8
    assert read_snapshot(spark, path).count() == 8
    # a further no-op resume stays stable
    sid3, _ = snapshot_stage_with_lineage(full, spark, path, "s", "canon_id", 4)
    assert read_snapshot(spark, path).count() == 8


def test_materialize_graph_replace_mode_no_stale_union(spark, tmp_path):
    """Review regression (run_pipeline_job shape): two full-rebuild runs
    with different inputs must NOT union — replace-mode snapshots
    reference only their own stage, while the first run's snapshot stays
    time-travel-readable."""
    from zh_ner_tf_spark.pipeline import materialize_graph
    from zh_ner_tf_spark.sources.sinks import read_snapshot

    def outs(n, tag):
        return {
            "nodes": spark.range(n).select(
                F.col("id").alias("canon_id"),
                F.lit(tag).alias("surface"),
                F.lit("PER").alias("etype"), F.lit(1).alias("freq"),
            ),
            "edges": spark.range(n).select(
                F.col("id").alias("src"), F.col("id").alias("dst"),
                F.lit("works_for").alias("pred"), F.lit(1).alias("weight"),
            ),
        }

    root = str(tmp_path / "g")
    s1 = materialize_graph(spark, outs(10, "run1"), root, stage="job-10",
                           replace=True)
    s2 = materialize_graph(spark, outs(25, "run2"), root, stage="job-25",
                           replace=True)
    assert s1 == {"nodes": 1, "edges": 1} and s2 == {"nodes": 2, "edges": 2}
    latest = read_snapshot(spark, f"{root}/nodes")
    assert latest.count() == 25
    assert {r["surface"] for r in latest.collect()} == {"run2"}
    old = read_snapshot(spark, f"{root}/nodes", 1)
    assert old.count() == 10 and {r["surface"] for r in old.collect()} == {"run1"}
    # same-input re-run is an idempotent no-op
    s3 = materialize_graph(spark, outs(25, "run2"), root, stage="job-25",
                           replace=True)
    assert s3 == {"nodes": 2, "edges": 2}


def test_snapshot_partitioned_append_prunes_at_scan(spark, tmp_path):
    """Hidden-partitioning emulation: a snapshot appended with
    partition_by='warc_date' serves a warc_date predicate as a
    PartitionFilter (pruned scan), even in a table whose OTHER
    snapshots are unpartitioned — and rows round-trip across the mixed
    layout."""
    from zh_ner_tf_spark.sources.sinks import read_snapshot, snapshot_append

    path = str(tmp_path / "tbl")
    flat = spark.range(3).select(
        F.col("id"), F.lit("2024-01-01").cast("date").alias("warc_date")
    )
    snapshot_append(flat, path)  # snap 1: unpartitioned
    part = spark.range(10, 16).select(
        F.col("id"),
        F.when(F.col("id") < 13, F.lit("2024-01-02"))
        .otherwise(F.lit("2024-01-03")).cast("date").alias("warc_date"),
    )
    snapshot_append(part, path, partition_by="warc_date")  # snap 2
    tbl = read_snapshot(spark, path)
    assert tbl.count() == 9
    day = tbl.filter(F.col("warc_date") == "2024-01-02")
    assert {r["id"] for r in day.collect()} == {10, 11, 12}
    # per-subdir snapshot reads (no session-conf toggling) surface
    # pruning as PLAN-TIME branch elimination: the partition column is a
    # literal per subdir scan, so Catalyst constant-folds the predicate
    # and drops the non-matching day's scan from the plan entirely —
    # stronger than a runtime PartitionFilter. The filtered plan keeps
    # only the flat snap-1 scan + the matching day; unfiltered keeps all 3.
    plan = day._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 2, plan
    full_plan = tbl._jdf.queryExecution().executedPlan().toString()
    assert full_plan.count("FileScan") == 3, full_plan


def test_snapshot_expire_and_vacuum(spark, tmp_path):
    """expire_snapshots parity: old manifests go away, shared
    append-chain dirs survive while compaction leftovers are reclaimed,
    the head still reads, and vacuum removes crashed-writer orphans but
    never lineage stage dirs (a killed writer's committed buckets)."""
    import os

    from zh_ner_tf_spark.sources.sinks import (
        committed_snapshots,
        read_snapshot,
        snapshot_append,
        snapshot_compact,
        snapshot_expire,
    )

    path = str(tmp_path / "tbl")
    snapshot_append(spark.range(0, 4), path)       # snap 1
    snapshot_append(spark.range(4, 9), path)       # snap 2 (shares snap1 dir)
    snapshot_compact(spark, path, target_partitions=1)  # snap 3: new dir only
    # crashed writer: orphan data dir with no manifest
    orphan = os.path.join(path, "data", "snap-deadbeef0000")
    spark.range(100, 103).write.parquet(orphan)
    # lineage stage dir mid-write (no snapshot yet): must survive vacuum
    stage_dir = os.path.join(path, "data", "stage-inc9")
    spark.range(500, 502).write.parquet(stage_dir)

    # a fresh orphan is protected by the age guard (it may be a live
    # appender's pre-commit dir) — nothing vacuumed at the default age
    res0 = snapshot_expire(path, keep_last=3, vacuum_orphans=True)
    assert res0["expired"] == [] and os.path.exists(orphan)
    # age 0: the test's orphan is definitionally dead, vacuum it
    res = snapshot_expire(path, keep_last=1, vacuum_orphans=True,
                          orphan_older_than_s=0)
    assert res["expired"] == [1, 2]
    assert committed_snapshots(path) == [3]
    assert {r["id"] for r in read_snapshot(spark, path).collect()} == set(range(9))
    # pre-compaction dirs deleted, orphan vacuumed, stage dir kept
    assert orphan in res["deleted_dirs"] and not os.path.exists(orphan)
    assert os.path.exists(stage_dir)
    assert len([d for d in res["deleted_dirs"] if "stage-" in d]) == 0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        read_snapshot(spark, path, 1)  # expired: time travel gone by design


def test_expire_stage_dir_deletes_lineage_with_it(spark, tmp_path):
    """When an expired snapshot's STAGE dir is reclaimed, its lineage
    manifest must go with it — otherwise a later reuse of the stage name
    sees all buckets committed, writes nothing, and silently publishes
    an EMPTY snapshot believing the rows are in the table."""
    import os

    from zh_ner_tf_spark.sources.sinks import (
        read_snapshot,
        snapshot_expire,
        snapshot_stage_with_lineage,
    )

    path = str(tmp_path / "tbl")
    rows = spark.range(6).select(
        F.col("id").alias("canon_id"), F.lit("a").alias("surface")
    )
    snapshot_stage_with_lineage(rows, spark, path, "inc1", "canon_id", 4)
    # full rebuild supersedes inc1 entirely
    rows2 = spark.range(9).select(
        F.col("id").alias("canon_id"), F.lit("b").alias("surface")
    )
    snapshot_stage_with_lineage(rows2, spark, path, "inc2", "canon_id", 4,
                                replace=True)
    res = snapshot_expire(path, keep_last=1)
    stage1 = os.path.join(path, "data", "stage-inc1")
    assert stage1 in res["deleted_dirs"] and not os.path.exists(stage1)
    assert not os.path.exists(os.path.join(path, "lineage", "inc1"))
    # re-using the stage name RECOMPUTES instead of publishing empty
    sid, out = snapshot_stage_with_lineage(rows, spark, path, "inc1",
                                           "canon_id", 4)
    assert out.count() == 6
    assert read_snapshot(spark, path).count() == 9 + 6


def test_inplace_rewrite_commits_new_snapshot_and_poisons_diff(spark, tmp_path):
    """ADVICE r4: snapshot_commit_dir must NOT treat an in-place
    REWRITTEN data dir as idempotent — the content fingerprint recorded
    in the manifest detects the rewrite, a new snapshot id is committed,
    and snapshot_diff across the rewrite refuses (it would silently miss
    the changed rows)."""
    import os

    import pytest as _pytest

    from zh_ner_tf_spark.sources.sinks import (
        read_snapshot,
        snapshot_commit_dir,
        snapshot_diff,
        snapshot_row_count,
    )

    path = str(tmp_path / "tbl")
    d = os.path.join(path, "data", "stage-x")
    spark.range(3).write.mode("overwrite").parquet(d)
    sid1 = snapshot_commit_dir(path, d)
    # unchanged dir: idempotent re-publish returns the head id
    assert snapshot_commit_dir(path, d) == sid1
    assert snapshot_row_count(path) == 3
    # the documented empty-then-nonempty supersede shape: same dir,
    # different content
    spark.range(10).write.mode("overwrite").parquet(d)
    sid2 = snapshot_commit_dir(path, d)
    assert sid2 == sid1 + 1  # NOT silently the old head
    assert read_snapshot(spark, path, sid2).count() == 10
    assert snapshot_row_count(path, sid2) == 10
    with _pytest.raises(ValueError, match="rewritten in place"):
        snapshot_diff(spark, path, sid1, sid2)


def test_ann_family_from_snapshot_metadata(spark, tmp_path):
    """VERDICT r4 item 2 sealed end-to-end: the adaptive SRP family
    resolves corpus size from SNAPSHOT metadata (parquet footers summed
    over the manifest's dirs — no count() job) and yields the identical
    ANN result to the live-count fallback."""
    from zh_ner_tf_spark.operators.similarity import ann_topk
    from zh_ner_tf_spark.sources.sinks import (
        read_snapshot,
        snapshot_append,
        snapshot_row_count,
    )
    from zh_ner_tf_spark.sources.tables import load_table, table_row_count

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "embtbl")
    snapshot_append(emb, path)
    tbl = read_snapshot(spark, path)
    n_meta = snapshot_row_count(path)
    assert n_meta == emb.count()
    assert table_row_count("/root/testdata/sf0.001", "embeddings") == n_meta
    q = tbl.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = ann_topk(tbl, q, k=5, n_rows=n_meta).collect()
    b = ann_topk(tbl, q, k=5).collect()  # live-count fallback
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert [tuple(r) for r in sorted(a, key=key)] == [
        tuple(r) for r in sorted(b, key=key)
    ]


def test_stage_rmtree_guard_refuses_unowned_dirs(spark, tmp_path):
    """ADVICE r4: run_stage_with_lineage's supersede rmtree must refuse
    a dir whose sidecar names a DIFFERENT manifest dir (wrong pairing
    would delete live data) or that carries no ownership sidecar at all."""
    import os

    import pytest as _pytest

    from zh_ner_tf_spark.plans.lineage import run_stage_with_lineage

    out_dir = str(tmp_path / "out")
    # a live, snapshot-referenced-looking dir NOT written by the lineage
    # writer: no sidecar -> refused, data intact
    spark.range(5).write.parquet(out_dir)
    df = spark.range(4).select(F.col("id").alias("k"))
    with _pytest.raises(ValueError, match="no _stage_sidecar"):
        run_stage_with_lineage(
            df, lambda p: p, spark, "s1", "k",
            out_dir, str(tmp_path / "manifest_s1"), 4,
        )
    assert spark.read.parquet(out_dir).count() == 5
    # a dir owned by manifest A, resumed with a respelled manifest B
    # while B shows zero committed buckets -> refused, data intact
    out2 = str(tmp_path / "out2")
    run_stage_with_lineage(
        df, lambda p: p, spark, "s2", "k", out2, str(tmp_path / "mA"), 4
    )
    with _pytest.raises(ValueError, match="wrong .* pairing"):
        run_stage_with_lineage(
            df, lambda p: p, spark, "s2", "k", out2, str(tmp_path / "mB"), 4
        )
    assert spark.read.parquet(out2).count() == 4
    # right manifest dir but WRONG stage name (another stage's data in
    # this dir): refused too — the sidecar records both halves
    with _pytest.raises(ValueError, match=r"wrong \(out_dir, stage\)"):
        run_stage_with_lineage(
            df, lambda p: p, spark, "sX", "k", out2, str(tmp_path / "mA"), 4
        )
    assert spark.read.parquet(out2).count() == 4
    # the RIGHT pairing still resumes idempotently
    got = run_stage_with_lineage(
        df, lambda p: p, spark, "s2", "k", out2, str(tmp_path / "mA"), 4
    )
    assert got.count() == 4


def test_partitioned_snapshot_preserves_string_keys_and_compaction(spark, tmp_path):
    """Partition values survive the directory-name round trip: a string
    key '0123' must NOT come back as bigint 123 (type recorded in the
    sidecar, inference disabled), and compaction preserves the partition
    layout instead of silently flattening it."""
    from zh_ner_tf_spark.sources.sinks import (
        read_snapshot,
        snapshot_append,
        snapshot_compact,
    )

    path = str(tmp_path / "tbl")
    flat = spark.createDataFrame([(1, "0123"), (2, "9aa")], "id long, zone string")
    snapshot_append(flat, path)
    part = spark.createDataFrame(
        [(10, "0123"), (11, "0456")], "id long, zone string"
    )
    snapshot_append(part, path, partition_by="zone")
    tbl = read_snapshot(spark, path)
    assert dict(tbl.dtypes)["zone"] == "string"
    assert {r["zone"] for r in tbl.collect()} == {"0123", "9aa", "0456"}
    sid = snapshot_compact(spark, path, target_partitions=1)
    after = read_snapshot(spark, path, sid)
    assert {(r["id"], r["zone"]) for r in after.collect()} == {
        (1, "0123"), (2, "9aa"), (10, "0123"), (11, "0456")
    }
    day = after.filter(F.col("zone") == "0123")
    # compacted dir is partitioned into 3 zone subdirs, each its own
    # scan branch; the zone predicate constant-folds the other two away
    # at plan time (see the pruning comment in the append test above)
    plan = day._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    full_plan = after._jdf.queryExecution().executedPlan().toString()
    assert full_plan.count("FileScan") == 3, full_plan


def _true_bucket_counts(frame, n_buckets):
    from zh_ner_tf_spark.plans.lineage import bucket_col

    return dict(
        frame.groupBy(bucket_col("doc_id", n_buckets).alias("b")).count().collect()
    )


def test_manifest_counts_exact_with_row_changing_transform(spark, docs, tmp_path):
    """rows_in / rows_out per bucket equal the true input and output
    counts when the transform drops about half the rows — on a fresh run
    and on a run resumed against a partial manifest — and the read-back
    has the columns and types a schema-inferring read of the output has."""
    def halve(df):
        return _transform(df).filter(F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(2)) == 0)

    nb = 8
    want_in = _true_bucket_counts(docs, nb)
    want_out = _true_bucket_counts(halve(docs.withColumn("_bucket", F.lit(0))), nb)
    assert 0 < sum(want_out.values()) < sum(want_in.values())

    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    r = run_stage_with_lineage(docs, halve, spark, "h", "doc_id", out, man, nb)
    got = {x["bucket"]: (x["rows_in"], x["rows_out"])
           for x in read_manifest(spark, man).collect()}
    assert got == {b: (want_in[b], want_out.get(b, 0)) for b in want_in}
    assert r.count() == sum(want_out.values())
    inferred = spark.read.parquet(out)
    assert [(f.name, f.dataType) for f in r.schema.fields] == [
        (f.name, f.dataType) for f in inferred.schema.fields
    ]

    partial = read_manifest(spark, man).filter(F.col("bucket") < 4)
    man2 = str(tmp_path / "manifest2")
    partial.coalesce(1).write.mode("overwrite").parquet(man2)
    run_stage_with_lineage(docs, halve, spark, "h", "doc_id", out, man2, nb)
    resumed = read_manifest(spark, man2)
    assert resumed.count() == len(want_in)
    got2 = {x["bucket"]: (x["rows_in"], x["rows_out"]) for x in resumed.collect()}
    assert got2 == got


def test_fresh_stage_sink_runs_no_more_jobs_than_a_plain_write(spark, tmp_path):
    """A fresh-stage publish runs its input exactly once: no probe job,
    no recount of the input, no read-back of the output, no Spark-written
    manifest — at most the jobs of a plain partitioned write."""
    from zh_ner_tf_spark.plans.lineage import bucket_col
    from zh_ner_tf_spark.sources.sinks import (
        read_snapshot,
        snapshot_stage_with_lineage,
    )

    sc = spark.sparkContext
    src = spark.range(0, 3000).select(
        F.col("id").alias("canon_id"), (F.col("id") % 13).alias("freq")
    ).localCheckpoint()

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    plain = jobs("plain-write", lambda: (
        src.withColumn("_bucket", bucket_col("canon_id", 4))
        .write.partitionBy("_bucket").parquet(str(tmp_path / "plain"))
    ))
    path = str(tmp_path / "tbl")
    sink = jobs("lineage-sink", lambda: snapshot_stage_with_lineage(
        src, spark, path, "s1", "canon_id", 4
    ))
    assert plain >= 1
    assert sink <= plain, (sink, plain)
    assert read_snapshot(spark, path).count() == 3000


def test_driver_and_spark_written_manifests_read_back_together(spark, tmp_path):
    """The sink's driver-written manifest file and a Spark-written one in
    the same directory read back through read_manifest with the
    MANIFEST_SCHEMA types, and both feed resume."""
    import os

    import pyarrow.parquet as pq

    from zh_ner_tf_spark.plans.lineage import MANIFEST_SCHEMA

    df = spark.range(40).select(F.col("id").alias("k"))
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    run_stage_with_lineage(df, lambda p: p, spark, "s", "k", out, man, 4)
    driver_files = [f for f in os.listdir(man) if not f.startswith((".", "_"))]
    assert len(driver_files) == 1 and driver_files[0].startswith("part-")
    assert not [f for f in os.listdir(man) if f.endswith(".tmp")]
    want = spark.createDataFrame([], MANIFEST_SCHEMA).schema
    arrow = pq.read_schema(os.path.join(man, driver_files[0]))
    assert [(f.name, str(f.type)) for f in arrow] == [
        ("stage", "string"), ("bucket", "int32"),
        ("input_fingerprint", "string"), ("rows_in", "int64"),
        ("rows_out", "int64"), ("status", "string"), ("run_id", "string"),
        ("committed_at", "double"),
    ]

    spark.createDataFrame(
        [("other", 2, "fp", 5, 5, "committed", "r-spark", 1.0)], MANIFEST_SCHEMA
    ).coalesce(1).write.mode("append").parquet(man)
    m = read_manifest(spark, man)
    assert m.dtypes == [(f.name, f.dataType.simpleString()) for f in want]
    assert m.count() == 5
    assert {r["stage"] for r in m.collect()} == {"s", "other"}
    metrics = {r["stage"]: r for r in stage_metrics(spark, man).collect()}
    assert metrics["s"]["rows_in"] == 40 and metrics["other"]["n_buckets"] == 1
    # the Spark-written commit of stage "other" resumes like any other
    pending = resume_filter(df, spark, man, "other", "k", 4)
    assert {r["_bucket"] for r in pending.select("_bucket").distinct().collect()} == {0, 1, 3}


def test_transform_that_prunes_its_input_still_records_rows_in(spark, tmp_path):
    """When the transform's plan prunes the input away (here a constant
    false filter), the write pass reports no observed metrics; the
    manifest still records every bucket's true input count, with zero
    output rows, and the read-back is an empty frame of the output
    schema."""
    df = spark.range(100).select(F.col("id").alias("k"))
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    r = run_stage_with_lineage(
        df, lambda p: p.filter(F.lit(False)), spark, "s", "k", out, man, 4
    )
    assert r.count() == 0 and r.columns == ["k", "_bucket"]
    m = read_manifest(spark, man).collect()
    assert sum(x["rows_in"] for x in m) == 100
    assert {x["rows_out"] for x in m} == {0}

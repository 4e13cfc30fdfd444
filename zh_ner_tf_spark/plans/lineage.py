"""Per-partition checkpoint / lineage manifests with exact resume
(BASELINE.json north_rule: "resumable from checkpoint with per-partition
lineage + metrics").

The unit of commit is an INPUT PARTITION (a stable, data-derived key such
as ``pmod(xxhash64(url), n_buckets)`` — NOT ``spark_partition_id()``,
which is scheduling-dependent and would break exact resume). For each
stage run:

  1. committed = buckets the manifest records as committed for the stage,
     read on the driver from the manifest's parquet files (at most one row
     per bucket per run — no Spark job)
  2. work = input minus committed buckets (a ``NOT IN`` filter on the
     bucket column) -> only unfinished buckets
  3. outputs are written bucket-partitioned (parquet partitionBy) so a
     re-run overwrites its own bucket idempotently (dynamic partition
     overwrite), never double-appends. This write is the ONLY job that
     runs the input plan: per-bucket ``rows_in`` are observed metrics of
     that same pass (``DataFrame.observe``), and ``rows_out`` are summed
     from the parquet footers of each ``_bucket=<b>`` directory
  4. after the write, the run's manifest rows (stage, bucket,
     input_fingerprint, rows_in, rows_out, status, run_id, committed_at)
     are written by the driver as ONE parquet file: a hidden temp file
     renamed (``os.replace``) to ``part-<run_id>.parquet``, so a run's
     commit is atomic and lands only after its data write succeeded

Idempotence argument: a crash between 3 and 4 re-runs the bucket and
overwrites the same partition directory; a crash before 3 changes
nothing. The manifest is append-only; readers take the latest run_id per
(stage, bucket). Manifest files written by Spark (older versions of this
module, or a caller rewriting a manifest) read back alongside the
driver-written ones: both carry ``MANIFEST_SCHEMA``. The reference's
analog is TF checkpointing (model.py:≈200 [R]) — model-state-only;
per-partition data lineage is the graft extension.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

MANIFEST_SCHEMA = (
    "stage string, bucket int, input_fingerprint string, rows_in bigint, "
    "rows_out bigint, status string, run_id string, committed_at double"
)


def bucket_col(key_col: str, n_buckets: int) -> F.Column:
    """Stable, data-derived partition key for commit bookkeeping."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def _manifest_files(manifest_dir: str) -> list[str]:
    """The manifest's visible parquet files (hidden temp files of an
    in-flight commit and Spark's ``_``-prefixed bookkeeping excluded)."""
    if not os.path.isdir(manifest_dir):
        return []
    return sorted(
        os.path.join(manifest_dir, f) for f in os.listdir(manifest_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def read_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    if _manifest_files(manifest_dir):
        return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
    return spark.createDataFrame([], MANIFEST_SCHEMA)


def _committed_bucket_ids(manifest_dir: str, stage: str) -> set[int]:
    """Buckets the manifest records as committed for ``stage``, read on
    the driver with pyarrow: no Spark job."""
    import pyarrow.parquet as pq

    done: set[int] = set()
    for path in _manifest_files(manifest_dir):
        t = pq.read_table(path, columns=["stage", "bucket", "status"])
        for s, b, st in zip(*(t.column(c).to_pylist() for c in t.column_names)):
            if s == stage and st == "committed":
                done.add(int(b))
    return done


def _without_buckets(
    df: DataFrame, done: set[int], key_col: str, n_buckets: int
) -> DataFrame:
    with_bucket = df.withColumn("_bucket", bucket_col(key_col, n_buckets))
    if not done:
        return with_bucket
    return with_bucket.filter(~F.col("_bucket").isin(sorted(done)))


def resume_filter(
    df: DataFrame,
    spark: SparkSession,
    manifest_dir: str,
    stage: str,
    key_col: str,
    n_buckets: int,
) -> DataFrame:
    """Input minus already-committed buckets (exact resume)."""
    return _without_buckets(
        df, _committed_bucket_ids(manifest_dir, stage), key_col, n_buckets
    )


def _append_manifest(
    manifest_dir: str, stage: str, fingerprint: str, run_id: str,
    rows: list[tuple[int, int, int]],
) -> None:
    """Commit one run's (bucket, rows_in, rows_out) rows as ONE parquet
    file with the MANIFEST_SCHEMA types: written under a hidden name and
    renamed into place, so readers see all of the run's rows or none."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("stage", pa.string()), ("bucket", pa.int32()),
        ("input_fingerprint", pa.string()), ("rows_in", pa.int64()),
        ("rows_out", pa.int64()), ("status", pa.string()),
        ("run_id", pa.string()), ("committed_at", pa.float64()),
    ])
    n = len(rows)
    table = pa.table({
        "stage": [stage] * n,
        "bucket": [b for b, _, _ in rows],
        "input_fingerprint": [fingerprint] * n,
        "rows_in": [r_in for _, r_in, _ in rows],
        "rows_out": [r_out for _, _, r_out in rows],
        "status": ["committed"] * n,
        "run_id": [run_id] * n,
        "committed_at": [time.time()] * n,
    }, schema=schema)
    os.makedirs(manifest_dir, exist_ok=True)
    tmp = os.path.join(manifest_dir, f".part-{run_id}.parquet.tmp")
    # no Arrow schema blob in the footer: the parquet types already carry
    # MANIFEST_SCHEMA, and every commit pays the extra bytes
    pq.write_table(table, tmp, store_schema=False)
    os.replace(tmp, os.path.join(manifest_dir, f"part-{run_id}.parquet"))


_STAGE_SIDECAR = "_stage_sidecar.json"


def _write_stage_sidecar(out_dir: str, manifest_dir: str, stage: str) -> None:
    """Sidecar pairing an output directory with ITS manifest directory
    (underscore-prefixed: invisible to parquet readers). Written before
    the data lands so any directory this writer created names its owner."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, _STAGE_SIDECAR), "w") as f:
        json.dump(
            {"manifest_dir": os.path.realpath(manifest_dir), "stage": stage}, f
        )


def _is_empty_marker_layout(out_dir: str) -> bool:
    """True iff ``out_dir`` looks exactly like the root-level
    empty-input marker this module writes: only Spark bookkeeping files
    and parquet parts whose footers total ZERO rows, and no partition
    subdirectories. Used to migrate pre-sidecar marker dirs through the
    supersede delete without weakening the guard for real data."""
    names = os.listdir(out_dir)
    parquet_parts = []
    for n in names:
        full = os.path.join(out_dir, n)
        if os.path.isdir(full):
            return False  # a partitioned layout is never the marker
        if n.endswith(".parquet") and n.startswith("part-"):
            parquet_parts.append(full)
        elif n == "_SUCCESS" or n.startswith("."):
            continue  # bookkeeping (_SUCCESS, .crc files)
        else:
            return False
    # _SUCCESS is NOT required: a marker write killed between the part
    # files and _SUCCESS leaves zero-row parts only — still provably
    # harmless to supersede (real stage data lives in bucket subdirs,
    # rejected above). But an EMPTY or hidden-files-only dir (e.g. an
    # interrupted writer's .part temp files before rename) proves
    # nothing — keep the hard refusal for those.
    if not parquet_parts:
        return False
    try:
        import pyarrow.parquet as pq

        return all(
            pq.ParquetFile(p).metadata.num_rows == 0 for p in parquet_parts
        )
    except Exception:
        return False  # unreadable footer: not provably the marker


def _check_stage_sidecar(out_dir: str, manifest_dir: str, stage: str) -> None:
    """Refuse to delete a directory this (out_dir, manifest_dir) pairing
    does not own. run_stage_with_lineage takes the two paths
    independently, so a caller passing a wrong/respelled manifest_dir
    would see zero committed buckets and rmtree LIVE, snapshot-referenced
    data (ADVICE r4) — the sidecar written at data-write time is the
    ownership proof the delete requires."""
    sidecar = os.path.join(out_dir, _STAGE_SIDECAR)
    if not os.path.exists(sidecar):
        # Migration path for out_dirs written by pre-sidecar versions of
        # this code (ADVICE r5): the ONLY legitimate pre-sidecar shape
        # reaching this delete is the root-level empty-input marker — a
        # flat dir of Spark bookkeeping + zero-row parquet, no partition
        # subdirs. Accept exactly that; anything else still hard-fails.
        if _is_empty_marker_layout(out_dir):
            return
        raise ValueError(
            f"refusing to delete {out_dir}: no {_STAGE_SIDECAR} pairing it "
            f"with a lineage manifest dir and it is not a bare empty-input "
            f"marker — it was not written by run_stage_with_lineage; remove "
            f"it manually if it is really a superseded stage dir"
        )
    with open(sidecar) as f:
        meta = json.load(f)
    if meta.get("manifest_dir") != os.path.realpath(manifest_dir):
        raise ValueError(
            f"refusing to delete {out_dir}: its sidecar names manifest dir "
            f"{meta.get('manifest_dir')!r}, not {os.path.realpath(manifest_dir)!r} "
            f"— wrong (out_dir, manifest_dir) pairing"
        )
    if meta.get("stage") != stage:
        # same manifest dir can serve several stages; a wrong (out_dir,
        # stage) pairing must not delete another stage's committed data
        raise ValueError(
            f"refusing to delete {out_dir}: its sidecar names stage "
            f"{meta.get('stage')!r}, not {stage!r} — wrong (out_dir, stage) "
            f"pairing"
        )


def _observed_rows_in(
    spark: SparkSession, obs: Observation, pending: DataFrame, n_buckets: int
) -> dict[int, int]:
    """Per-bucket input counts observed during the write pass.

    Observations complete on Spark's listener bus shortly after the
    action returns, so the bus is drained before reading (``obs.get``
    would block forever on one that never completes). A transform that
    prunes its input away (a constant-false filter, ``limit(0)``) leaves
    the observation completed with an empty row: then the counts come
    from one aggregation job over ``pending`` instead."""
    from py4j.protocol import Py4JJavaError

    jo = obs._jo
    if not jo.future().isCompleted():
        try:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        except Py4JJavaError:
            pass  # bus still busy after 60 s (TimeoutException): the check below decides
    row = jo.getRowOrEmpty()
    if row.isDefined() and row.get().length() == n_buckets:
        got = obs.get
        return {b: int(got[f"b{b}"]) for b in range(n_buckets)}
    counts = dict(pending.groupBy("_bucket").count().collect())
    return {b: int(counts.get(b, 0)) for b in range(n_buckets)}


def _holds_parquet(out_dir: str) -> bool:
    return any(
        f.endswith(".parquet")
        for _root, _dirs, files in os.walk(out_dir) for f in files
    )


def _write_empty_marker(
    spark: SparkSession, schema: StructType, out_dir: str,
    manifest_dir: str, stage: str, run_id: str,
) -> None:
    """Materialize an empty, schema-carrying output at ``out_dir`` so the
    read-back (and any snapshot publish of this directory) sees a valid
    empty table instead of failing on a missing path. Marker + sidecar
    go into a TEMP dir that is atomically renamed: a crash mid-write
    leaves only an invisible temp dir, never an out_dir without its
    ownership sidecar (which would wedge the later supersede delete on
    the missing-sidecar refusal). Writing an empty frame of the output
    schema keeps the input plan from running again."""
    tmp = f"{out_dir}.tmp-{run_id[:8]}"
    spark.createDataFrame([], schema).write.mode("overwrite").parquet(tmp)
    _write_stage_sidecar(tmp, manifest_dir, stage)
    os.rename(tmp, out_dir)


def _read_stage(spark: SparkSession, out_dir: str, schema: StructType) -> DataFrame:
    """Read the stage output back with its known schema (no footer
    inference job). A bucket-partitioned layout reads as the written
    columns followed by the ``_bucket int`` partition column; the
    root-level empty-input marker carries the written schema as is."""
    if any(n.startswith("_bucket=") for n in os.listdir(out_dir)):
        schema = StructType(
            [f for f in schema.fields if f.name != "_bucket"]
            + [StructField("_bucket", IntegerType())]
        )
    return spark.read.schema(schema).parquet(out_dir)


def run_stage_with_lineage(
    df: DataFrame,
    transform,
    spark: SparkSession,
    stage: str,
    key_col: str,
    out_dir: str,
    manifest_dir: str,
    n_buckets: int = 32,
) -> DataFrame:
    """Execute ``transform`` bucket-partitioned with exact resume.

    transform: DataFrame (with _bucket col) -> DataFrame (must keep
    _bucket). It builds a plan and runs no action on its input: the
    write is the one pass over the input, and the per-bucket input
    counts are observed during it. Returns the full stage output
    (committed ∪ new).
    """
    done = _committed_bucket_ids(manifest_dir, stage)
    pending = _without_buckets(df, done, key_col, n_buckets)
    run_id = uuid.uuid4().hex

    # A fresh stage (nothing committed, nothing on disk) goes straight to
    # the write. A resumed or replayed one first checks for pending rows:
    # an all-committed stage must not be rewritten, since its directory
    # fingerprint is what keeps a replayed snapshot publish idempotent.
    if (done or os.path.exists(out_dir)) and pending.limit(1).count() == 0:
        schema = transform(pending).schema
        if not os.path.exists(out_dir) or (
            not done and not _holds_parquet(out_dir)
        ):
            # an EMPTY input and no marker yet: nothing was ever written,
            # or a fresh empty run crashed between its write and the
            # marker rename below (out_dir then holds only the sidecar)
            if os.path.exists(out_dir):
                _check_stage_sidecar(out_dir, manifest_dir, stage)
                shutil.rmtree(out_dir)
            _write_empty_marker(spark, schema, out_dir, manifest_dir, stage, run_id)
        return _read_stage(spark, out_dir, schema)

    if os.path.exists(out_dir) and not done:
        # out_dir exists but NO bucket was ever committed: it holds
        # either the root-level empty-input marker (written on a
        # previous empty run) or a crashed write that predates any
        # manifest commit — both are fully superseded by this run, and
        # root-level files would otherwise mix with the partitioned
        # layout and wedge every future read. The sidecar check guards
        # against the delete firing on a dir this stage does NOT own
        # (wrong manifest_dir pairing).
        _check_stage_sidecar(out_dir, manifest_dir, stage)
        shutil.rmtree(out_dir)
    obs = Observation()
    out = transform(pending.observe(obs, *[
        F.count_if(F.col("_bucket") == b).alias(f"b{b}")
        for b in range(n_buckets)
    ]))
    # ownership sidecar BEFORE the data write: dynamic partition
    # overwrite never truncates the base dir, so the sidecar survives,
    # and a writer killed mid-parquet-write leaves a dir that still
    # names its manifest (the resume path's rmtree guard accepts it
    # instead of wedging)
    _write_stage_sidecar(out_dir, manifest_dir, stage)
    (
        out.write.mode("overwrite")
        .partitionBy("_bucket")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out_dir)
    )
    rows_in = _observed_rows_in(spark, obs, pending, n_buckets)
    from zh_ner_tf_spark.sources.tables import parquet_dir_row_count

    rows = []
    for b in range(n_buckets):
        if rows_in[b] == 0:
            continue
        bucket_dir = os.path.join(out_dir, f"_bucket={b}")
        rows_out = parquet_dir_row_count(bucket_dir) if os.path.isdir(bucket_dir) else 0
        rows.append((b, rows_in[b], rows_out))
    if rows:
        fingerprint = json.dumps({"stage": stage, "key": key_col, "n": n_buckets})
        _append_manifest(manifest_dir, stage, fingerprint, run_id, rows)
    elif not done:
        # fresh stage with an EMPTY input: the write landed no rows, so
        # out_dir holds only the sidecar — replace it with the marker
        shutil.rmtree(out_dir)
        _write_empty_marker(spark, out.schema, out_dir, manifest_dir, stage, run_id)
    return _read_stage(spark, out_dir, out.schema)


def stage_metrics(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Per-stage rows_in/rows_out/buckets — the run-metrics surface
    (reference analog: tf.summary + logger, model.py:≈139-144 [R])."""
    m = read_manifest(spark, manifest_dir)
    return (
        m.filter(F.col("status") == "committed")
        .groupBy("stage")
        .agg(
            F.countDistinct("bucket").alias("n_buckets"),
            F.sum("rows_in").alias("rows_in"),
            F.sum("rows_out").alias("rows_out"),
        )
    )

"""KG-construction benchmark: one workload, one seed, one process.

    python3 kgbench/run.py --workload batch_build --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. The run generates its
inputs from the seed, starts Spark ``local[N]`` (N = usable cores),
drives the package's public functions in a closed loop with one client
for ``--seconds`` seconds, checks every output, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run (spans written to
``kgbench/out/``). See kgbench/README.md.
"""

from __future__ import annotations

import os
import sys
import time

# Must precede every import that can load NumPy: one BLAS thread per
# Python worker, the engine parallelizes across Spark tasks.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_v] = "1"

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
HEAP = "2g"


def process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc), so
    set-up time includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as f:
            stat = f.read()
        ticks = int(stat[stat.rindex(")") + 2:].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


def start_spark(workdir: str, n_cores: int):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    from zh_ner_tf_spark.session import get_spark

    return get_spark(
        app_name="kgbench",
        master=f"local[{n_cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": workdir,
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={workdir}",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )


def _alive(pid: int) -> bool:
    return os.path.exists(f"/proc/{pid}")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until the JVM
    and every process it forked (the Python workers) have ended."""
    from pyspark import SparkContext

    from tracing import _children

    def descendants():
        kids, out, todo = _children(), [], [os.getpid()]
        while todo:
            for k in kids.get(todo.pop(), []):
                out.append(k)
                todo.append(k)
        return out

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants()
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 10
        for pid in pids:
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGTERM)
                except ProcessLookupError:
                    continue
        for pid in pids:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def end_to_end(res: dict, setup_s: float) -> dict:
    ops = res["op_s"]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_s": {"value": statistics.median(ops), "unit": "s"},
        "rows_per_s": {"value": res["rows_per_op"] * len(ops) / sum(ops),
                       "unit": "rows/s"},
    }


def main(argv=None) -> int:
    t_proc0 = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import zh_ner_tf_spark
    except ImportError as e:
        print(f"kgbench: cannot import the package from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(zh_ner_tf_spark.__file__).startswith(ROOT + os.sep):
        print(f"kgbench: the package imported from {zh_ner_tf_spark.__file__}, "
              f"not from the checkout at {ROOT}", file=sys.stderr)
        return 2
    import workloads
    from tracing import RssSampler, Tracer, layer_probes

    if args.workload not in workloads.WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp_parent = os.path.join(ROOT, ".kgbench_tmp")
    os.makedirs(tmp_parent, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=tmp_parent)
    os.environ["SPARK_LOCAL_DIRS"] = workdir
    os.environ["TMPDIR"] = workdir
    # the launcher JVM that spark-submit starts first: keep it out of /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={workdir}"
    tempfile.tempdir = workdir

    spark = None
    result = None
    try:
        with RssSampler() as rss:
            t_sess = time.perf_counter()
            spark = start_spark(workdir, len(os.sched_getaffinity(0)))
            session_s = time.perf_counter() - t_sess
            ctx = workloads.Context(
                spark=spark, seed=args.seed, seconds=args.seconds,
                workdir=workdir, rss=rss,
                tracer=Tracer(spark) if args.trace else None)
            if args.trace:
                with layer_probes(ctx.tracer):
                    res = workloads.WORKLOADS[args.workload](ctx)
            else:
                res = workloads.WORKLOADS[args.workload](ctx)
        if args.trace:
            metrics = workloads.layer_metrics(ctx.tracer, res, session_s)
            out_dir = os.path.join(BENCH_DIR, "out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(
                    out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "metrics": metrics, "spans": ctx.tracer.spans,
                           "checks": res["checks"]}, f, indent=1)
        else:
            metrics = end_to_end(res, res["setup_end"] - t_proc0)
        for msg in res["failures"]:
            print(f"kgbench: CHECK FAILED: {msg}", file=sys.stderr)
        print(f"kgbench: {args.workload} seed={args.seed} op_s={[round(x, 3) for x in res['op_s']]} "
              f"peak_rss_mb={res['peak_rss_mb']:.0f} "
              f"checks={json.dumps(res['checks'])}", file=sys.stderr)
        result = {"correct": not res["failures"],
                  "attempted": res["attempted"], "failed": res["failed"],
                  "metrics": metrics}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
            try:
                os.rmdir(tmp_parent)
            except OSError:
                pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Spans, Spark counters and memory sampling for the benchmark.

Spans are recorded from the benchmark's own files only: in a traced run,
``layer_probes`` swaps each layer's public function, as the pipeline
looks it up, for a wrapper that opens a span, calls the real function,
puts a materialization barrier (``localCheckpoint`` + ``count``) after
it and closes the span. Untraced runs never install the wrappers.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time


class SparkCounters:
    """Per-interval engine counts from Spark's status tracker and status
    store: jobs, tasks, shuffle bytes, spill bytes and executor CPU time
    of every job started since ``mark()``. Executor CPU time counts JVM
    task threads only, so the CPU of the Python workers (the tagger and
    sketch UDFs) is read from /proc separately."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._jvm_pid = gw.proc.pid
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def mark(self) -> tuple[int, dict[int, float]]:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return (max(ids) + 1 if ids else 0), self._worker_cpu()

    def _worker_cpu(self) -> dict[int, float]:
        """pid -> CPU seconds of every process the JVM forked."""
        kids = _children()
        out, todo = {}, list(kids.get(self._jvm_pid, []))
        while todo:
            pid = todo.pop()
            out[pid] = _cpu_s(pid)
            todo.extend(kids.get(pid, []))
        return out

    def since(self, mark: tuple[int, dict[int, float]]) -> dict:
        first_job, cpu0 = mark
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        python_cpu = sum(c - cpu0.get(pid, 0.0)
                         for pid, c in self._worker_cpu().items())
        tracker = self.sc.statusTracker()
        jobs = [j for j in tracker.getJobIdsForGroup(None) if j >= first_job]
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        out = {"jobs": len(jobs), "tasks": 0, "shuffle_write_bytes": 0,
               "shuffle_read_bytes": 0, "spill_bytes": 0, "executor_cpu_s": 0.0,
               "python_worker_cpu_s": python_cpu}
        for sid in stages:
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles)
            for k in range(attempts.size()):
                sd = attempts.apply(k)
                out["tasks"] += sd.numCompleteTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += (sd.shuffleRemoteBytesRead()
                                              + sd.shuffleLocalBytesRead())
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        return out


class Tracer:
    """In-memory span log: (name, start, end, parent, counts). Spans nest
    through a stack; every span also carries the engine counts of the
    jobs it started."""

    def __init__(self, spark):
        self.counters = SparkCounters(spark)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = self.counters.mark()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            rec["spark"] = self.counters.since(mark)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == rec["id"])
        return rec["end"] - rec["start"] - kids

    def within(self, root: dict) -> list[dict]:
        """All spans nested (at any depth) under ``root``."""
        ids = {root["id"]}
        out = []
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


def _barrier(df):
    """Materialization barrier: eager local checkpoint, then one count."""
    df = df.localCheckpoint()
    return df, df.count()


@contextlib.contextmanager
def layer_probes(tracer: Tracer):
    """Wrap every layer function the pipeline calls with a span +
    barrier. Each wrapper replaces the attribute the caller resolves at
    call time (a module global of ``pipeline``, or the defining module
    for names the pipeline imports inside a function)."""
    from pyspark.sql import functions as F

    from zh_ner_tf_spark import pipeline
    from zh_ner_tf_spark.operators import blocking, skew

    def frame_probe(name: str, extra=None):
        def wrap(fn):
            def probed(*a, **kw):
                with tracer.span(name) as rec:
                    df, rec["rows"] = _barrier(fn(*a, **kw))
                if extra is not None:
                    rec.update(extra(df))
                return df
            return probed
        return wrap

    def tagger_chars(df):
        n = df.agg(F.sum(F.length("sentence"))).first()[0] if "sentence" in df.columns else 0
        return {"chars": int(n or 0)}

    def candidates(df):
        return {"candidates": df.select("src", "dst").distinct().count()}

    def graph_probe(fn):
        def probed(*a, **kw):
            with tracer.span("graph_tail") as rec:
                nodes, edges = fn(*a, **kw)
                nodes, rec["nodes"] = _barrier(nodes)
                edges, rec["edges"] = _barrier(edges)
            return nodes, edges
        return probed

    swaps = [
        (pipeline, "with_extracted_text", frame_probe("extract_text")),
        (pipeline, "split_sentences", frame_probe("sentences")),
        (pipeline, "tag_sentences", frame_probe("tagger", tagger_chars)),
        (pipeline, "triples_from_tagged", frame_probe("triples")),
        (pipeline, "graph_from_mentions", graph_probe),
        (pipeline, "block_entities", frame_probe("blocking")),
        (pipeline, "connected_components", frame_probe("components")),
        (blocking, "banded_pairs_salted", frame_probe("blocking.band_join", candidates)),
        (blocking, "delta_surface_pairs", frame_probe("blocking")),
        (skew, "salted_agg", frame_probe("skew.salted_agg")),
        (skew, "hot_key_census", frame_probe("skew.census")),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in swaps]
    try:
        for mod, attr, wrap in swaps:
            setattr(mod, attr, wrap(getattr(mod, attr)))
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def tree_files(root: str) -> dict[str, int]:
    """path -> size of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with contextlib.suppress(FileNotFoundError):
                out[p] = os.path.getsize(p)
    return out


def written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(files, bytes) present in ``after`` but not in ``before``."""
    new = [p for p in after if p not in before]
    return len(new), sum(after[p] for p in new)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _cpu_s(pid: int) -> float:
    """User + system CPU seconds of a live process (0 if gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return 0.0
    fields = stat[stat.rindex(")") + 2:].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of every descendant of ``root_pid`` (the JVM and
    the Python workers it forks), in MB."""
    kids = _children()
    total, todo = 0, list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


class RssSampler:
    """Background thread recording the peak of ``tree_rss_mb``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

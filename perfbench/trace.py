"""Tracing for the benchmark's traced run (`--trace 1`).

Spans are recorded from the benchmark's own files around calls into the
program's public functions; nothing inside the package is edited. Spans
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time

from commoncrawlscalatools_spark.plans.state import SnapshotStore

# name -> (unit, better, end-to-end metric it should move, workload)
PER_LAYER: dict[str, tuple[str, str, str, str]] = {}


def _layer(names, unit, better, moves, workload):
    for n in names.split():
        PER_LAYER[n] = (unit, better, moves, workload)


_CRAWL_MOVES = "crawl_docs_per_s, round_s_p50"
_layer("crawl.fetch_docs_commit_ms crawl.feedback_seen_commit_ms crawl.side_commit_barrier_ms "
       "crawl.metrics_commit_ms crawl.compaction_ms crawl.docs_write_ms", "ms", "lower",
       _CRAWL_MOVES, "crawl_fresh")
_layer("fetch.extract_s", "s", "lower", "crawl_docs_per_s", "crawl_fresh")
_layer("fetch.docs fetch.spans fetch.outlinks", "count", "higher", "crawl_docs_per_s", "crawl_fresh")
_layer("frontier.schedule_s frontier.canonicalize_s frontier.transition_s", "s", "lower",
       "crawl_docs_per_s", "crawl_fresh")
_layer("frontier.pending_rows frontier.scheduled_rows", "count", "higher", "crawl_docs_per_s",
       "crawl_fresh")
_layer("frontier.retry_rows frontier.host_mismatch_rows", "count", "lower", "crawl_docs_per_s",
       "crawl_fresh")
_layer("robots.filter_s", "s", "lower", "round_s_p50", "crawl_fresh")
_layer("robots.pass_ratio", "ratio", "higher", "round_s_p50", "crawl_fresh")
_layer("seen.candidates", "count", "higher", "round_s_p50", "crawl_fresh")
_layer("seen.maybe_seen_ratio seen.fp_ratio", "ratio", "lower", "round_s_p50", "crawl_fresh")
_layer("seen.revisit_ratio", "ratio", "higher", "round_s_p50", "crawl_fresh")
_layer("seen.filter_bytes", "B", "lower", "round_s_p50", "crawl_fresh")
_layer("seen.probe_s seen.exact_s", "s", "lower", "round_s_p50", "crawl_fresh")
_STATE_MOVES = "round_s_p50, setup_s"
_layer("state.commits state.files_per_round state.seen_read_paths", "count", "lower",
       _STATE_MOVES, "crawl_fresh")
_layer("state.commit_s state.publish_s state.compact_s", "s", "lower", _STATE_MOVES, "crawl_fresh")
_layer("state.bytes_per_doc", "B/doc", "lower", _STATE_MOVES, "crawl_fresh")
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "config.json")) as _f:
    QUERY_NAMES = json.load(_f)["workloads"]["query_mix"]["queries"]
for _q in QUERY_NAMES:
    _layer(f"q.{_q}.build_s q.{_q}.plan_s q.{_q}.exec_s", "s", "lower",
           "query_mix_s, query_s_p50", "query_mix")
    _layer(f"q.{_q}.build_jobs", "count", "lower", "query_mix_s, query_s_p50", "query_mix")
_SPARK_MOVES = "peak_rss_mb, crawl_docs_per_s"
_layer("spark.jobs spark.tasks", "count", "lower", _SPARK_MOVES, "all")
_layer("spark.task_s spark.gc_s", "s", "lower", _SPARK_MOVES, "all")
_layer("spark.shuffle_write_bytes spark.spill_bytes", "B", "lower", _SPARK_MOVES, "all")


class Tracer:
    """In-memory span recorder. A span is (id, name, start, end, parent,
    run id). `root` is the round or query span that layer calls made on
    any thread (the engine's commit pool included) are attributed to."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = next(self._ids)
        with self._lock:
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, "run": self.run_id, **attrs})
        return sid

    @contextlib.contextmanager
    def root_span(self, name: str, **attrs):
        """A round or a query: child spans recorded meanwhile point at it."""
        start = time.time()
        sid = next(self._ids)
        self.root = sid
        try:
            yield sid
        finally:
            self.root = None
            with self._lock:
                self.spans.append({"id": sid, "name": name, "start": start, "end": time.time(),
                                   "parent": None, "run": self.run_id, **attrs})

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        start = time.time()
        parent = self.root
        try:
            yield
        finally:
            self.add(name, start, time.time(), parent, **attrs)

    def children(self, root: int, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == root and s["name"].startswith(prefix)]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": sorted(self.spans, key=lambda s: s["start"])}, f)


_STORE_METHODS = ("write", "write_unpublished", "publish", "read", "compact")


@contextlib.contextmanager
def traced_store(tracer: Tracer):
    """Wrap SnapshotStore's commit/read entry points with spans for the
    duration of the block. `top` marks calls not nested in another store
    call (`write` runs `write_unpublished` and `publish`), so commit
    counts and times are not double-counted."""
    depth = threading.local()
    originals = {m: getattr(SnapshotStore, m) for m in _STORE_METHODS}

    def wrap(method, fn):
        def wrapper(self, *args, **kwargs):
            table = args[0] if method != "write_unpublished" else args[1]
            d = getattr(depth, "n", 0)
            depth.n = d + 1
            try:
                with tracer.span(f"state.{method}", table=table, top=d == 0):
                    return fn(self, *args, **kwargs)
            finally:
                depth.n = d

        return wrapper

    for m, fn in originals.items():
        setattr(SnapshotStore, m, wrap(m, fn))
    try:
        yield
    finally:
        for m, fn in originals.items():
            setattr(SnapshotStore, m, fn)


# -- Spark event log -----------------------------------------------------------


class EventLog:
    """Job and task records parsed from a Spark JSON event log."""

    def __init__(self, log_dir: str):
        self.jobs: list[tuple[float, str | None]] = []  # (submit s, job group)
        self.tasks: list[dict] = []
        for d, _, files in os.walk(log_dir):
            for name in sorted(f for f in files if not f.startswith(".")):
                with open(os.path.join(d, name)) as f:
                    for line in f:
                        # the log is mostly SQL plan events: decode only these two
                        if line.startswith(('{"Event":"SparkListenerJobStart"',
                                            '{"Event":"SparkListenerTaskEnd"')):
                            self._parse(json.loads(line))

    def _parse(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs.append((ev["Submission Time"] / 1000.0, props.get("spark.jobGroup.id")))
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            self.tasks.append({
                "launch": info["Launch Time"] / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })

    def jobs_in_group(self, group: str) -> int:
        return sum(1 for _, g in self.jobs if g == group)

    def window(self, start: float, end: float) -> dict:
        """Substrate totals for jobs submitted and tasks launched in
        [start, end]: attribution by time window, because jobs the commit
        pool submits carry no job group set on the main thread."""
        tasks = [t for t in self.tasks if start <= t["launch"] <= end]
        return {
            "spark.jobs": sum(1 for s, _ in self.jobs if start <= s <= end),
            "spark.tasks": len(tasks),
            "spark.task_s": sum(t["run_s"] for t in tasks),
            "spark.gc_s": sum(t["gc_s"] for t in tasks),
            "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
        }

    def annotate(self, spans: list[dict]) -> None:
        """Attach the tasks launched inside each span's window to it."""
        for s in spans:
            w = self.window(s["start"], s["end"])
            s["spark_tasks"], s["spark_task_s"] = w["spark.tasks"], round(w["spark.task_s"], 3)

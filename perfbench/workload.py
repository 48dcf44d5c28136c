"""One workload run, in the process whose memory run.py watches.

Started by run.py with the environment it sets (package path for Python
workers, Spark scratch and event-log locations inside the checkout). Starts
the session, runs the workload's repeated set-up, the measured closed loop
and the output checks, then writes its result as JSON to `--result`.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding `path` (longest mount prefix)."""
    best, fstype = "", "unknown"
    path = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, fstype = mnt, parts[2]
    return fstype


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", default="bench")
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "perfbench", "config.json")) as f:
        config = json.load(f)
    wcfg = config["workloads"][args.workload]

    import pyspark

    from commoncrawlscalatools_spark import get_spark
    from perfbench import crawl, querymix
    from perfbench.trace import PER_LAYER, EventLog, Tracer

    ctx = SimpleNamespace(
        root=ROOT, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        t0=args.t0, work_dir=args.work_dir, workload_cfg=wcfg, size_name=args.size,
        setup_repeats=config["setup_repeats"],
        size=wcfg["sizes"][args.size], info={},
        tracer=Tracer(f"{args.workload}-seed{args.seed}-{int(args.t0)}"),
    )

    sessions = []

    def new_session():
        """A fresh SparkSession. The first call launches the JVM (reported
        as session_s); later calls stop the running session and start
        another in the same JVM."""
        if sessions:
            sessions.pop().stop()
        sessions.append(get_spark(app=f"perfbench-{args.workload}", cores=config["cores"]))
        ctx.info.setdefault("session_s", time.time() - args.t0)
        return sessions[-1]

    mod = crawl if wcfg["kind"] == "crawl" else querymix
    out, spark = mod.run(new_session, ctx)
    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "work_dir": os.path.relpath(args.work_dir, ROOT),
        "work_dir_fs": _fs_type(args.work_dir),
    }
    spark.stop()

    layers = out.pop("layers", {})
    if ctx.trace:
        events = EventLog(os.path.join(args.work_dir, "eventlog"))
        layers.update(events.window(*out["window"]))
        if wcfg["kind"] == "queries":
            layers.update(querymix.layer_metrics(out, events))
        # names of layers this workload does not exercise read 0
        layers = {name: (float(layers.get(name, 0.0)), unit)
                  for name, (unit, *_) in PER_LAYER.items()}
        events.annotate(ctx.tracer.spans)
        spans_dir = os.path.join(os.path.dirname(args.work_dir), "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans_path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json")
        ctx.tracer.write(spans_path)
        ctx.info["spans_file"] = os.path.relpath(spans_path, ROOT)
    out.pop("per_query", None)
    out["info"].update(ctx.info)
    out.update(layers=layers, env=env)
    with open(args.result, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    sys.exit(main())

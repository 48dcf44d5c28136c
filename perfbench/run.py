"""The repo benchmark: one workload run, printed as JSON.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 60 --trace 0

Runs from any working directory; the repository root is the parent of this
file's directory, and everything a run writes stays under
`<root>/.perfbench_run/`. The workload runs in a child process, so this
launcher can read the peak RSS of the driver Python process and its JVM from
/proc. The second-to-last stdout line is the detailed report (every
end-to-end metric by the name the workload defines it under, with unit and
sample count, plus checks and environment); the last line is the summary:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run (spans, wrapped store calls, Spark event log).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
TIMEOUT_S = 170.0

# the detailed report's unit for each end-to-end metric name
UNITS = {
    "setup_s": "s", "crawl_docs_per_s": "docs/s", "round_s_p50": "s", "query_mix_s": "s",
    "query_s_p50": "s", "error_rate": "ratio", "peak_rss_mb": "MB",
}


def _throughput(kind: str, e2e: dict, config: dict, workload: str) -> float:
    """BENCHMARK.json's throughput_per_s, one name for every workload:
    crawl_docs_per_s on a crawl, queries per second of mix wall on
    query_mix."""
    if kind == "crawl":
        return e2e["crawl_docs_per_s"][0]
    return len(config["workloads"][workload]["queries"]) / e2e["query_mix_s"][0]


def _proc_tree(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _hwm_kb(pid: int) -> tuple[str, int]:
    """(command name, VmHWM in kB) of a live process; ("", 0) if gone."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return comm, int(line.split()[1])
    except OSError:
        pass
    return "", 0


def _stop_group(pgid: int) -> None:
    """Stop every process left in the run's process group and wait for
    them to end."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 10
        while time.time() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "commoncrawlscalatools_spark", "__init__.py")):
        print(f"no commoncrawlscalatools_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "perfbench", "config.json")) as f:
        config = json.load(f)
    if args.workload not in config["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    kind = config["workloads"][args.workload]["kind"]

    work = os.path.join(RUN_DIR, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    result_path = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if args.trace:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
                   "--conf", "spark.eventLog.compress=false"]
    env = dict(
        os.environ,
        # Python workers import the package too: a sys.path insert in the
        # driver does not reach them
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        SPARK_GRAFT_DRIVER_MEM=config["driver_memory"],
        SPARK_GRAFT_JAVA_OPTS=f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
    )
    t0 = time.time()
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--size", args.size, "--t0", repr(t0),
           "--work-dir", work, "--result", result_path]
    # Spark's own output goes to stderr: stdout carries only the report
    child = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr.fileno(),
                             stderr=sys.stderr.fileno(), start_new_session=True)
    hwm: dict[int, tuple[str, int]] = {}
    try:
        while child.poll() is None:
            if time.time() - t0 > TIMEOUT_S:
                print(f"timed out after {TIMEOUT_S:.0f} s", file=sys.stderr)
                return 3
            for pid in _proc_tree(child.pid):
                comm, kb = _hwm_kb(pid)
                if kb:
                    hwm[pid] = (comm, max(kb, hwm.get(pid, ("", 0))[1]))
            time.sleep(0.2)
    finally:
        if child.poll() is None:
            child.kill()
        child.wait()
        _stop_group(child.pid)
    if child.returncode != 0 or not os.path.exists(result_path):
        print(f"workload process exited with {child.returncode}", file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)

    # driver Python process plus the JVM it launched
    jvm_kb = max((kb for pid, (comm, kb) in hwm.items() if comm == "java"), default=0)
    peak_rss_mb = (hwm.get(child.pid, ("", 0))[1] + jvm_kb) / 1024.0
    e2e = {"setup_s": (res["setup_s"], config["setup_repeats"]), **{k: tuple(v) for k, v in res["e2e"].items()},
           "error_rate": (res["failed"] / max(1, res["attempted"]), res["attempted"]),
           "peak_rss_mb": (peak_rss_mb, 1)}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size,
        "metrics": [{"name": k, "unit": UNITS[k], "value": v, "samples": n}
                    for k, (v, n) in e2e.items()],
        "info": res["info"], "env": res["env"],
    }
    print(json.dumps(detail))

    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["layers"].items()}
    else:
        metrics = {
            "setup_s": {"value": e2e["setup_s"][0], "unit": "s"},
            "throughput_per_s": {"value": _throughput(kind, e2e, config, args.workload),
                                 "unit": "1/s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

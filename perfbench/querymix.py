"""query_mix workload: one closed-loop client runs the library queries in
the fixed order of the configured list over tables generated from the
workload seed; every result is checked against its DuckDB oracle after the
timed window."""

from __future__ import annotations

import importlib.util
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from commoncrawlscalatools_spark.queries import all_oracles, all_queries

from perfbench import datagen


def _check_oracle_module(root: str):
    """tools/check_oracle.py, for the value normalization the repo's
    correctness gate uses."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run(new_session, ctx) -> tuple[dict, SparkSession]:
    import duckdb

    size, tracer = ctx.size, ctx.tracer
    queries, oracles = all_queries(), all_oracles()
    order = ctx.workload_cfg["queries"]
    # the oracles depend only on the seeded tables: they run on their own
    # copy (one DuckDB cursor each) while the JVM starts, outside every
    # timed window
    oracle_dir = os.path.join(ctx.work_dir, "oracle-data")
    datagen.write_query_tables(oracle_dir, ctx.seed, size)
    con = duckdb.connect()
    for name in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(oracle_dir, name + '.parquet')}'")
    with ThreadPoolExecutor(max_workers=len(order)) as pool:
        futs = {name: pool.submit(_oracle_rows, con.cursor(), oracles[name]) for name in order}
        new_session()
        expected = {name: fut.result() for name, fut in futs.items()}
    con.close()

    # -- set-up, repeated: a new session and the tables, each into a fresh
    # directory; the last tables are the ones queried
    setups = []
    for k in range(ctx.setup_repeats):
        t = time.time()
        spark = new_session()
        data_dir = os.path.join(ctx.work_dir, f"data{k}")
        datagen.write_query_tables(data_dir, ctx.seed, size)
        setups.append(time.time() - t)
    sc = spark.sparkContext

    # -- measured: exactly one cold pass
    per_query: dict[str, dict] = {}
    results: dict[str, tuple[list[str], list] | Exception] = {}
    t_start = time.time()
    for name in order:
        rec: dict = {}
        with tracer.root_span(f"query {name}", query=name):
            t = time.perf_counter()
            try:
                if ctx.trace:
                    sc.setJobGroup(f"q:{name}:build", name)
                with tracer.span("queries.build"):
                    df = queries[name](spark, data_dir)
                rec["build_s"] = time.perf_counter() - t
                if ctx.trace:
                    sc.setJobGroup(f"q:{name}:exec", name)
                    t1 = time.perf_counter()
                    with tracer.span("queries.plan"):
                        df._jdf.queryExecution().executedPlan()
                    rec["plan_s"] = time.perf_counter() - t1
                t2 = time.perf_counter()
                with tracer.span("queries.execute"):
                    rows = [tuple(r) for r in df.collect()]
                rec["exec_s"] = time.perf_counter() - t2
                results[name] = (df.columns, rows)
            except Exception as e:  # counted as a failed operation
                print(f"query {name} raised: {type(e).__name__}: {e}", flush=True)
                results[name] = e
            finally:
                if ctx.trace:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            rec["wall_s"] = time.perf_counter() - t
        per_query[name] = rec
    t_end = time.time()

    # oracle check, outside the timed window; --seconds is each query's
    # time limit, and a slower query counts as failed
    norm = _check_oracle_module(ctx.root)
    bad = [name for name in order
           if isinstance(results[name], Exception) or per_query[name]["wall_s"] > ctx.seconds
           or not _matches(norm, *results[name], *expected[name])]
    if bad:
        print(f"queries that raised, failed their oracle or ran over the limit: {bad}", flush=True)
    walls = [r["wall_s"] for r in per_query.values()]
    return {
        "setup_s": statistics.median(setups),
        "attempted": len(order),
        "failed": len(bad),
        "correct": not bad,
        "window": (t_start, t_end),
        "e2e": {
            "query_mix_s": (t_end - t_start, 1),
            "query_s_p50": (statistics.median(walls) if walls else 0.0, len(walls)),
        },
        "info": {"setup_s_each": setups, "order": order, "failed_queries": bad,
                 "query_wall_s": {name: rec["wall_s"] for name, rec in per_query.items()}},
        "per_query": per_query,
    }, spark


def _oracle_rows(con, oracle_sql: str) -> tuple[list[str], list]:
    res = con.execute(oracle_sql)
    return [d[0] for d in res.description], res.fetchall()


def _matches(norm, cols: list[str], rows: list, d_cols: list[str], d_rows: list) -> bool:
    """Spark result equals the oracle: same column names, row count, and
    order-insensitive normalized values (as tools/check_oracle.py)."""
    if sorted(cols) != sorted(d_cols) or len(rows) != len(d_rows):
        return False
    return norm.rows_key(cols, rows) == norm.rows_key(d_cols, d_rows)


def layer_metrics(out: dict, events) -> dict:
    layers = {}
    for name, rec in out["per_query"].items():
        for k in ("build_s", "plan_s", "exec_s"):
            layers[f"q.{name}.{k}"] = rec.get(k, 0.0)
        layers[f"q.{name}.build_jobs"] = events.jobs_in_group(f"q:{name}:build")
    return layers

"""Crawl workloads: bootstrap a store, run a closed loop of engine rounds,
check the committed store's invariants, and (traced) replay one round's
layers from the committed snapshot."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from commoncrawlscalatools_spark.functions import urls as U
from commoncrawlscalatools_spark.operators import frontier as FR
from commoncrawlscalatools_spark.operators import robots as RB
from commoncrawlscalatools_spark.operators import seen as SN
from commoncrawlscalatools_spark.operators.robots import generate_robots
from commoncrawlscalatools_spark.plans.crawl import CrawlConfig, CrawlEngine
from commoncrawlscalatools_spark.sources import fetch as FE

from perfbench import datagen
from perfbench.trace import traced_store

PHASES = {  # per-layer name -> run_round phase_ms key
    "crawl.fetch_docs_commit_ms": "fetch_docs_commit",
    "crawl.feedback_seen_commit_ms": "feedback_seen_commit",
    "crawl.side_commit_barrier_ms": "side_commit_barrier",
    "crawl.metrics_commit_ms": "metrics_commit",
    "crawl.compaction_ms": "compaction",
}


def _dir_usage(root: str) -> tuple[int, int]:
    n_files = n_bytes = 0
    for d, _, files in os.walk(root):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(d, f))
    return n_files, n_bytes


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(new_session, ctx) -> tuple[dict, SparkSession]:
    spark = new_session()
    size, seed, tracer, wcfg = ctx.size, ctx.seed, ctx.tracer, ctx.workload_cfg
    cfg = CrawlConfig(per_host_cap=size["per_host_cap"], n_hosts=size["n_hosts"], **wcfg["engine"])
    n_rounds = wcfg["measured_rounds"]
    with traced_store(tracer) if ctx.trace else contextlib.nullcontext():
        # -- set-up, repeated: input generation and a store bootstrap, each
        # into a fresh store; the last store is crawled -------------------
        setups = []
        for k in range(ctx.setup_repeats):
            store_root = os.path.join(ctx.work_dir, f"store{k}")
            t = time.time()
            engine = CrawlEngine(spark, store_root, cfg)
            engine.bootstrap(datagen.crawl_seeds(spark, seed, size),
                             generate_robots(spark, size["n_hosts"], seed))
            setups.append(time.time() - t)
            if k:
                shutil.rmtree(os.path.join(ctx.work_dir, f"store{k - 1}"))
        usage0 = _dir_usage(store_root)

        # -- measured closed loop: a fixed number of rounds; a round that
        # raises ends the loop -------------------------------------------------
        rounds: list[dict] = []
        t_start = time.time()
        for r in range(1, n_rounds + 1):
            with tracer.root_span(f"round {r}", round=r) as sid:
                try:
                    m = engine.run_round(r)
                except Exception as e:
                    print(f"round {r} raised: {type(e).__name__}: {e}", flush=True)
                    break
            m["span"] = sid
            rounds.append(m)
        t_end = time.time()
    usage1 = _dir_usage(store_root)
    # --seconds is each round's time limit: a slower round counts as failed
    slow = {m["round"] for m in rounds if m["full_wall_s"] > ctx.seconds}
    if slow:
        print(f"rounds over the {ctx.seconds} s limit: {sorted(slow)}", flush=True)

    t_check = time.time()
    if rounds:
        bad_rounds, global_ok, digest = check_store(engine, ctx)
    else:
        bad_rounds, global_ok, digest = set(), False, ""
    t_check = time.time() - t_check
    # rounds that raised or never ran, plus those failing a check or the limit
    failed = n_rounds - len(rounds) + (len(bad_rounds | slow) if global_ok else len(rounds))
    walls = [m["full_wall_s"] for m in rounds]
    docs = sum(m["fetched_docs"] for m in rounds)
    out = {
        "setup_s": statistics.median(setups),
        "attempted": n_rounds,
        "failed": failed,
        "correct": global_ok and not bad_rounds and failed == 0,
        "window": (t_start, t_end),
        "e2e": {
            "crawl_docs_per_s": (docs / sum(walls) if walls else 0.0, len(rounds)),
            "round_s_p50": (statistics.median(walls) if walls else 0.0, len(walls)),
        },
        "info": {
            "setup_s_each": setups,
            "rounds": [{k: m[k] for k in ("round", "fetched_docs", "new_urls", "outlinks",
                                           "frontier_rows", "full_wall_s", "phase_ms")}
                       for m in rounds],
            "bad_rounds": sorted(bad_rounds),
            "check_s": t_check,
            "digest": digest,
            "store": os.path.relpath(store_root, ctx.root),
        },
    }
    if ctx.trace and rounds:
        out["layers"] = layer_metrics(engine, ctx, rounds, usage0, usage1)
    shutil.rmtree(store_root, ignore_errors=True)
    return out, spark


# -- output checks ---------------------------------------------------------------


def _docs(engine: CrawlEngine, last: int) -> DataFrame:
    df = engine.store.read("documents", 1)
    for v in range(2, last + 1):
        df = df.unionByName(engine.store.read("documents", v))
    return df


def _rounds_of(df: DataFrame) -> set[int]:
    return {row[0] for row in df.select("round").distinct().collect()}


def check_store(engine: CrawlEngine, ctx) -> tuple[set[int], bool, str]:
    """Invariants of the committed store. Returns (rounds failing a
    per-round check, whether the store-wide checks passed, digest)."""
    store, last = engine.store, engine.latest_round()
    docs = _docs(engine, last).persist()
    bad: set[int] = set()

    # a URL is fetched in at most one round (the later round is at fault)
    dup = docs.groupBy("url").agg(F.count("*").alias("n"), F.max("round").alias("round"))
    bad |= _rounds_of(dup.filter("n > 1"))

    # politeness within (round, host): fetch_seq unique and dense from 1
    # (dense only when no fetch fails), not_before_ms advances by at
    # least the host's crawl delay
    delays = RB.host_delays(store.read("robots", 0))
    w = W.partitionBy("round", "host").orderBy("fetch_seq")
    pol = (
        docs.join(F.broadcast(delays), "host", "left")
        .withColumn("delay", F.coalesce("crawl_delay_ms", F.lit(RB.DEFAULT_CRAWL_DELAY_MS)))
        .withColumn("gap", F.col("not_before_ms") - F.lag("not_before_ms").over(w))
        .withColumn("prev_seq", F.lag("fetch_seq").over(w))
    )
    bad_pol = (F.col("gap") < F.col("delay")) | (F.col("prev_seq") == F.col("fetch_seq"))
    if engine.config.fail_permille == 0:
        dense = F.when(F.col("prev_seq").isNull(), F.col("fetch_seq") == 1).otherwise(
            F.col("fetch_seq") == F.col("prev_seq") + 1
        )
        bad_pol = bad_pol | ~dense
    bad |= _rounds_of(pol.filter(bad_pol))

    # no fetched URL matches a disallow rule of its host (host parsed from
    # the URL itself, not the engine's host column)
    rules = store.read("robots", 0).select(F.col("host").alias("url_host"), "disallow_prefixes")
    blocked = (
        docs.withColumn("url_host", U.url_host(F.col("url")))
        .join(F.broadcast(rules), "url_host")
        .filter(F.exists("disallow_prefixes", lambda p: RB.url_path(F.col("url")).startswith(p)))
    )
    bad |= _rounds_of(blocked)

    # each round's fetched_docs equals its documents row count
    counts = {row["round"]: row["n"] for row in docs.groupBy("round").agg(F.count("*").alias("n")).collect()}
    for row in store.read("metrics", last).select("round", "fetched_docs").collect():
        if counts.get(row["round"], 0) != row["fetched_docs"]:
            bad.add(row["round"])

    # seen: no duplicates, and equal to the url_hash set of frontier ∪ frontier_log
    seen = store.read("seen", last)
    front = engine.read_frontier(last).select("url_hash").distinct()
    seen_dups = seen.groupBy("url_hash").count().filter("count > 1").count()
    seen_only = seen.select("url_hash").join(front, "url_hash", "left_anti").count()
    front_only = front.join(seen.select("url_hash"), "url_hash", "left_anti").count()
    global_ok = seen_dups == seen_only == front_only == 0
    if not global_ok:
        print(f"seen check failed: dups={seen_dups} seen_only={seen_only} "
              f"frontier_only={front_only}", flush=True)

    # order-insensitive digest of every round the run crawled
    digest = "|".join(_digest(df) for df in (docs, seen))
    pinned = ctx.workload_cfg["pinned_digest"].get(str(ctx.seed))
    if ctx.size_name == "bench" and pinned is not None and pinned != digest:
        print(f"digest {digest} != pinned {pinned}", flush=True)
        global_ok = False
    docs.unpersist()
    if bad:
        print(f"rounds failing checks: {sorted(bad)}", flush=True)
    return bad, global_ok, digest


def _digest(df: DataFrame) -> str:
    row = df.select(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(*df.columns).bitwiseAND(F.lit(0xFFFFFFFF))).alias("h"),
    ).first()
    return f"{row['n']}:{row['h'] or 0}"


# -- traced run: per-layer metrics ------------------------------------------------------


def layer_metrics(engine, ctx, rounds, usage0, usage1) -> dict:
    tracer, store = ctx.tracer, engine.store
    med = statistics.median
    out: dict[str, float] = {}
    for name, key in PHASES.items():
        out[name] = med(m["phase_ms"][key] for m in rounds)
    out["crawl.docs_write_ms"] = med(m["docs_write_wall_ms"] for m in rounds)

    # plans.state, from the wrapped SnapshotStore calls inside each round
    per_round = {"commits": [], "commit_s": [], "publish_s": [], "compact_s": []}
    for m in rounds:
        kids = tracer.children(m["span"], "state.")
        commits = [s for s in kids if s["top"] and s["name"] in ("state.write", "state.write_unpublished")]
        per_round["commits"].append(len(commits))
        per_round["commit_s"].append(sum(s["end"] - s["start"] for s in commits))
        per_round["publish_s"].append(
            sum(s["end"] - s["start"] for s in kids if s["name"] == "state.publish"))
        per_round["compact_s"].append(
            sum(s["end"] - s["start"] for s in kids if s["name"] == "state.compact"))
    for k, v in per_round.items():
        out[f"state.{k}"] = med(v)
    docs = sum(m["fetched_docs"] for m in rounds)
    out["state.bytes_per_doc"] = (usage1[1] - usage0[1]) / max(1, docs)
    out["state.files_per_round"] = (usage1[0] - usage0[0]) / len(rounds)
    out["state.seen_read_paths"] = len(store.read_paths("seen"))

    # per-round revisit ratio: 1 - new URLs / candidates
    robots = store.read("robots", 0).persist()
    ratios = []
    for m in rounds:
        cand = _candidates(store.read("documents", m["round"]), robots).count()
        ratios.append(1.0 - m["new_urls"] / cand if cand else 0.0)
    ctx.info["seen.revisit_ratio_per_round"] = ratios
    out["seen.revisit_ratio"] = med(ratios)

    full = engine.read_frontier()
    out["frontier.host_mismatch_rows"] = full.filter(
        F.col("host") != U.url_host(F.col("url"))).count()

    out.update(replay(engine, ctx, rounds[-1]["round"], robots))
    robots.unpersist()
    return out


def _links(docs: DataFrame) -> DataFrame:
    """Outlinks as seed rows, as the engine feeds them back."""
    return docs.select(F.explode("outlinks").alias("url")).withColumn("priority", F.lit(0.5))


def _candidates(docs: DataFrame, robots: DataFrame) -> DataFrame:
    return RB.apply_robots(FR.canonicalize_seeds(_links(docs)), robots)


def replay(engine, ctx, r, robots) -> dict:
    """Re-run round r's layers from the committed r-1 snapshot, each on
    cached inputs and forced by a noop write, so each span times one
    layer's execution rather than its lazy plan construction."""
    with ctx.tracer.root_span(f"replay round {r}", round=r):
        return _replay(engine, ctx.tracer, r, robots)


def _replay(engine, tracer, r, robots) -> dict:
    store, cfg = engine.store, engine.config
    cached: list[DataFrame] = []

    def cache(df):
        df = df.persist()
        df.count()
        cached.append(df)
        return df

    def timed(name, df):
        t = time.time()
        with tracer.span(name):
            _noop(df)
        return time.time() - t

    out = {}
    frontier = cache(store.read("frontier", r - 1))
    host_state = cache(store.read("host_state", r - 1))
    # compaction may have expired seen's r-1 snapshot: filter the latest one
    seen = cache(store.read("seen").filter(F.col("round_added") < r))
    out["frontier.pending_rows"] = frontier.filter(F.col("state") == "pending").count()

    sched = FR.schedule_round(frontier, host_state, RB.host_delays(robots), r,
                              per_host_cap=cfg.per_host_cap, budget=cfg.budget,
                              shuffle_partitions=cfg.shuffle_partitions)
    out["frontier.schedule_s"] = timed("frontier.schedule_round", sched)
    outcome = cache(FR.fetch_outcome(sched, r, cfg.fail_permille))
    out["frontier.scheduled_rows"] = outcome.count()

    docs = FE.fetch_and_extract(outcome.filter(~F.col("fetch_failed")), n_hosts=cfg.n_hosts)
    out["fetch.extract_s"] = timed("fetch.fetch_and_extract", docs)
    docs = cache(docs)
    agg = docs.select(F.count("*"), F.sum(F.size("spans")), F.sum(F.size("outlinks"))).first()
    out["fetch.docs"], out["fetch.spans"], out["fetch.outlinks"] = (int(v or 0) for v in agg)

    cand = FR.canonicalize_seeds(cache(_links(docs)))
    out["frontier.canonicalize_s"] = timed("frontier.canonicalize_seeds", cand)
    cand = cache(cand)
    passed = RB.apply_robots(cand, robots)
    out["robots.filter_s"] = timed("robots.apply_robots", passed)
    passed = cache(passed)
    n_cand = passed.count()
    out["seen.candidates"] = n_cand
    out["robots.pass_ratio"] = n_cand / max(1, cand.count())

    bloom_prev = store.read("bloom", r - 1)
    bc = engine.spark.sparkContext.broadcast(SN.collect_bloom(bloom_prev))
    flagged = SN.bloom_maybe_seen(passed, bc, n_buckets=cfg.bloom_buckets)
    out["seen.probe_s"] = timed("seen.bloom_maybe_seen", flagged)
    flagged = cache(flagged)
    maybe = cache(flagged.filter("maybe_seen").drop("maybe_seen"))
    n_maybe = maybe.count()
    exact = SN.filter_unseen(maybe, seen)
    out["seen.exact_s"] = timed("seen.filter_unseen", exact)
    n_fp = exact.count()
    out["seen.maybe_seen_ratio"] = n_maybe / max(1, n_cand)
    out["seen.fp_ratio"] = n_fp / n_maybe if n_maybe else 0.0
    out["seen.filter_bytes"] = sum(
        len(row["bits"]) for row in store.read("bloom", r).select("bits").collect())
    bc.unpersist()

    trans = FR.apply_fetch_results(frontier, outcome, r, max_retries=cfg.max_retries)
    out["frontier.transition_s"] = timed("frontier.apply_fetch_results", trans)
    out["frontier.retry_rows"] = trans.filter(
        (F.col("state") == "pending") & (F.col("retries") > 0)).count()
    for df in cached:
        df.unpersist()
    return out

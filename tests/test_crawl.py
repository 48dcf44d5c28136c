"""End-to-end crawl loop: span-sequence invariants, outlink feedback,
checkpoint/resume equivalence (north rule)."""

import shutil

import pytest
from pyspark.sql import functions as F

from commoncrawlscalatools_spark.operators.frontier import (
    as_frontier_rows,
    canonicalize_seeds,
    schedule_round,
)
from commoncrawlscalatools_spark.operators.robots import generate_robots
from commoncrawlscalatools_spark.plans.crawl import CrawlConfig, CrawlEngine
from commoncrawlscalatools_spark.sources.fetch import (
    extract_documents,
    fetch_and_extract,
    synthesize_payload,
)
from commoncrawlscalatools_spark.sources.seeds import generate_seeds


def _scheduled(spark, n=200, hosts=10):
    seeds = generate_seeds(spark, n, seed=3, n_hosts=hosts)
    fr = as_frontier_rows(canonicalize_seeds(seeds), 0)
    return schedule_round(fr, None, None, 1, per_host_cap=10)


def _py_extract(payload: str):
    """Pure-Python reference oracle for the extraction stage."""
    spans, links, off = [], [], 0
    for line in payload.split("\n"):
        if line.startswith("T:"):
            spans.append(("text", line[2:], None, off)); off += 1
        elif line.startswith("M:"):
            spans.append(("media", None, line[2:], off)); off += 1
        elif line.startswith("L:"):
            links.append(line[2:])
    return spans, links


def test_span_sequence_equality_vs_oracle(spark):
    wp = synthesize_payload(_scheduled(spark), n_hosts=10)
    docs = extract_documents(wp)
    joined = docs.join(wp.select("url", "payload"), "url").collect()
    assert len(joined) > 0
    for r in joined:
        exp_spans, exp_links = _py_extract(r["payload"])
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        assert got == exp_spans, "span-sequence equality (kind, text, media_ref, order)"
        assert list(r["outlinks"]) == exp_links


def test_span_offsets_ordered_and_kinds_consistent(spark):
    docs = fetch_and_extract(_scheduled(spark), n_hosts=10).collect()
    for r in docs:
        offs = [s["offset"] for s in r["spans"]]
        assert offs == list(range(len(offs)))
        for s in r["spans"]:
            if s["kind"] == "text":
                assert s["text"] is not None and s["media_ref"] is None
            else:
                assert s["media_ref"] is not None and s["text"] is None


def test_fetch_deterministic_across_partitioning(spark):
    sched = _scheduled(spark)
    a = fetch_and_extract(sched.repartition(1), n_hosts=10).orderBy("doc_id").collect()
    b = fetch_and_extract(sched.repartition(9), n_hosts=10).orderBy("doc_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


@pytest.fixture()
def store_root(tmp_path):
    root = str(tmp_path / "crawlstate")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def test_crawl_rounds_and_resume(spark, store_root):
    seeds = generate_seeds(spark, 300, seed=11, n_hosts=20)
    robots = generate_robots(spark, 20, seed=11)
    cfg = CrawlConfig(per_host_cap=5, n_hosts=20, bloom_buckets=8, doc_coalesce=2)
    eng = CrawlEngine(spark, store_root, cfg)
    eng.bootstrap(seeds, robots)
    m1 = eng.run(2)
    assert [m["round"] for m in m1] == [1, 2]
    assert all(m["fetched_docs"] == m["scheduled"] for m in m1)

    # resume: a new engine instance continues from round 2
    eng2 = CrawlEngine(spark, store_root, cfg)
    assert eng2.latest_round() == 2
    m2 = eng2.run(3)
    assert [m["round"] for m in m2] == [3]

    # URL-seen set equality: seen table == distinct frontier url_hashes
    seen = {r[0] for r in eng2.store.read("seen", 3).select("url_hash").collect()}
    fr = {r[0] for r in eng2.read_frontier(3).select("url_hash").collect()}
    assert seen == fr

    # frontier states are consistent: every fetched row was pending before
    frontier = eng2.read_frontier(3)
    states = {r["state"] for r in frontier.select("state").distinct().collect()}
    assert states <= {"pending", "fetched"}

    # lineage recorded per round
    lineage = eng2.store.read("lineage", 3)
    assert lineage.count() > 0


def _state_md5(state) -> str:
    """md5 over a filter state table's rows in bucket order, every column
    (geometry, counts and the filter bytes)."""
    import hashlib

    h = hashlib.md5()
    for row in sorted(state.collect(), key=lambda r: r["bucket"]):
        for v in row:
            h.update(bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode())
            h.update(b"|")
    return h.hexdigest()


# Per-flavor starting geometry, sized so no health rebuild fires, and the
# md5 of the stored state after each round (0 = bootstrap). The digests
# were recorded from the maintenance that preceded the shared SeenFilter
# path (Bloom: build a delta filter, OR-merge it; cuckoo:
# insert_into_cuckoo); the state bytes must not change, not only the
# membership answers.
INCREMENTAL_CASES = {
    "bloom": ({"bloom_bits": 1 << 15}, [
        "a6b3be2337e43ce6f437759dc3144ceb",
        "5ed0d2e684e5ed027cb681eac9295e0f",
        "62dd1884bfa85c211aae685e37c87f73",
        "5e1a2cf9e973c8003ee721bb7962d78a",
    ]),
    "cuckoo": ({"cuckoo_slots": 1 << 9}, [
        "e763b95b27775204066e616308419dca",
        "52c0fdf74a77c1acd7bb04c20438e0e9",
        "414b90ec32a92ab420f2be11bca84c0e",
        "10dcf8b2b8c73e37a1e532526d7bf3ba",
    ]),
}


@pytest.mark.parametrize("flavor", ["bloom", "cuckoo"])
def test_incremental_filter_tracks_seen_exactly(spark, store_root, flavor):
    """Each round adds only its NEW urls to the stored per-bucket filter
    rows: n_items across buckets must equal |seen| after every round (i.e.
    the round's additions == its new URLs), the seen table must equal the
    frontier's url hashes, the filter must have zero false negatives over
    the seen set, and the stored state bytes are pinned per round."""
    geometry, pinned_md5 = INCREMENTAL_CASES[flavor]
    seeds = generate_seeds(spark, 250, seed=7, n_hosts=15)
    robots = generate_robots(spark, 15, seed=7)
    cfg = CrawlConfig(per_host_cap=5, n_hosts=15, seen_filter=flavor, bloom_buckets=8,
                      doc_coalesce=2, **geometry)
    eng = CrawlEngine(spark, store_root, cfg)
    eng.bootstrap(seeds, robots)
    metrics = eng.run(3)
    assert [m["round"] for m in metrics] == [1, 2, 3]
    assert not any(m["seen_filter_rebuilt"] for m in metrics)
    assert [_state_md5(eng.store.read(flavor, r)) for r in range(4)] == pinned_md5
    prev_items = None
    for r in range(0, 4):
        state = eng.store.read(flavor, r)
        n_items = sum(row["n_items"] for row in state.select("n_items").collect())
        n_seen = eng.store.read("seen", r).count()
        assert n_items == n_seen, f"round {r}: filter item count != |seen|"
        if r >= 1:
            assert n_items - prev_items == metrics[r - 1]["new_urls"]
        prev_items = n_items
    seen = eng.store.read("seen", 3).select("url_hash")
    fr = {x[0] for x in eng.read_frontier(3).select("url_hash").collect()}
    assert {x[0] for x in seen.collect()} == fr
    # zero false negatives: every seen url_hash must probe maybe_seen=true
    state = eng.seen_filter.collect(eng.store.read(flavor, 3))
    flagged = eng.seen_filter.maybe_seen(seen, state)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_store_read_rejects_unpublished_version(spark, tmp_path):
    """A parquet directory written but never published in the manifest must
    be invisible (all-or-nothing round semantics after a mid-round kill)."""
    from commoncrawlscalatools_spark.plans.state import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "st"))
    df = spark.range(5).withColumnRenamed("id", "x")
    store.write("tbl", df, 0)
    # simulate a kill between parquet write and manifest publish
    df.write.mode("overwrite").parquet(str(tmp_path / "st" / "tbl" / "v=1"))
    assert store.latest_version("tbl") == 0
    with pytest.raises(FileNotFoundError):
        store.read("tbl", 1)


def test_kill_between_commits_rerolls_round_identically(spark, store_root):
    """Kill after the seen commit but BEFORE the frontier marker: the round
    must re-run from scratch and converge to the same state as an
    uninterrupted run (frontier-last commit protocol)."""
    seeds = generate_seeds(spark, 200, seed=13, n_hosts=12)
    robots = generate_robots(spark, 12, seed=13)
    cfg = CrawlConfig(per_host_cap=4, n_hosts=12, bloom_buckets=8, doc_coalesce=2)
    eng = CrawlEngine(spark, store_root, cfg)
    eng.bootstrap(seeds, robots)
    eng.run(1)

    # simulate the partial round 2: every table except frontier commits
    frontier = eng.store.read("frontier", 1)
    eng.store.write("seen", eng.store.read("seen", 1), 2)
    eng.store.write("documents", eng.store.read("documents", 1).limit(3), 2)
    assert eng.latest_round() == 1  # marker still at 1 → round 2 reclaims

    m = eng.run(2)
    assert [x["round"] for x in m] == [2]
    # the re-run overwrote the partial commits: seen v2 == frontier v2 hashes
    seen = {r[0] for r in eng.store.read("seen", 2).select("url_hash").collect()}
    fr = {r[0] for r in eng.read_frontier(2).select("url_hash").collect()}
    assert seen == fr


def test_retry_backoff_and_give_up(spark, store_root):
    """Deterministic synthetic fetch failures requeue with retries+1 and
    class backoff priority, then park as `failed` past the CLASS retry cap
    (reference ProcessWETPaths typed retry path, per-exception budgets).
    Retry accounting invariant (ADVICE r2): the `retries` column counts
    failed attempts; logs report re-attempts = failures - 1 on give-up."""
    import re

    from commoncrawlscalatools_spark.operators.frontier import FAILURE_CLASSES

    seeds = generate_seeds(spark, 300, seed=5, n_hosts=10)
    robots = generate_robots(spark, 10, seed=5)
    cfg = CrawlConfig(per_host_cap=30, n_hosts=10, seen_filter="none",
                      fail_permille=400, max_retries=1, doc_coalesce=2)
    eng = CrawlEngine(spark, store_root, cfg)
    eng.bootstrap(seeds, robots)
    metrics = eng.run(4)
    assert any(m["failed_fetches"] > 0 for m in metrics)
    frontier = eng.read_frontier(eng.latest_round())
    rows = frontier.collect()
    states = {r["state"] for r in rows}
    assert "fetched" in states
    retried = [r for r in rows if r["retries"] > 0]
    assert retried, "some URL must have failed and been requeued"
    for r in retried:
        if r["state"] == "failed":
            m = re.fullmatch(
                r"gave up round \d+ \((\w+)\) after (\d+) retries", r["log_message"]
            )
            assert m, r["log_message"]
            cls, n = m.group(1), int(m.group(2))
            # give-up log counts RE-attempts: failures - 1
            assert n == r["retries"] - 1
            # parked because the final failure's class budget ran out
            # (earlier failures may have been laxer classes, so >=)
            assert n >= FAILURE_CLASSES[cls][0]
        elif r["state"] == "pending":
            m = re.search(
                r"\((\w+) failure (\d+), retrying\)", r["log_message"]
            )
            assert m, r["log_message"]
            cls, n = m.group(1), int(m.group(2))
            assert n == r["retries"]
            # requeued ⇒ still within the class budget
            assert n <= FAILURE_CLASSES[cls][0]
    for r in rows:
        if r["state"] == "fetched":
            assert r["log_message"].startswith("fetched round")


def test_bloom_saturation_rebuild_recovers_fp_rate(spark, store_root):
    """Saturation trigger: a deliberately tiny fixed geometry saturates
    within a round (every bit set ⇒ FP rate → 1, pre-filter useless); the
    engine must detect n_items·bits_per_item > n_bits after the merge and
    rebuild at a geometry sized for the worst bucket, recovering the FP
    rate (measured as the maybe_seen fraction of never-seen probe URLs)."""
    from commoncrawlscalatools_spark.operators.seen import (
        BLOOM_BITS_PER_ITEM,
        bloom_maybe_seen,
    )

    cfg = CrawlConfig(per_host_cap=20, n_hosts=15, seen_filter="bloom",
                      bloom_buckets=2, bloom_bits=1 << 7, doc_coalesce=2)
    eng = CrawlEngine(spark, store_root, cfg)
    eng.bootstrap(generate_seeds(spark, 400, seed=13, n_hosts=15),
                  generate_robots(spark, 15, seed=13))
    metrics = eng.run(3)
    assert any(m["seen_filter_rebuilt"] for m in metrics), "rebuild must fire"
    probes = spark.range(0, 5000).select(
        F.xxhash64(F.col("id"), F.lit(123456)).alias("url_hash")
    )
    fp_before = (
        bloom_maybe_seen(probes, eng.store.read("bloom", 0), n_buckets=2)
        .filter(F.col("maybe_seen")).count() / 5000
    )
    last = eng.latest_round()
    fp_after = (
        bloom_maybe_seen(probes, eng.store.read("bloom", last), n_buckets=2)
        .filter(F.col("maybe_seen")).count() / 5000
    )
    assert fp_before > 0.5, f"128-bit buckets with ~200 items must saturate ({fp_before})"
    assert fp_after < 0.1, f"rebuild must recover the FP rate ({fp_after})"
    rows = eng.store.read("bloom", last).select("n_bits", "n_items").collect()
    assert all(
        r["n_items"] * BLOOM_BITS_PER_ITEM <= r["n_bits"] for r in rows
    ), "committed geometry must satisfy the health invariant"


def test_engine_compaction_bounds_paths_and_resumes(spark, store_root):
    """Engine-driven delta compaction (VERDICT r3 #1): with compact_every=2
    over 6 rounds, the append-mode seen/frontier_log read path count stays
    bounded (≤ 1 base + compact_every deltas), reads are identical to the
    uncompacted union, and a NEW engine instance resumes from the
    compacted state and keeps the URL-seen invariant."""
    seeds = generate_seeds(spark, 250, seed=17, n_hosts=15)
    robots = generate_robots(spark, 15, seed=17)
    cfg = CrawlConfig(per_host_cap=4, n_hosts=15, bloom_buckets=8,
                      doc_coalesce=2, compact_every=2)
    eng = CrawlEngine(spark, store_root, cfg)
    eng.bootstrap(seeds, robots)
    eng.run(4)
    # rounds 0..4 committed; compaction fired at rounds 2 and 4
    for table in ("seen", "frontier_log"):
        assert len(eng.store.read_paths(table)) <= 1 + cfg.compact_every, table

    # resume from compacted state: a fresh engine continues cleanly
    eng2 = CrawlEngine(spark, store_root, cfg)
    assert eng2.latest_round() == 4
    m = eng2.run(6)
    assert [x["round"] for x in m] == [5, 6]
    assert len(eng2.store.read_paths("seen")) <= 1 + cfg.compact_every

    # compacted seen table still equals the distinct frontier url_hashes
    seen = {r[0] for r in eng2.store.read("seen", 6).select("url_hash").collect()}
    fr = {r[0] for r in eng2.read_frontier(6).select("url_hash").collect()}
    assert seen == fr
    # the Bloom filter (rebuilt incrementally across compactions) still has
    # zero false negatives over the compacted seen set
    from commoncrawlscalatools_spark.operators.seen import bloom_maybe_seen

    flagged = bloom_maybe_seen(
        eng2.store.read("seen", 6), eng2.store.read("bloom", 6), n_buckets=8
    )
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


# Tiny starting geometry per flavor, the rebuild each round must report,
# and the pinned per-round state md5 (recorded as for INCREMENTAL_CASES).
GUARD_CASES = {
    "bloom": ({"bloom_bits": 1 << 7}, [True, True], [
        "2d18228a6d6759510c0b986d41d3a633",
        "e4ede6e57487958adbd6f04e9ffa1ac9",
        "932e75bd7199d1f6ba8e78b2f0b4c68b",
    ]),
    "cuckoo": ({"cuckoo_slots": 1 << 3}, [True, False], [
        "0c4c7133c16771f22d77ad6183bdb2f0",
        "fe0591810cd2332d2f7e45181767ada6",
        "09f6bde121bd99b4d94de046e59293d0",
    ]),
}


def _check_guard_rebuild_and_metrics_table(spark, store_root, flavor):
    """A tiny starting geometry overflows within a round: the health guard
    must rebuild from the seen table (a cuckoo overflow evicts items, a
    false negative; a Bloom one only saturates), every committed state is
    healthy with zero false negatives and pinned bytes, and the persisted
    metrics table (not just the returned dict) carries the guard/health
    fields — a monitoring consumer reading the store sees the forced
    rebuild, the per-phase walls, and the frontier/finished counts."""
    geometry, rebuilt, pinned_md5 = GUARD_CASES[flavor]
    cfg = CrawlConfig(per_host_cap=20, n_hosts=15, seen_filter=flavor,
                      bloom_buckets=2, doc_coalesce=2, **geometry)
    eng = CrawlEngine(spark, store_root, cfg)
    eng.bootstrap(generate_seeds(spark, 400, seed=11, n_hosts=15),
                  generate_robots(spark, 15, seed=11))
    metrics = eng.run(2)
    assert [m["seen_filter_rebuilt"] for m in metrics] == rebuilt
    # only a cuckoo overflow loses items
    assert any(m["seen_filter_evicted"] > 0 for m in metrics) == (flavor == "cuckoo")
    assert [_state_md5(eng.store.read(flavor, r)) for r in range(3)] == pinned_md5
    flt = eng.seen_filter
    for r in range(0, 3):
        state = eng.store.read(flavor, r)
        seen = eng.store.read("seen", r).select("url_hash")
        if r >= 1:  # bootstrap has no guard; every round's commit does
            assert flt.health(state) == (0, None), f"round {r}: committed state unhealthy"
        assert sum(row["n_items"] for row in state.select("n_items").collect()) == seen.count()
        flagged = flt.maybe_seen(seen, state)
        assert flagged.filter(~F.col("maybe_seen")).count() == 0
    # read back from the STORE — the process-independent channel. The
    # metrics table is append-mode: one scan returns the full round history.
    history = eng.store.read("metrics")
    assert history.count() == len(metrics)
    for m in metrics:
        row = history.filter(F.col("round") == m["round"]).collect()[0].asDict()
        assert row["seen_filter_rebuilt"] == m["seen_filter_rebuilt"]
        assert row["seen_filter_evicted"] == m["seen_filter_evicted"]
        assert row["frontier_rows"] == m["frontier_rows"]
        assert row["finished_urls"] == m["finished_urls"]
        assert row["failed_urls"] == m["failed_urls"]
        assert row["fetched_docs"] == m["fetched_docs"]
        for phase in ("fetch_docs_commit", "feedback_seen_commit",
                      "frontier_data_write", "side_commit_barrier"):
            assert row[f"phase_{phase}_ms"] == m["phase_ms"][phase]
    assert any(r["seen_filter_rebuilt"] for r in history.collect()), (
        "the rebuild guard event must be visible from the store alone"
    )


def test_round_metrics_table_is_durable_with_guard_fields(spark, store_root):
    _check_guard_rebuild_and_metrics_table(spark, store_root, "cuckoo")


def test_bloom_saturation_guard_fields_in_metrics_table(spark, store_root):
    _check_guard_rebuild_and_metrics_table(spark, store_root, "bloom")


def test_typed_failure_class_give_up_rounds(spark):
    """Each failure class parks after exactly 1 + class_cap failed attempts
    (socket: immediately; dns: initial + 10 re-attempts; slow: 1; http: 8),
    pinned by driving apply_fetch_results with hand-built typed outcomes."""
    from commoncrawlscalatools_spark.operators.frontier import (
        FAILURE_CLASSES,
        apply_fetch_results,
    )

    classes = list(FAILURE_CLASSES)
    seeds = spark.createDataFrame(
        [(f"https://h{i}.example.com/", 1.0) for i in range(len(classes))],
        ["url", "priority"],
    )
    frontier = as_frontier_rows(canonicalize_seeds(seeds), 0)
    hosts = {r["url"]: r["host"] for r in frontier.collect()}
    cls_of_host = {hosts[f"https://h{i}.example.com/"]: c for i, c in enumerate(classes)}

    parked_at = {}
    for attempt in range(1, 13):  # dns (cap 10) parks at attempt 11
        pending = frontier.filter(F.col("state") == "pending")
        if pending.count() == 0:
            break
        outcome = pending.select(
            "url_hash",
            F.lit(True).alias("fetch_failed"),
            F.udf(lambda h: cls_of_host[h])(F.col("host")).alias("fail_class"),
        )
        frontier = apply_fetch_results(frontier, outcome, attempt)
        for r in frontier.filter(F.col("state") == "failed").collect():
            cls = cls_of_host[r["host"]]
            parked_at.setdefault(cls, (attempt, r["retries"], r["log_message"]))
    for cls, (cap, _bo) in FAILURE_CLASSES.items():
        attempt, retries, log = parked_at[cls]
        assert attempt == cap + 1, f"{cls}: parked at attempt {attempt}, cap {cap}"
        assert retries == cap + 1
        assert log.endswith(f"({cls}) after {cap} retries")


def test_hot_host_salt_spread_balances_fetch(spark):
    """North rule: salted repartitioning breaks hot-host skew. A frontier
    where EVERY URL lives on one host must still spread the fetch stage
    evenly across partitions (politeness output is host-partitioned; the
    url_hash salt-spread rebalances before the per-URL fetch work)."""
    from pyspark.sql import functions as F

    n = 4000
    seeds = spark.createDataFrame(
        [(f"https://hot.example.com/p/{i}", float(i)) for i in range(n)],
        ["url", "priority"],
    )
    fr = as_frontier_rows(canonicalize_seeds(seeds), 0)
    sched = schedule_round(fr, None, None, 1, per_host_cap=n)
    docs = fetch_and_extract(sched, n_hosts=1)
    sizes = (
        docs.groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    assert sum(counts) == n
    assert len(counts) > 1, "single-host frontier must not collapse to one task"
    assert max(counts) <= 3 * (n / len(counts)), f"skewed partitions: {sorted(counts)[-3:]}"

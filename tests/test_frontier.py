"""Frontier scheduling invariants (north rule): deterministic crawl order
independent of physical partitioning; politeness spacing; budget caps;
URL-seen exactness with and without the Bloom pre-filter."""

from pyspark.sql import functions as F

from commoncrawlscalatools_spark.operators.frontier import (
    as_frontier_rows,
    canonicalize_seeds,
    crawl_order,
    schedule_round,
)
from commoncrawlscalatools_spark.operators.robots import apply_robots, generate_robots
from commoncrawlscalatools_spark.operators.seen import (
    bloom_maybe_seen,
    build_bloom,
    filter_unseen,
)
from commoncrawlscalatools_spark.sources.seeds import generate_seeds


def _frontier(spark, n=500, hosts=10):
    seeds = generate_seeds(spark, n, seed=7, n_hosts=hosts)
    return as_frontier_rows(canonicalize_seeds(seeds), 0)


def test_canonicalize_dedups_aliases(spark):
    seeds = spark.createDataFrame(
        [
            ("https://A.com/x#f", 0.3),
            ("https://a.com:443/x", 0.9),
            ("https://a.com/x", 0.1),
            ("https://b.com/y?b=2&a=1", 0.5),
            ("https://b.com/y?a=1&b=2", 0.4),
        ],
        ["url", "priority"],
    )
    cand = canonicalize_seeds(seeds).collect()
    got = {r["url"]: r["priority"] for r in cand}
    assert got == {"https://a.com/x": 0.9, "https://b.com/y?a=1&b=2": 0.5}


def test_schedule_deterministic_across_partitioning(spark):
    fr = _frontier(spark)
    key = ["round", "host", "fetch_seq"]
    a = crawl_order(
        schedule_round(fr.repartition(1), None, None, 1, per_host_cap=5)
    ).collect()
    b = crawl_order(
        schedule_round(fr.repartition(13), None, None, 1, per_host_cap=5)
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) > 0


def test_politeness_spacing(spark):
    fr = _frontier(spark)
    sched = schedule_round(fr, None, None, 1, per_host_cap=5).collect()
    by_host = {}
    for r in sched:
        by_host.setdefault(r["host"], []).append(r)
    for host, rows in by_host.items():
        rows.sort(key=lambda r: r["fetch_seq"])
        for i, r in enumerate(rows):
            assert r["fetch_seq"] == i + 1, "dense per-host sequence"
            assert r["not_before_ms"] == i * r["crawl_delay_ms"], "politeness spacing"


def test_per_host_cap_and_budget(spark):
    fr = _frontier(spark, n=500, hosts=5)
    sched = schedule_round(fr, None, None, 1, per_host_cap=3, budget=8)
    rows = sched.collect()
    assert len(rows) == 8
    per_host = {}
    for r in rows:
        per_host[r["host"]] = per_host.get(r["host"], 0) + 1
    assert all(v <= 3 for v in per_host.values())


def test_budget_picks_global_top_priority(spark):
    fr = _frontier(spark, n=300, hosts=6)
    sched = schedule_round(fr, None, None, 1, per_host_cap=100, budget=10)
    got = sorted(r["priority"] for r in sched.select("priority").collect())
    # top-10 by (priority desc, url_hash): must equal the global top-10 priorities
    top = sorted(
        r["priority"]
        for r in fr.orderBy(F.desc("priority"), "url_hash").limit(10).collect()
    )
    assert got == top


def test_robots_prefix_exclusion(spark):
    robots = spark.createDataFrame(
        [("a.com", ["/private"], 500), ("b.com", None, 1000)],
        ["host", "disallow_prefixes", "crawl_delay_ms"],
    )
    cand = spark.createDataFrame(
        [
            ("https://a.com/private/x", "a.com"),
            ("https://a.com/public/x", "a.com"),
            ("https://b.com/private/x", "b.com"),
            ("https://c.com/anything", "c.com"),
        ],
        ["url", "host"],
    )
    out = sorted(r["url"] for r in apply_robots(cand, robots).collect())
    assert out == [
        "https://a.com/public/x",
        "https://b.com/private/x",
        "https://c.com/anything",
    ]


def test_bloom_no_false_negatives_and_exact_equivalence(spark):
    fr = _frontier(spark, n=400, hosts=8)
    seen = fr.filter(F.col("url_hash") % 3 == 0).select("url_hash")
    cand = fr.select("url", "url_hash", "host", "priority")
    exact = sorted(
        r["url_hash"] for r in filter_unseen(cand, seen).select("url_hash").collect()
    )
    bloom = build_bloom(seen, n_buckets=16)
    with_bloom = sorted(
        r["url_hash"]
        for r in filter_unseen(
            cand, seen, maybe_seen_fn=lambda c: bloom_maybe_seen(c, bloom, n_buckets=16)
        )
        .select("url_hash")
        .collect()
    )
    assert exact == with_bloom  # Bloom is a pre-filter only; results identical
    seen_set = {r["url_hash"] for r in seen.collect()}
    assert all(h not in seen_set for h in with_bloom)

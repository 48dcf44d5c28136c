"""Cuckoo URL-seen pre-filter: no false negatives below capacity, deletion
(the operation Bloom can't do), FP-rate sanity, and drop-in equivalence
with the exact anti-join."""

import numpy as np
from pyspark.sql import functions as F

from commoncrawlscalatools_spark.operators.cuckoo import (
    build_cuckoo,
    collect_cuckoo,
    cuckoo_maybe_seen,
    delete_from_cuckoo,
)


def _hashes_df(spark, lo, hi, salt=0):
    return spark.range(lo, hi).select(
        F.xxhash64(F.col("id"), F.lit(salt)).alias("url_hash")
    )


def test_cuckoo_no_false_negatives_below_capacity(spark):
    seen = _hashes_df(spark, 0, 5000)
    state = build_cuckoo(seen, n_buckets=8, n_slots=1 << 9)  # cap ≈ 8·512·4·0.84
    rows = state.collect()
    assert sum(r["n_evicted"] for r in rows) == 0, "under capacity, no evictions"
    flagged = cuckoo_maybe_seen(seen, state, n_buckets=8)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_false_positive_rate_sane(spark):
    seen = _hashes_df(spark, 0, 5000)
    state = collect_cuckoo(build_cuckoo(seen, n_buckets=8, n_slots=1 << 9))
    fresh = _hashes_df(spark, 0, 20000, salt=99)  # disjoint hash universe
    flagged = cuckoo_maybe_seen(fresh, state, n_buckets=8)
    fp = flagged.filter(F.col("maybe_seen")).count() / 20000
    # (2,4)-cuckoo with 8-bit fingerprints: theoretical ~2·4/256 ≈ 3.1%
    assert fp < 0.05, f"fp rate {fp:.4f}"


def test_cuckoo_delete_unsees(spark):
    seen = _hashes_df(spark, 0, 2000)
    state = build_cuckoo(seen, n_buckets=4, n_slots=1 << 9)
    victims = seen.limit(300)
    after = delete_from_cuckoo(state, victims, n_buckets=4)
    flagged = cuckoo_maybe_seen(victims, after, n_buckets=4)
    # deleted fingerprints must no longer probe positive (modulo shared
    # fingerprints with the 1700 survivors — allow a small FP residue)
    still = flagged.filter(F.col("maybe_seen")).count()
    assert still <= 300 * 0.05, f"{still} of 300 deleted urls still probe seen"
    # survivors keep probing positive (no collateral false negatives)
    survivors = seen.join(victims, "url_hash", "left_anti")
    ok = cuckoo_maybe_seen(survivors, after, n_buckets=4)
    assert ok.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_prefilter_equivalent_to_exact_join(spark):
    """Pre-filter + exact verify must output the identical unseen set as
    the plain anti-join (the Bloom contract, held by the cuckoo too)."""
    seen = _hashes_df(spark, 0, 3000)
    cand = _hashes_df(spark, 1500, 6000)
    exact = {r[0] for r in cand.join(seen, "url_hash", "left_anti").collect()}
    state = collect_cuckoo(build_cuckoo(seen, n_buckets=8, n_slots=1 << 9))
    flagged = cuckoo_maybe_seen(cand, state, n_buckets=8)
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    verify = (
        flagged.filter(F.col("maybe_seen"))
        .drop("maybe_seen")
        .join(seen, "url_hash", "left_anti")
    )
    got = {r[0] for r in definitely_new.unionByName(verify).collect()}
    assert got == exact


def test_cuckoo_determinism_across_partitionings(spark):
    seen = _hashes_df(spark, 0, 4000)
    a = collect_cuckoo(build_cuckoo(seen.repartition(1), n_buckets=4, n_slots=1 << 9))
    b = collect_cuckoo(build_cuckoo(seen.repartition(16), n_buckets=4, n_slots=1 << 9))
    # identical membership behavior at any parallelism: same probe answers
    probes = _hashes_df(spark, 0, 8000)
    fa = cuckoo_maybe_seen(probes, a, n_buckets=4).orderBy("url_hash").collect()
    fb = cuckoo_maybe_seen(probes, b, n_buckets=4).orderBy("url_hash").collect()
    assert [tuple(r) for r in fa] == [tuple(r) for r in fb]


def test_cuckoo_incremental_insert_equals_fresh_build_membership(spark):
    """insert_into_cuckoo over a delta must answer membership identically
    to a fresh build over the union (layouts may differ; answers for TRUE
    members may not: zero false negatives both ways)."""
    from commoncrawlscalatools_spark.operators.cuckoo import insert_into_cuckoo

    first = _hashes_df(spark, 0, 2000)
    delta = _hashes_df(spark, 2000, 3000)
    union = _hashes_df(spark, 0, 3000)
    state0 = build_cuckoo(first, n_buckets=8, n_slots=1 << 9)
    state1 = insert_into_cuckoo(state0, delta, n_buckets=8, n_slots=1 << 9)
    rows = {r["bucket"]: r for r in state1.collect()}
    assert sum(r["n_evicted"] for r in rows.values()) == 0
    assert sum(r["n_items"] for r in rows.values()) == 3000
    flagged = cuckoo_maybe_seen(union, state1, n_buckets=8)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_build_autosizes_past_capacity(spark):
    """Eviction guard, build path: a bucket whose hashes exceed the
    starting geometry doubles n_slots until zero evictions — never a
    silent fingerprint drop (which would be a false negative)."""
    seen = _hashes_df(spark, 0, 2000)
    state = build_cuckoo(seen, n_buckets=1, n_slots=1 << 3)  # start cap ≈ 27
    rows = state.collect()
    assert len(rows) == 1
    assert rows[0]["n_evicted"] == 0
    assert rows[0]["n_slots"] > (1 << 3), "bucket must have grown"
    flagged = cuckoo_maybe_seen(seen, state, n_buckets=1)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_engine_rebuilds_on_eviction(spark, tmp_path):
    """Eviction guard, incremental path: when a round's inserts overflow a
    stored bucket (n_evicted > 0), CrawlEngine rebuilds the filter from the
    authoritative seen table at doubled geometry — the URL-seen invariant
    (zero false negatives) must hold after every committed round."""
    from commoncrawlscalatools_spark.operators.robots import generate_robots
    from commoncrawlscalatools_spark.plans.crawl import CrawlConfig, CrawlEngine
    from commoncrawlscalatools_spark.sources.seeds import generate_seeds

    root = str(tmp_path / "ckevict")
    cfg = CrawlConfig(per_host_cap=20, n_hosts=15, seen_filter="cuckoo",
                      bloom_buckets=2, cuckoo_slots=1 << 3, doc_coalesce=2)
    eng = CrawlEngine(spark, root, cfg)
    eng.bootstrap(generate_seeds(spark, 400, seed=11, n_hosts=15),
                  generate_robots(spark, 15, seed=11))
    metrics = eng.run(2)
    assert any(m["seen_filter_rebuilt"] for m in metrics), (
        "tiny starting geometry must trigger at least one eviction rebuild"
    )
    assert any(m["seen_filter_evicted"] > 0 for m in metrics)
    # post-guard state: zero evictions recorded, zero false negatives
    last = eng.latest_round()
    ck = eng.store.read("cuckoo", last)
    assert sum(r["n_evicted"] for r in ck.collect()) == 0
    seen = eng.store.read("seen", last).select("url_hash")
    flagged = cuckoo_maybe_seen(seen, ck, n_buckets=cfg.bloom_buckets)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_delete_absent_hash_collision_clears_other_url(spark):
    """Pins the documented deletion PRECONDITION: deleting a hash that was
    never inserted, whose fingerprint collides in a candidate bucket,
    clears a DIFFERENT url's stored copy — a false negative for a
    still-seen URL. This is why callers must anti-join removals against
    the seen table first."""
    import numpy as np

    from commoncrawlscalatools_spark.operators.cuckoo import (
        _alt_index,
        _fingerprints,
        _index1,
    )

    n_slots = 1 << 6
    h1 = np.int64(12345)
    fp1 = _fingerprints(np.array([h1]))[0]
    i1 = _index1(np.array([h1]), n_slots)[0]
    h2 = None
    for cand in range(20000, 400000):
        c = np.int64(cand)
        if c == h1:
            continue
        if _fingerprints(np.array([c]))[0] != fp1:
            continue
        ci1 = _index1(np.array([c]), n_slots)[0]
        ci2 = _alt_index(np.array([ci1]), np.array([fp1]), n_slots)[0]
        i2 = _alt_index(np.array([i1]), np.array([fp1]), n_slots)[0]
        if ci1 in (i1, i2) or ci2 in (i1, i2):
            h2 = int(c)
            break
    assert h2 is not None, "no colliding hash found in search range"
    seen = spark.createDataFrame([(int(h1),)], ["url_hash"])
    state = build_cuckoo(seen, n_buckets=1, n_slots=n_slots)
    # h2 was never inserted — deleting it violates the precondition
    absent = spark.createDataFrame([(h2,)], ["url_hash"])
    after = delete_from_cuckoo(state, absent, n_buckets=1)
    flagged = cuckoo_maybe_seen(seen, after, n_buckets=1)
    assert flagged.filter(~F.col("maybe_seen")).count() == 1, (
        "collision delete must clear h1's copy (the documented hazard)"
    )

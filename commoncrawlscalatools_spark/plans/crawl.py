"""The crawl round loop — the engine's flagship plan.

Reference analog: parseWETFilesFromCommoncrawl.main (SURVEY.md §3.1) — the
batch-with-resume ingest loop — rebuilt as deterministic micro-rounds over
snapshot tables:

  round r:
    frontier(pending) ──schedule──▶ scheduled (politeness + priority + budget)
    scheduled ──fetch+extract──▶ documents (spans) + outlinks
    outlinks ──canonicalize──▶ robots filter ──▶ pre-filter+exact URL-seen ──▶
        new pending frontier rows
    commit snapshots: documents, lineage, seen, host_state, the seen
        filter's state (bloom / cuckoo), metrics, and LAST the frontier —
        the round marker.

Atomicity (round-commit protocol): `latest_round` resumes from the
frontier table, and the frontier MANIFEST PUBLISH is the round's commit
point — the frontier data files are written concurrently with in-flight
side commits, but the publish happens only after every side-commit future
has joined, so a kill at any point inside round r leaves frontier at r-1
and the resume re-runs round r from scratch. Re-running is idempotent:
every other table's v=r is rewritten (mode=overwrite) and re-published
(append-mode tables overwrite only their own round-r delta);
`SnapshotStore.read` refuses any version absent from the published
manifest, so a partially-written directory is never read. Reference W2
work reclaim.

Per-round cost discipline (raw scaling efficiency):
  * ONE pass over each expensive intermediate: `scheduled`,
    the filter-probe output and `new_frontier_rows` are persisted;
    row counts come from `Observation` metrics attached to the plans of
    the commit writes — zero extra counting actions.
  * The URL-seen pre-filter (operators/seen.py `SeenFilter`; the engine
    never sees its flavor) is INCREMENTAL state: round r adds only the
    round's new URLs to the stored per-bucket rows (`SeenFilter.add`) —
    O(new URLs + filter bytes) per round, never O(|seen|).
  * The probe ships filter bytes via one sc.broadcast (torrent on a real
    cluster), never as a join column.
  * Synthetic fetch failures (deterministic, md5-keyed on url+round) drive
    the reference's typed retry path: each failure carries a CLASS
    (socket/dns/slow/http, hash-derived) whose per-class retry budget and
    backoff mirror the reference's per-exception guards
    (ProcessWETPaths.scala:111-191, operators.frontier.FAILURE_CLASSES);
    a URL requeues with retries+1 until its class budget runs out, then
    parks as `failed`.
  * Independent small state tables (filter stats, lineage, host_state)
    commit CONCURRENTLY on driver threads and join before the frontier
    marker — fixed per-round overhead overlaps instead of serializing.

Scale notes: within a round the only wide operations are (1) the host
window in scheduling, (2) the seen anti-join on url_hash over the
maybe-seen slice, (3) the dedup groupBy of new candidates. All are keyed
on high-cardinality hash-distributed keys; per-host skew is bounded by
per_host_cap before anything global. Fixed per-round overhead (snapshot
commit) is amortized by round size — see bench/scaling.py.
"""

from __future__ import annotations

import atexit
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from commoncrawlscalatools_spark.operators import frontier as FR
from commoncrawlscalatools_spark.operators import robots as RB
from commoncrawlscalatools_spark.operators import seen as SN
from commoncrawlscalatools_spark.plans.state import SnapshotStore
from commoncrawlscalatools_spark.sources import fetch as FE

# Driver-side pool for concurrent snapshot commits of independent small
# state tables within a round (Spark job submission is thread-safe; each
# table has its own manifest file, so the atomic-publish protocol is
# per-table and race-free). Sized for the r7 task set (docs write,
# lineage, host_state, seen+filter-maintenance, frontier_log, frontier
# data, filter-state prefetch); no task ever blocks on another FUTURE
# inside the pool (cross-task ordering is sequenced within a single
# task), so the pool cannot deadlock. Drained at interpreter exit (every
# round also joins all futures at its barrier, so shutdown never races
# an in-flight commit).
_COMMIT_POOL = ThreadPoolExecutor(max_workers=6, thread_name_prefix="crawl-commit")
atexit.register(_COMMIT_POOL.shutdown, wait=False, cancel_futures=True)


@dataclass
class CrawlConfig:
    per_host_cap: int = 10
    budget: int | None = None
    n_hosts: int = 1000
    # URL-seen pre-filter (north rule: "Bloom/cuckoo"), seen.seen_filter:
    #   "bloom"  — OR-able bit arrays (default)
    #   "cuckoo" — (2,4)-cuckoo tables; lower FP at same bits, deletable
    #   "none"   — exact anti-join only
    seen_filter: str = "bloom"
    # fixed hash bucketing of either flavor's state (not just Bloom's)
    bloom_buckets: int = 64
    # starting per-bucket geometry of a fresh build, per flavor; a
    # health-triggered rebuild grows it and later rounds keep the stored one
    bloom_bits: int = 1 << 19
    cuckoo_slots: int = 1 << 12
    shuffle_partitions: int | None = None
    doc_coalesce: int | None = None  # coalesce docs before write (small rounds)
    # W6 slow-kill (reference: ParserTooSlowException + min-throughput kill,
    # Parser.scala:92-176, ProcessWETPaths.scala:77-95): abort the loop when
    # a round's docs/s drops below the floor; state is committed, so a
    # resume retries from the completed round.
    min_docs_per_s: float | None = None
    # typed retry path (ProcessWETPaths.scala:111-191): deterministic
    # synthetic failure rate in permille; 0 disables. Per-failure-class
    # budgets come from operators.frontier.FAILURE_CLASSES; max_retries is
    # the fallback for untyped outcomes.
    fail_permille: int = 0
    max_retries: int = 3
    # W7 depth: per-round aggregated stream/topic filter stats tables
    # (StreamFilterStatsWriter parity — aggregated side-output, not a
    # per-record RPC). Off by default: it costs one regexp pass over the
    # round's document text.
    collect_filter_stats: bool = False
    # Delta compaction cadence for the append-mode tables (seen,
    # frontier_log): every K committed rounds the engine folds all
    # published deltas into one base directory (SnapshotStore.compact —
    # the Iceberg rewrite_data_files analog). Without it, every read of
    # `seen` opens one parquet path per crawl round, so scan planning and
    # resume latency grow linearly with crawl age. None disables.
    compact_every: int | None = 16
    # DETERMINISM SEAM (ADVICE r5 #4): the round's documents are written
    # from a persist()ed DataFrame on a pool thread while the feedback
    # chain reads the same cache — on cached-block LOSS Spark silently
    # recomputes fetch_and_extract. That is safe iff the fetch stage is
    # deterministic (the synthetic fetcher is, byte-for-byte). Anyone
    # wiring a non-deterministic fetcher (e.g. live http_fetch_polite)
    # MUST set this False: the engine then pins the round's documents with
    # an eager localCheckpoint, so a lost block FAILS the round (lineage
    # truncated) instead of letting the written table and the feedback
    # chain diverge. Residual window (ADVICE r6 #4): the pin happens right
    # AFTER the first materialization — a cached block lost between
    # docs.count() and the eager checkpoint is still recomputed by the
    # non-deterministic fetcher and then pinned; the fail-instead-of-
    # diverge guarantee holds only once pinning completes.
    fetch_deterministic: bool = True


class CrawlEngine:
    def __init__(self, spark: SparkSession, store_root: str, config: CrawlConfig | None = None):
        self.spark = spark
        self.store = SnapshotStore(spark, store_root)
        self.config = config or CrawlConfig()
        cfg = self.config
        self.seen_filter = SN.seen_filter(
            cfg.seen_filter, cfg.bloom_buckets, cfg.bloom_bits, cfg.cuckoo_slots
        )

    # -- bootstrap -------------------------------------------------------

    def bootstrap(self, seeds: DataFrame, robots: DataFrame) -> None:
        """Round 0 state: canonicalized deduped seeds as pending frontier."""
        cand = FR.canonicalize_seeds(seeds)
        frontier0 = FR.as_frontier_rows(cand, round_no=0)
        seen0 = frontier0.select("url_hash", F.lit(0).cast("int").alias("round_added"))
        self.store.write("seen", seen0, 0, append=True)
        flt = self.seen_filter
        if flt is not None:
            self.store.write(flt.table, flt.build(self.store.read("seen", 0)), 0, coalesce=4)
        self.store.write(
            "host_state",
            frontier0.select("host").distinct().withColumn(
                "host_ready_ms", F.lit(0).cast("long")
            ),
            0,
            coalesce=4,
        )
        self.store.write("robots", robots, 0, coalesce=4)
        # frontier_log: APPEND-mode companion holding rows that LEFT the
        # active set (fetched/failed, immutable once written) — the cold
        # crawl log. The ACTIVE frontier table below holds only live
        # pending rows, so the per-round rewrite is O(pending), not
        # O(every URL ever crawled) — at 10^10 total URLs with a bounded
        # hot set this is the difference between a constant-cost round and
        # a round that slows linearly with crawl age. Round 0 log: empty.
        self.store.write(
            "frontier_log",
            self.spark.createDataFrame([], FR.FRONTIER_SCHEMA),
            0,
            coalesce=1,
            append=True,
        )
        # frontier last: the round-0 marker (active pending rows only)
        self.store.write("frontier", frontier0, 0)

    def read_frontier(self, version: int | None = None) -> DataFrame:
        """The FULL frontier view at a round: live pending rows (active
        table) ∪ finished rows (append-mode log) — what the reference's
        single wetpaths table held. Library/inspection API; the hot loop
        only ever touches the active slice."""
        v = self.store.latest_version("frontier") if version is None else version
        return self.store.read("frontier", v).unionByName(
            self.store.read("frontier_log", v)
        )

    def latest_round(self) -> int:
        v = self.store.latest_version("frontier")
        return v if v is not None else -1

    # -- one round -------------------------------------------------------

    def run_round(self, round_no: int) -> dict:
        t0 = time.time()
        cfg = self.config
        frontier = self.store.read("frontier", round_no - 1)
        host_state = self.store.read("host_state", round_no - 1)
        seen = self.store.read("seen", round_no - 1)
        robots = self.store.read("robots", 0)
        # Prefetch the seen-filter state on a pool thread: the collect +
        # sc.broadcast of the previous round's filter bytes only needs
        # round r-1 state, so it overlaps the whole fetch phase instead of
        # sitting on the serial path between docs and the feedback chain.
        flt = self.seen_filter
        filter_prev = filter_fut = None
        if flt is not None:
            filter_prev = self.store.read(flt.table, round_no - 1)
            filter_fut = _COMMIT_POOL.submit(
                lambda: self.spark.sparkContext.broadcast(flt.collect(filter_prev))
            )

        scheduled = FR.schedule_round(
            frontier,
            host_state,
            RB.host_delays(robots),
            round_no,
            per_host_cap=cfg.per_host_cap,
            budget=cfg.budget,
            shuffle_partitions=cfg.shuffle_partitions,
        )
        # `outcome` (= scheduled + fetch_failed) is the ONLY materialization
        # of the scheduling window: persisted, it feeds the fetch path, the
        # frontier transition and the host-state advance.
        outcome = FR.fetch_outcome(scheduled, round_no, cfg.fail_permille).persist()

        # fetch+extract → documents commit; round counters ride the write
        # as Observation metrics (no separate counting actions)
        obs_docs = Observation(f"docs_r{round_no}")
        obs_sched = Observation(f"sched_r{round_no}")
        ok = outcome.observe(
            obs_sched,
            F.count(F.lit(1)).alias("n_scheduled"),
            F.sum(F.col("fetch_failed").cast("long")).alias("n_failed_fetches"),
        ).filter(~F.col("fetch_failed"))
        docs = (
            FE.fetch_and_extract(ok, n_hosts=cfg.n_hosts)
            .observe(
                obs_docs,
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.size("spans")).alias("n_spans"),
                F.sum(F.size("outlinks")).alias("n_links"),
            )
            .persist()
        )
        # ONE fetch pass materializes the round's documents into the block
        # cache (round size is budget-bounded, so the cache is too); the
        # columnar WRITE then serializes from cache on a pool thread and
        # OVERLAPS the outlink/seen feedback chain below — r4 phase data
        # showed fetch_docs_commit (5.0 s) + feedback_seen_commit (3.4 s)
        # back-to-back as the dominant serial span of a store-backed round
        # (VERDICT r4 next #8). The write stays inside the round protocol:
        # its future joins at the side-commit barrier before the frontier
        # marker publishes.
        docs.count()
        if not cfg.fetch_deterministic:
            # Non-deterministic fetch seam: re-pin the materialized round
            # from the block cache onto truncated-lineage checkpoint blocks
            # (copy is cache→cache, one pass over a budget-bounded round).
            # Observation metrics already fired on the count above.
            pinned = docs.localCheckpoint(eager=True)
            docs.unpersist()
            docs = pinned
        dvals = obs_docs.get
        n_docs = int(dvals["n_docs"] or 0)
        n_spans = int(dvals["n_spans"] or 0)
        n_links = int(dvals["n_links"] or 0)
        svals = obs_sched.get
        n_scheduled = int(svals["n_scheduled"] or 0)
        n_failed_fetches = int(svals["n_failed_fetches"] or 0)
        docs_write_wall_ms = [0]

        def _write_documents():
            t_dw = time.time()
            self.store.write("documents", docs, round_no, coalesce=cfg.doc_coalesce)
            docs_write_wall_ms[0] = int((time.time() - t_dw) * 1000)

        docs_commit = _COMMIT_POOL.submit(_write_documents)
        t_docs = time.time()

        # Fixed per-round commit overhead is the small-round scaling killer
        # (BENCH r2: store-backed rounds ran at ~1/3 the in-memory rate).
        # The small side tables (filter stats, lineage, host_state) are
        # independent of the seen → filter-maintenance chain, so their
        # writes run CONCURRENTLY on driver threads (Spark schedules jobs
        # from multiple threads); every future joins BEFORE the frontier
        # marker commit, so the all-or-nothing round protocol is unchanged.
        side_commits: list = []

        # W7 depth: per-round filter stats side-output — one regexp pass
        # over the round's text, aggregated to a handful of rows per table
        # (reference wrote one async Cassandra row per record:
        # StreamFilterStatsWriter.scala:12-68)
        filter_stats_wall_ms = [0]
        if cfg.collect_filter_stats:
            from commoncrawlscalatools_spark.operators import filters as FL
            from commoncrawlscalatools_spark.sources.fetch import doc_text

            txt = doc_text(docs)

            def _write_filter_stats():
                t_fs = time.time()
                # ONE regexp pass per stats family (ADVICE r4 #5): the
                # timed per-batch rows (reference parity:
                # StreamFilterStatsWriter recorded processing_time per
                # record) are materialized once, and BOTH the oracle-gated
                # outcome/category aggregates and the timing summaries
                # derive from them — the derived counts are pinned equal
                # to the direct one-pass tables in tests/test_filters.py.
                stream_pb = FL.stream_filter_stats_timed(txt).persist()
                topic_pb = FL.topic_filter_stats_timed(txt).persist()
                try:
                    self.store.write(
                        "stream_filter_stats",
                        FL.stream_stats_from_timed(stream_pb).withColumn(
                            "round", F.lit(round_no)
                        ),
                        round_no,
                        coalesce=1,
                    )
                    self.store.write(
                        "stream_filter_timing",
                        FL.summarize_timed_stats(stream_pb).withColumn(
                            "round", F.lit(round_no)
                        ),
                        round_no,
                        coalesce=1,
                    )
                    self.store.write(
                        "topic_filter_stats",
                        FL.topic_stats_from_timed(topic_pb).withColumn(
                            "round", F.lit(round_no)
                        ),
                        round_no,
                        coalesce=1,
                    )
                    self.store.write(
                        "topic_filter_timing",
                        FL.summarize_timed_stats(topic_pb).withColumn(
                            "round", F.lit(round_no)
                        ),
                        round_no,
                        coalesce=1,
                    )
                finally:
                    stream_pb.unpersist()
                    topic_pb.unpersist()
                filter_stats_wall_ms[0] = int((time.time() - t_fs) * 1000)

            side_commits.append(_COMMIT_POOL.submit(_write_filter_stats))

        # per-partition lineage (reference W5 triggers → rows, not RPC)
        lineage = (
            docs.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("docs"), F.sum(F.size("outlinks")).alias("outlinks"))
            .withColumn("round", F.lit(round_no))
        )
        side_commits.append(
            _COMMIT_POOL.submit(
                self.store.write, "lineage", lineage, round_no, coalesce=1
            )
        )

        # host_state upsert: scheduled hosts advance, others keep prev value
        # (independent of the seen chain — committed concurrently too)
        adv = FR.advance_host_state(outcome)
        host_state_next = (
            host_state.withColumnRenamed("host_ready_ms", "prev_ready")
            .join(adv, "host", "full_outer")
            .select(
                "host",
                F.coalesce(F.col("host_ready_ms"), F.col("prev_ready")).alias(
                    "host_ready_ms"
                ),
            )
        )
        side_commits.append(
            _COMMIT_POOL.submit(
                self.store.write, "host_state", host_state_next, round_no, coalesce=4
            )
        )

        # outlink feedback: canonicalize → robots → unseen → new frontier rows
        outlinks = docs.select(F.explode("outlinks").alias("url"))
        cand = FR.canonicalize_seeds(outlinks.withColumn("priority", F.lit(0.5)))
        cand = RB.apply_robots(cand, robots)
        filter_bc = maybe_seen_fn = None
        if filter_fut is not None:
            filter_bc = filter_fut.result()
            maybe_seen_fn = lambda c: flt.maybe_seen(c, filter_bc)  # noqa: E731
        new_urls, flagged_cache = SN.filter_unseen_flagged(
            cand, seen, maybe_seen_fn=maybe_seen_fn
        )
        new_frontier_rows = FR.as_frontier_rows(new_urls, round_no).persist()

        # seen commit = this round's DELTA only (the table is append-mode:
        # read() unions published deltas). O(new URLs) write per round —
        # a full-rewrite union here is O(|seen|) and cannot survive 10^10
        # URLs. r7: the feedback chain MATERIALIZES here (one count over
        # the observed persisted frame — the expensive compute), and the
        # parquet serialization of the delta moves to a pool thread,
        # sequenced IN the same pool task as filter maintenance (which
        # reads the committed seen table on a rebuild) so the write-then-
        # maintain order holds without a cross-future wait.
        obs_new = Observation(f"new_r{round_no}")
        new_frontier_rows.observe(
            obs_new, F.count(F.lit(1)).alias("n_new")
        ).count()
        n_new = int(obs_new.get["n_new"] or 0)
        seen_delta = new_frontier_rows.select(
            "url_hash", F.lit(round_no).cast("int").alias("round_added")
        )
        t_seen = time.time()

        # incremental filter maintenance over THIS round's new URLs only —
        # per-round cost independent of |seen| — then a health check on
        # the n_buckets state rows that rebuilds from the authoritative
        # seen table when the filter outgrows itself (seen.py documents
        # what each flavor counts as unhealthy). It runs in the seen
        # delta's pool task, after the write a rebuild reads, so it can
        # overlap the frontier transition build and the metrics commit;
        # the barrier below holds the marker until it lands.
        maint = {"evicted": 0, "rebuilt": False}

        def _seen_then_maintenance():
            self.store.write("seen", seen_delta, round_no, append=True)
            if flt is None:
                return
            state = flt.add(filter_prev, new_frontier_rows.select("url_hash"))
            self.store.write(flt.table, state, round_no, coalesce=4)
            maint["evicted"], rebuild = flt.health(self.store.read(flt.table, round_no))
            if rebuild is not None:
                self.store.write(
                    flt.table,
                    flt.build(self.store.read("seen", round_no), rebuild),
                    round_no,
                    coalesce=4,
                )
                maint["rebuilt"] = True

        side_commits.append(_COMMIT_POOL.submit(_seen_then_maintenance))

        t_filter_maint = time.time()

        # frontier transition on the ACTIVE (pending) set: rows that
        # finish (fetched / exhausted-retries failed) LEAVE the active
        # table for the append-mode frontier_log — they are immutable from
        # here on, so the active rewrite stays O(pending) forever instead
        # of O(every URL ever crawled). `transitions` is persisted: the
        # log append (pool) and the next active table both slice it.
        transitions = FR.apply_fetch_results(
            frontier, outcome, round_no, max_retries=cfg.max_retries
        ).persist()
        obs_log = Observation(f"log_r{round_no}")
        finished = transitions.filter(
            F.col("state").isin("fetched", "failed")
        ).observe(
            obs_log,
            F.count(F.lit(1)).alias("n_done"),
            F.sum((F.col("state") == "failed").cast("long")).alias("n_failed"),
        )
        side_commits.append(
            _COMMIT_POOL.submit(
                lambda: self.store.write(
                    "frontier_log", finished, round_no, append=True
                )
            )
        )
        obs_front = Observation(f"front_r{round_no}")
        frontier_next = (
            transitions.filter(F.col("state") == "pending")
            .unionByName(new_frontier_rows)
            .observe(
                obs_front,
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((F.col("retries") > 0).cast("long")).alias("n_retrying"),
            )
        )

        # wall_s keeps the pre-frontier-data window for cross-round
        # comparability with earlier benchmarks; full_wall_s below is the
        # honest end-to-end number
        wall = time.time() - t0
        metrics = {
            "round": round_no,
            "scheduled": n_scheduled,
            "failed_fetches": n_failed_fetches,
            "fetched_docs": n_docs,
            "spans": n_spans,
            "outlinks": n_links,
            "new_urls": n_new,
            "wall_s": round(wall, 3),
            "docs_per_s": round(n_docs / wall, 1) if wall > 0 else 0.0,
        }
        metrics["slow"] = bool(
            self.config.min_docs_per_s is not None
            and metrics["docs_per_s"] < self.config.min_docs_per_s
        )

        # frontier data write runs as one more pool future (r7): only the
        # manifest PUBLISH below is the round's commit point, so the
        # all-or-nothing round protocol is unchanged (kill before publish
        # ⇒ resume re-runs the round); the barrier joins it with every
        # other side commit before the marker.
        side_commits.append(
            _COMMIT_POOL.submit(
                self.store.write_unpublished, frontier_next, "frontier", round_no
            )
        )
        t_frontier_data = time.time()
        # barrier: every concurrent side commit — documents included —
        # must be durable before the marker (exceptions re-raise here →
        # the round fails un-marked)
        docs_commit.result()
        for fut in side_commits:
            fut.result()
        t_barrier = time.time()

        # Metrics commit sits AFTER the barrier and BEFORE the marker, so
        # the persisted row carries everything the round's guards produced
        # — filter eviction/rebuild health, per-phase walls, frontier /
        # finished / failed counts — and a monitoring consumer reading the
        # store (the reference's wetrecord_processing_stats use case,
        # parseWETFilesFromCommoncrawl.scala:145-153) can see a filter
        # rebuild without access to the driver process. A kill between
        # metrics commit and marker publish re-runs the round, which
        # overwrites metrics v=r — all-or-nothing semantics hold.
        fvals = obs_front.get
        lvals = obs_log.get
        metrics["seen_filter_evicted"] = maint["evicted"]
        metrics["seen_filter_rebuilt"] = maint["rebuilt"]
        metrics["filter_stats_wall_ms"] = filter_stats_wall_ms[0]
        metrics["frontier_rows"] = int(fvals["n_rows"] or 0)  # active/pending
        metrics["retrying_urls"] = int(fvals["n_retrying"] or 0)
        metrics["finished_urls"] = int(lvals["n_done"] or 0)  # this round
        metrics["failed_urls"] = int(lvals["n_failed"] or 0)  # this round
        metrics["docs_write_wall_ms"] = docs_write_wall_ms[0]
        phase_ms = {
            # r5: this phase is the fetch+extract MATERIALIZATION; the
            # documents write itself overlaps the feedback chain on a pool
            # thread (its wall is metrics.docs_write_wall_ms)
            "fetch_docs_commit": int((t_docs - t0) * 1000),
            "feedback_seen_commit": int((t_seen - t_docs) * 1000),
            "filter_maintenance_submit": int((t_filter_maint - t_seen) * 1000),
            "frontier_data_write": int((t_frontier_data - t_filter_maint) * 1000),
            "side_commit_barrier": int((t_barrier - t_frontier_data) * 1000),
        }
        # one-row metrics commit as a JVM-local relation: createDataFrame
        # from Python objects goes through the RDD/pickle path and costs
        # ~5 s per call in this environment (fresh python worker per job);
        # range(1).select(lit...) stays JVM-side at ~0.3 s. phase_ms
        # flattens to phase_<name>_ms columns (parquet/SQL-friendly).
        metric_cols = [
            (F.lit(v).cast("long") if isinstance(v, int) and not isinstance(v, bool)
             else F.lit(v)).alias(k)
            for k, v in metrics.items()
        ] + [
            F.lit(v).cast("long").alias(f"phase_{k}_ms") for k, v in phase_ms.items()
        ]
        # append-mode: read("metrics") is the full round history — the
        # reference's wetrecord_processing_stats monitoring table shape
        self.store.write(
            "metrics",
            self.spark.range(1).select(*metric_cols),
            round_no,
            coalesce=1,
            append=True,
        )
        t_metrics = time.time()
        self.store.publish("frontier", round_no)
        t_publish = time.time()

        # append-mode table maintenance AFTER the marker (pure layout
        # rewrite — a kill mid-compaction leaves the previous base +
        # deltas current; the next attempt redoes it)
        compact_ms = 0
        if cfg.compact_every and round_no % cfg.compact_every == 0:
            self.store.compact("seen")
            self.store.compact("frontier_log")
            self.store.compact("metrics")
            compact_ms = int((time.time() - t_publish) * 1000)

        # returned-dict extras: the full end-to-end wall including the
        # metrics + marker commits (+ compaction when it fires)
        phase_ms["metrics_commit"] = int((t_metrics - t_barrier) * 1000)
        phase_ms["marker_publish"] = int((t_publish - t_metrics) * 1000)
        phase_ms["compaction"] = compact_ms
        full_wall = time.time() - t0
        metrics["full_wall_s"] = round(full_wall, 3)
        metrics["full_docs_per_s"] = (
            round(n_docs / full_wall, 1) if full_wall > 0 else 0.0
        )
        metrics["phase_ms"] = phase_ms

        transitions.unpersist()
        outcome.unpersist()
        docs.unpersist()
        new_frontier_rows.unpersist()
        if flagged_cache is not None:
            flagged_cache.unpersist()
        if filter_bc is not None:
            filter_bc.unpersist()
        return metrics

    # -- loop with resume --------------------------------------------------

    def run(self, rounds: int) -> list[dict]:
        """Run up to `rounds` rounds total, resuming after the latest
        committed round (kill-and-resume = re-invoke run)."""
        done = self.latest_round()
        out = []
        for r in range(done + 1, rounds + 1):
            m = self.run_round(r)
            out.append(m)
            if m.get("slow"):
                # W6: stop the loop; the committed snapshot makes the retry
                # point explicit (reference killed the parser task and
                # requeued the path)
                break
        return out

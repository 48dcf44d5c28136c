"""Stream/topic filter behavior tests, mirroring
FourForumsWARCTopicFilterSpec.scala (threshold criteria, subword separator
policy "segundo"/"begun" vs "gun" at levels 0/1/2) and
FourForumsWARCStreamFilterSpec (keyword stuffing rejected by detailCheck)."""

from pyspark.sql import functions as F

from commoncrawlscalatools_spark.operators.filters import (
    TopicFilterConfig,
    categories_expr,
    category_counts_map,
    detail_check_expr,
    keyword_pattern,
    mention_count,
    stream_filter,
)


def _count(spark, text: str, kw: str, level: int) -> int:
    df = spark.createDataFrame([(text,)], ["t"])
    return df.select(
        F.regexp_count(F.col("t"), F.lit(keyword_pattern(kw, level)))
    ).collect()[0][0]


def test_separator_levels(spark):
    # FourForumsWARCTopicFilterSpec.scala:142-260 semantics
    assert _count(spark, "the gun is here", "gun", 0) == 1
    assert _count(spark, "it has begun already", "gun", 0) == 1  # subword hit
    assert _count(spark, "segundo piso", "gun", 0) == 1
    # level 1: separator on at least one side
    assert _count(spark, "the gun is here", "gun", 1) == 1
    assert _count(spark, "it has begun already", "gun", 1) == 1  # 'begun ' → right sep
    assert _count(spark, "segundo piso", "gun", 1) == 0
    # level 2: separator on both sides
    assert _count(spark, "the gun is here", "gun", 2) == 1
    assert _count(spark, "it has begun already", "gun", 2) == 0
    assert _count(spark, "segundo piso", "gun", 2) == 0
    # plural still caught at level 0/1 via 'guns' keyword in config
    assert _count(spark, "many guns around", "guns", 2) == 1


def test_case_insensitive_count(spark):
    assert _count(spark, "Gun gUn GUN gun", "gun", 0) == 4


def test_topic_categorize_thresholds(spark):
    cfg = TopicFilterConfig(
        core={"guncontrol": ["gun", "guns"]},
        secondary={"guncontrol": ["strict", "control"]},
    )
    # defaults: min_core = 2 (two core kws), min_secondary = 2
    rows = [
        ("gun gun strict control", ["guncontrol"]),  # 2 core + 2 sec
        ("gun strict control", []),  # only 1 core mention
        ("gun guns strict", []),  # only 1 secondary
        ("no keywords at all", []),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], ["text"])
    out = df.select("text", categories_expr(F.col("text"), cfg).alias("cats")).collect()
    got = {r["text"]: r["cats"] for r in out}
    for text, expected in rows:
        assert got[text] == expected, text


def test_category_counts_map(spark):
    cfg = TopicFilterConfig(
        core={"guncontrol": ["gun", "guns"]},
        secondary={"guncontrol": ["strict", "control"]},
    )
    df = spark.createDataFrame([("gun guns strict control control",)], ["text"])
    m = df.select(category_counts_map(F.col("text"), cfg).alias("m")).collect()[0]["m"]
    # 'gun' matches inside 'guns' too at level 0 → 2 + 1 = 3 core mentions
    assert m["guncontrol"]["core"] == 3
    assert m["guncontrol"]["secondary"] == 3


def test_stream_filter_two_phase(spark):
    good = "the gun debate " + "is long and detailed with many words here " * 2
    stuffing = "gun " * 200  # chunk of 200 words → fails 7<words<50 detailCheck
    short = "gun"  # phase-1 hit but chunk too short
    none = "nothing relevant in this text at all today friends"
    df = spark.createDataFrame(
        [(1, good), (2, stuffing), (3, short), (4, none)], ["id", "text"]
    )
    out = stream_filter(df, "text", ["gun"], minmentions=1)
    assert [r["id"] for r in out.select("id").collect()] == [1]


def test_detail_check_bound(spark):
    # only the first max_chunks chunks are scanned
    text = ("filler words " * 5 + "\n") * 3 + "the gun appears here in a sentence of many words\n"
    df = spark.createDataFrame([(text,)], ["text"])
    hit = df.select(detail_check_expr(F.col("text"), ["gun"], 5000)).collect()[0][0]
    assert hit is True
    miss = df.select(detail_check_expr(F.col("text"), ["zebra"], 5000)).collect()[0][0]
    assert miss is False


def test_mention_count_sums_keywords(spark):
    df = spark.createDataFrame([("gun abortion gun evolution",)], ["t"])
    n = df.select(
        mention_count(F.col("t"), ["gun", "abortion", "evolution", "god"])
    ).collect()[0][0]
    assert n == 4


def test_category_string_codec_roundtrip(spark):
    """F7 legacy codec (refilterWETRecords.scala:42-50): the reference's
    "{'a','b'}" storage format decodes to an array and re-encodes."""
    from pyspark.sql import functions as F

    from commoncrawlscalatools_spark.operators.filters import (
        decode_category_string,
        encode_category_string,
    )

    rows = [
        ("{'existenceofgod','guncontrol'}", ["existenceofgod", "guncontrol"]),
        ("{'abortion'}", ["abortion"]),
        ("{}", []),
        (None, []),
    ]
    df = spark.createDataFrame([(s,) for s, _ in rows], "cat string")
    got = df.select(decode_category_string(F.col("cat")).alias("d")).collect()
    assert [list(r["d"]) for r in got] == [e for _, e in rows]
    enc = df.select(
        encode_category_string(decode_category_string(F.col("cat"))).alias("e")
    ).collect()
    assert enc[0]["e"] == "{'existenceofgod','guncontrol'}"
    assert enc[1]["e"] == "{'abortion'}"


def test_filter_stats_reconcile_with_filters(spark, sf_dir):
    """W7 stats side-output reconciliation: the aggregated stats must agree
    with the filters themselves — stream `accepted` == stream_filter
    survivor count (and outcomes partition the corpus); topic `accepted`
    per category == topic_filter_docs row count per category."""
    from commoncrawlscalatools_spark.operators.filters import (
        TopicFilterConfig,
        stream_filter,
        stream_filter_stats,
        topic_categorize,
        topic_filter_stats,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kws = ["join", "scan"]
    stats = {
        r["outcome"]: r["n_docs"]
        for r in stream_filter_stats(d, "text", kws, minmentions=3).collect()
    }
    assert sum(stats.values()) == d.count(), "outcomes must partition the corpus"
    assert stats.get("accepted", 0) == stream_filter(d, "text", kws, minmentions=3).count()

    cfg = TopicFilterConfig(
        core={"joins": ["join"], "scans": ["scan"]},
        secondary={"joins": ["merge", "hash"], "scans": ["table", "filter"]},
    )
    tstats = {
        r["category"]: r["accepted"]
        for r in topic_filter_stats(d, "text", cfg).collect()
    }
    cat_counts = (
        topic_categorize(d, "text", cfg)
        .select(F.explode("categories").alias("category"))
        .groupBy("category")
        .count()
        .collect()
    )
    got = {r["category"]: r["count"] for r in cat_counts}
    for cat in cfg.core:
        assert tstats[cat] == got.get(cat, 0), cat


def test_timed_stats_reconcile_with_untimed(spark, sf_dir):
    """VERDICT r3 #7: the timed per-batch stats (Arrow-batch processing
    time measured around a JVM-computed upstream) must carry EXACTLY the
    same counts as the untimed oracled tables, and real non-negative
    batch timings."""
    from commoncrawlscalatools_spark.operators.filters import (
        TopicFilterConfig,
        stream_filter_stats,
        stream_filter_stats_timed,
        summarize_timed_stats,
        topic_filter_stats,
        topic_filter_stats_timed,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kws = ["join", "scan"]
    untimed = {
        r["outcome"]: (r["n_docs"], r["total_mentions"])
        for r in stream_filter_stats(d, "text", kws, minmentions=3).collect()
    }
    per_batch = stream_filter_stats_timed(d, "text", kws, minmentions=3)
    summary = summarize_timed_stats(per_batch).collect()[0].asDict()
    assert summary["n_docs"] == d.count()
    for outcome in ("accepted", "rejected_detail", "rejected_no_detail"):
        assert summary[outcome] == untimed.get(outcome, (0, 0))[0], outcome
    assert summary["total_mentions"] == sum(v[1] for v in untimed.values())
    assert summary["n_batches"] >= 1
    assert summary["time_ms_sum"] >= summary["time_ms_max"] >= summary["time_ms_min"] >= 0
    # per-batch rows: n_docs partitions across batches; every batch timed
    rows = per_batch.collect()
    assert sum(r["n_docs"] for r in rows) == d.count()
    assert all(r["batch_ms"] >= 0 for r in rows)

    cfg = TopicFilterConfig(
        core={"joins": ["join"], "scans": ["scan"]},
        secondary={"joins": ["merge", "hash"], "scans": ["table", "filter"]},
    )
    tuntimed = {
        r["category"]: (r["accepted"], r["total_core_mentions"], r["total_secondary_mentions"])
        for r in topic_filter_stats(d, "text", cfg).collect()
    }
    tsum = summarize_timed_stats(topic_filter_stats_timed(d, "text", cfg)).collect()[0].asDict()
    for cat, (acc, core, sec) in tuntimed.items():
        assert tsum[f"accepted_{cat}"] == acc, cat
        assert tsum[f"core_{cat}"] == core, cat
        assert tsum[f"sec_{cat}"] == sec, cat


def test_untimed_tables_derive_exactly_from_timed(spark, sf_dir):
    """ADVICE r4 #5: the engine now computes ONE timed per-batch pass per
    stats family and derives the oracle-gated untimed tables from it —
    the derived tables must equal the direct one-pass aggregates row for
    row."""
    from commoncrawlscalatools_spark.operators.filters import (
        TopicFilterConfig,
        stream_filter_stats,
        stream_filter_stats_timed,
        stream_stats_from_timed,
        topic_filter_stats,
        topic_filter_stats_timed,
        topic_stats_from_timed,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kws = ["join", "scan"]
    direct = sorted(
        map(tuple, stream_filter_stats(d, "text", kws, minmentions=3).collect())
    )
    derived = sorted(
        map(
            tuple,
            stream_stats_from_timed(
                stream_filter_stats_timed(d, "text", kws, minmentions=3)
            ).collect(),
        )
    )
    assert direct == derived

    cfg = TopicFilterConfig(
        core={"joins": ["join"], "scans": ["scan"]},
        secondary={"joins": ["merge", "hash"], "scans": ["table", "filter"]},
    )
    tdirect = sorted(map(tuple, topic_filter_stats(d, "text", cfg).collect()))
    tderived = sorted(
        map(
            tuple,
            topic_stats_from_timed(
                topic_filter_stats_timed(d, "text", cfg), cfg
            ).collect(),
        )
    )
    assert tdirect == tderived


def test_engine_commits_filter_stats_tables(spark, tmp_path):
    """collect_filter_stats=True commits per-round stream/topic stats
    tables whose outcome counts sum to the round's doc count."""
    from commoncrawlscalatools_spark.operators.robots import generate_robots
    from commoncrawlscalatools_spark.plans.crawl import CrawlConfig, CrawlEngine
    from commoncrawlscalatools_spark.sources.seeds import generate_seeds

    root = str(tmp_path / "fstats")
    cfg = CrawlConfig(per_host_cap=10, n_hosts=10, seen_filter="none",
                      collect_filter_stats=True, doc_coalesce=2)
    eng = CrawlEngine(spark, root, cfg)
    eng.bootstrap(generate_seeds(spark, 150, seed=9, n_hosts=10),
                  generate_robots(spark, 10, seed=9))
    metrics = eng.run(2)
    for m in metrics:
        r = m["round"]
        s = eng.store.read("stream_filter_stats", r)
        assert s.filter(F.col("round") != r).count() == 0
        n = sum(row["n_docs"] for row in s.collect())
        assert n == m["fetched_docs"]
        tstat = eng.store.read("topic_filter_stats", r).collect()
        assert all(row["checked"] == m["fetched_docs"] for row in tstat)
        assert m["filter_stats_wall_ms"] > 0
        # timing side-tables (VERDICT r3 #7): counts cover the round's docs
        timing = eng.store.read("stream_filter_timing", r).collect()[0]
        assert timing["n_docs"] == m["fetched_docs"]
        assert timing["time_ms_sum"] >= 0
        ttiming = eng.store.read("topic_filter_timing", r).collect()[0]
        assert ttiming["n_docs"] == m["fetched_docs"]


def test_lucene_query_format_roundtrip_and_multi_field_scoring(spark):
    """format_query emits the reference's byte-exact clause format
    (DeduplicationHelperMethods.scala:50-57); parse_query inverts it; the
    multi-field scorer sums per-clause per-field TF scores."""
    from commoncrawlscalatools_spark.operators.relevance import (
        format_query,
        multi_field_search_topk,
        parse_query,
    )

    q = format_query(["abortion", "guns"], "content")
    assert q == (
        '{type: "contains", field: "content", values: ["abortion"]},'
        '{type: "contains", field: "content", values: ["guns"]}'
    )
    assert parse_query(q) == [("content", "abortion"), ("content", "guns")]

    df = spark.createDataFrame(
        [
            (1, "join the merge", "alpha"),
            (2, "nothing here", "alpha"),
            (3, "join join join join", "beta"),
        ],
        ["doc_id", "text", "source"],
    )
    qs = format_query(["join"], "text") + "," + format_query(["beta"], "source")
    rows = {r["doc_id"]: r["relevance"] for r in
            multi_field_search_topk(df, qs, "doc_id", k=10).collect()}
    # doc 3: 4 mentions / 4 tokens * 10 = 10.0 text + 10.0 source = 20.0
    assert rows[3] == 20.0
    # doc 1: 1/3*10 text, no source hit
    assert abs(rows[1] - round(10.0 / 3, 6)) < 1e-9
    assert 2 not in rows


def test_padded_re2_separator_parity(spark):
    """The DuckDB oracle reformulation of separator levels 1/2 (queries
    `_sql_count_sep` — padded text + inclusion-exclusion, VERDICT r5 next
    #7) must count EXACTLY what the engine's lookaround patterns count, on
    adversarial boundary cases, all FourForums keywords, and real fixture
    text. Level 2 is exact for any keyword; level 1's known divergence is
    only on self-fused occurrences ('theistheist'), impossible in
    separator-delimited text — asserted here by construction."""
    import duckdb

    from commoncrawlscalatools_spark.queries import _pad_sql, _sql_count_sep
    from commoncrawlscalatools_spark.operators.filters import (
        CORE_KEYWORDS,
        SECONDARY_KEYWORDS,
        keyword_pattern,
    )

    tests = [
        "gun", "begun", "guns", "gun-gun", "gungun", "gun gun gun",
        "a-gun-b", "gunsgun", "GUN.GuN", "pro-life pro-choice", "xpro-life",
        "pro-lifey", "pro life", "pro--life", "gun--gun", "gun,gun,gun",
        "", "g", "gunXgun", "strict-control strictcontrol",
        "design. intelligent design!", "evolution's natural-mechanism",
        "exist exists existed coexist", "the god GOD god-fearing ungodly",
        "atheist theist atheists", "mechanism mechanisms",
    ]
    all_kws = sorted(
        {k for v in CORE_KEYWORDS.values() for k in v}
        | {k for v in SECONDARY_KEYWORDS.values() for k in v}
    )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tests)], "i long, txt string"
    )
    cols = [
        F.regexp_count(F.col("txt"), F.lit(keyword_pattern(kw, lv))).alias(
            f"c_{lv}_{kw.replace('-', '_')}"
        )
        for lv in (0, 1, 2)
        for kw in all_kws
    ]
    srows = df.select("i", *cols).orderBy("i").collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE tt(i BIGINT, txt VARCHAR)")
    con.executemany(
        "INSERT INTO tt VALUES (?, ?)", [(i, t) for i, t in enumerate(tests)]
    )
    sel = ["i"] + [
        f"{_sql_count_sep('pad', kw, lv)} AS d_{lv}_{kw.replace('-', '_')}"
        for lv in (0, 1, 2)
        for kw in all_kws
    ]
    drows = con.execute(
        f"SELECT {', '.join(sel)} FROM"
        f" (SELECT i, {_pad_sql('txt')} AS pad FROM tt) ORDER BY i"
    ).fetchall()

    for srow, drow in zip(srows, drows):
        got_s = [srow[j] for j in range(1, 1 + 3 * len(all_kws))]
        got_d = list(drow[1:])
        assert got_s == got_d, (tests[srow["i"]], got_s, got_d)

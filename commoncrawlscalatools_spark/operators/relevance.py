"""Relevance scoring + top-K — the engine-library replacement for the
reference's Cassandra-Lucene pushdown scan (createCorpus.scala:286-303,
SURVEY.md S5/O1/P4).

Vanilla Spark has no full-text-search pushdown; per SURVEY.md §4 the right
replacement is a scored column computed at scan time (codegen'd regex
counts — a TF-like score), then `orderBy(desc).limit(k)` which Catalyst
compiles to TakeOrderedAndProject: per-partition heaps + a k-row driver
merge, never a global sort. The reference's 2-column projection trick
(createCorpus.scala:292-303) is subsumed by Catalyst column pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from commoncrawlscalatools_spark.functions.text import token_count_ws
from commoncrawlscalatools_spark.operators.filters import mention_count
from commoncrawlscalatools_spark.spread import spread


def relevance_score(text: Column, query_terms: list[str]) -> Column:
    """TF-normalized keyword relevance in [0, ~1]: total case-insensitive
    mentions of the query terms per token. Deterministic, monotone in the
    mention count like the reference's Lucene score usage (only the >0.1
    cut and ordering matter there — createCorpus.scala:300-303)."""
    return relevance_from_counts(mention_count(text, query_terms), token_count_ws(text))


def relevance_from_counts(mentions: Column, ntok: Column) -> Column:
    """The relevance formula over precomputed counts: 10 · mentions per
    token, rounded to 6 places; 0 for a document with no tokens."""
    return F.round(
        F.when(ntok > 0, mentions.cast("double") * 10.0 / ntok.cast("double")).otherwise(
            F.lit(0.0)
        ),
        6,
    )


def search_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2000,
    min_relevance: float = 0.1,
) -> DataFrame:
    """score → threshold → top-K (ids + relevance only; content re-joined
    by the caller — reference pattern J1, createCorpus.scala:314-325).

    r7 shape: the scan is spread first (the per-row scoring otherwise
    serializes onto the source file's partition count); the mention and
    token counts are MATERIALIZED columns (the composed relevance
    expression references the token count twice — guard + denominator —
    and the tokenization is an interpreted HOF that re-runs per
    reference when inline); and the threshold applies ABOVE the top-k
    limit — a filter on the descending sort key commutes with limit
    (above-threshold rows sort first), and above GlobalLimit it cannot
    be pushed back through the projection, where it would re-evaluate
    the whole scoring expression per row a second time."""
    parts = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col),
        mention_count(F.col(text_col), query_terms).alias("__m"),
        token_count_ws(F.col(text_col)).alias("__n"),
    )
    scored = parts.select(
        F.col(id_col),
        relevance_from_counts(F.col("__m"), F.col("__n")).alias("relevance"),
    )
    return (
        scored.orderBy(F.desc("relevance"), F.col(id_col))
        .limit(k)
        .filter(F.col("relevance") > min_relevance)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2000,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25-scored top-K (VERDICT r3 missing-#4): Lucene's default
    Similarity since 6.x IS BM25, so the reference's Cassandra-Lucene
    relevance order (createCorpus.scala:286-303) is BM25 order — this
    makes the scoring model explicit instead of the TF proxy.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln((N − df_t + 0.5)/(df_t + 0.5) + 1)  (Lucene's variant).

    Plan shape: ONE aggregation pass computes the corpus statistics
    (N, avgdl, per-term document frequencies — a single 1-row result,
    broadcast back), then one scan scores and TakeOrderedAndProject
    takes k. Everything is codegen'd column arithmetic; at 100 TB the
    stats pass is a reusable per-corpus artifact (compute once per
    snapshot, not per query)."""
    import re as _re

    text = F.col(text_col)
    dl = F.size(F.filter(F.split(text, r"\s+"), lambda x: x != ""))
    tf_cols = [
        F.regexp_count(text, F.lit(f"(?i){_re.escape(t)}")).alias(f"__tf{i}")
        for i, t in enumerate(query_terms)
    ]
    d = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col), dl.alias("__dl"), *tf_cols
    )
    stats = d.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("__dl").alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).cast("double").alias(f"__df{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = d.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    any_tf = F.lit(0)
    for i in range(len(query_terms)):
        tf = F.col(f"__tf{i}").cast("double")
        dfreq = F.col(f"__df{i}")
        idf = F.log((F.col("__n") - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        norm = tf + k1 * (1.0 - b + b * F.col("__dl").cast("double") / F.col("__avgdl"))
        score = score + idf * tf * (k1 + 1.0) / norm
        any_tf = any_tf + F.col(f"__tf{i}")
    out = scored.select(
        F.col(id_col), F.round(score, 6).alias("bm25"), (any_tf > 0).alias("__hit")
    )
    # match-filter above the heap (see search_topk): tf > 0 ⇔ bm25 > 0
    # strictly, so it is a monotone threshold on the sort key and commutes
    # with limit
    return (
        out.orderBy(F.desc("bm25"), F.col(id_col))
        .limit(k)
        .filter(F.col("__hit"))
        .select(id_col, "bm25")
    )


def format_query(query_list: list[str], field_name: str = "content") -> str:
    """The reference's Lucene query-clause builder, kept byte-compatible as
    the query EXCHANGE format (DeduplicationHelperMethods.scala:50-57): one
    `{type: "contains", field: ..., values: [...]}` clause per term, joined
    with commas for embedding in `{ query: [...] }`
    (createCorpus.scala:283-287)."""
    template = '{type: "contains", field: "%s", values: ["%s"]}'
    return ",".join(template % (field_name, x) for x in query_list)


def parse_query(query: str) -> list[tuple[str, str]]:
    """Inverse of format_query: the clause string → [(field, value), ...].
    Accepts exactly the shape format_query emits (the reference never
    parses its own queries — Lucene does — so this is the engine-side
    equivalent of handing the string to the index)."""
    import re

    return [
        (m.group(1), m.group(2))
        for m in re.finditer(
            r'\{type: "contains", field: "([^"]+)", values: \["([^"]+)"\]\}', query
        )
    ]


def multi_field_search_topk(
    df: DataFrame,
    query: str | list[tuple[str, str]],
    id_col: str = "doc_id",
    k: int = 2000,
    min_relevance: float = 0.1,
) -> DataFrame:
    """Multi-term, multi-FIELD relevance (the reference's actual Lucene
    query shape: several `contains` clauses under `{ query: [...] }`, each
    scored independently with the document score their combination —
    createCorpus.scala:283-287 + formatQuery). Score = sum over clauses of
    the per-field TF-normalized score; clauses on different columns hit
    different fields, exactly what the flat term-list operator couldn't
    express. Accepts the reference's clause string or parsed pairs."""
    clauses = parse_query(query) if isinstance(query, str) else list(query)
    df = spread(df, id_col)
    score = F.lit(0.0)
    for field, value in clauses:
        score = score + relevance_score(F.col(field), [value])
    scored = df.select(
        F.col(id_col), F.round(score, 6).alias("relevance")
    )
    return (
        scored.orderBy(F.desc("relevance"), F.col(id_col))
        .limit(k)
        .filter(F.col("relevance") > min_relevance)
    )


def fetch_content_for_topk(
    topk: DataFrame, docs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Reference J1: top-K ids joined back to the content table. K rows are
    tiny → broadcast the ids side so the big table never shuffles."""
    return docs.join(F.broadcast(topk), id_col, "inner")

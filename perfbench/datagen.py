"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, sizes): the same seed gives
byte-identical inputs, and the program under test only ever sees what is
generated here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from commoncrawlscalatools_spark.sources.seeds import generate_seeds

# -- crawl seeds -------------------------------------------------------------


def crawl_seeds(spark: SparkSession, seed: int, size: dict) -> DataFrame:
    """The repo's skewed seed list plus redirect-style seeds such as
    `http://host3.example.com/r?u=http://host9.example.com/page/17`: real
    seed lists carry URLs that embed another URL in their query string."""
    n = size["n_seeds"]
    n_redirect = n * size["redirect_permille"] // 1000
    base = generate_seeds(spark, n - n_redirect, seed, size["n_hosts"])
    h = [F.xxhash64(F.col("id"), F.lit(seed + k)) for k in (10, 11, 12, 13)]
    n_hosts = size["n_hosts"]
    url = F.concat(
        F.lit("http://host"), F.pmod(h[0], F.lit(n_hosts)), F.lit(".example.com/r?u=http://host"),
        F.pmod(h[1], F.lit(n_hosts)), F.lit(".example.com/page/"), F.pmod(h[2], F.lit(max(1, n))),
    )
    priority = F.round(F.pmod(h[3], F.lit(1000)).cast("double") / 1000.0, 3)
    redirects = spark.range(0, n_redirect, 1, 1).select(url.alias("url"), priority.alias("priority"))
    return base.unionByName(redirects)


# -- query-mix tables ----------------------------------------------------------

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]


def write_query_tables(out_dir: str, seed: int, size: dict) -> None:
    """documents, embeddings and events parquet in the shape the query
    library reads (the same schemas as the repo's test data)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n = size["n_docs"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.integers(1000) < size["dup_permille"]:
            texts.append(texts[int(rng.integers(i))] + " dup")  # near-duplicate
        else:
            toks = rng.integers(len(VOCAB), size=int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[t] for t in toks))
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    m, dim = size["n_embeddings"], size["dim"]
    vec = rng.standard_normal((m, dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(m), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(10, size=m), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))

    k = size["n_events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, size=k))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(k), pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(size["n_users"], size=k), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=k).tolist(), pa.string()),
            "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, size=k), 2))),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(100, size=k)], pa.string()),
        }
    )
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

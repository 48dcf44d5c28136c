"""Distributed n-gram language-model quality scoring — the CCNet-style
perplexity filter (Wenzek et al. 2019 use a KenLM model; this is the same
pipeline stage with a self-contained add-k bigram model so the whole
train+score path runs inside the engine). No reference counterpart —
LLM-pipeline extension family.

Model: P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V), where c(w1·) is the
bigram-prefix count and V the corpus-wide distinct-token count. A doc's
score is the sum of per-token negative log-likelihoods; perplexity =
exp(nll/n). Everything is exact integer counts + one closed-form float
per token, so the score is reproducible in any engine; the per-token NLL
is rounded to integer MICRO-nats before summing, making the per-doc sum
a bigint — order-independent and hash-stable across engines (float sums
are not associative; integer sums are).

Scale shape (100 TB corpus):
  * train: one in-row bigram build (fixed-width pairs on the wire, no
    raw-text shuffle) + two map-side-combinable aggregates; the unigram
    prefix table derives from the bigram counts, never a second corpus
    pass.
  * score: the corpus bigram stream joins the count tables on their
    keys — a plain shuffle join that AQE turns into a broadcast when the
    model is small (it usually is: vocab², heavily skew-truncated by
    Zipf). The corpus is never self-joined; no driver-side model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commoncrawlscalatools_spark.functions.text import ws_tokens
from commoncrawlscalatools_spark.spread import spread


def doc_bigrams(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, w1, w2) — one row per consecutive token pair, built in-row
    (codegen'd transform over an index sequence) so only the pairs are
    ever exploded or shuffled."""
    toks = ws_tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("toks")).where(F.size("toks") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.struct(
            F.element_at(F.col("toks"), i + 1).alias("w1"),
            F.element_at(F.col("toks"), i + 2).alias("w2"),
        ),
    )
    return (
        spread(base, id_col)
        .select(id_col, F.explode(pairs).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )


def train_bigram_lm(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bg: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (unigram_prefix_counts, bigram_counts, vocab_row):
    (w1, c1), (w1, w2, c12), and a ONE-ROW (vocab_size) DataFrame —
    the scalar stays a broadcastable relation, never a driver collect.
    `bg` lets train+score share ONE materialized bigram pass (the
    in-row pair build over the whole corpus is the expensive part)."""
    if bg is None:
        bg = doc_bigrams(df, text_col, id_col)
    bi = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    uni = bi.groupBy("w1").agg(F.sum("c12").alias("c1"))
    toks = ws_tokens(F.col(text_col))
    vocab = (
        spread(df.select(id_col, text_col), id_col)
        .select(F.explode(toks).alias("w"))
        .agg(F.countDistinct("w").cast("long").alias("vocab_size"))
    )
    return uni, bi, vocab


def score_bigram_nll(
    df: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
    bg: DataFrame | None = None,
) -> DataFrame:
    """(id, n_bigrams, nll_micro): per-doc token count and total NLL in
    integer micro-nats under the add-k bigram model. Unseen (w1,w2) and
    unseen w1 coalesce to 0 counts, so held-out text scores without
    special casing. perplexity = exp(nll_micro / 1e6 / n_bigrams).
    `bg` shares a materialized bigram table with train_bigram_lm."""
    if bg is None:
        bg = doc_bigrams(df, text_col, id_col)
    scored = (
        bg.join(bi, ["w1", "w2"], "left")
        .join(uni, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
    )
    nll = -F.log(
        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(k))
        / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(k) * F.col("vocab_size"))
    )
    return (
        scored.withColumn("nll_micro", F.round(nll * 1e6).cast("long"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("nll_micro").alias("nll_micro"),
        )
    )

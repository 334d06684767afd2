"""Distributed n-gram language model: train + stupid-backoff scoring.

The CCNet-style quality stage (Wenzek et al. 2019): train a word n-gram
LM on a reference slice of the corpus, score every document by mean
log-probability per token, and filter/bucket on the score (documents
that look nothing like the reference — boilerplate, gibberish, lists —
score low). The reference engine (gojsonschema) has no LM; this is one
of the dataset-level operators the graft adds beyond schema validation.

Scale shape (10^12 documents):
* Training is two corpus scans collapsed into one explode + two
  vocabulary-sized groupBys with map-side partial aggregation — the
  shuffle carries (gram, partial-count) pairs, never occurrences.
  ``min_count`` prunes the model (web-scale bigram tables are 10^9+
  rows unpruned; pruning to >=2 removes the hapax tail, usually ~half).
* The model's conditional probabilities are precomputed at train time
  (one vocabulary-sized join), so scoring needs NO per-row division by
  context counts.
* Scoring explodes each document into (doc_id, prev, word) rows and
  LEFT-joins the two model tables. Join strategy is left to AQE: a
  pruned model fits a broadcast at moderate scale; at full web scale it
  becomes a shuffle hash join on the gram key — both sides hash-
  partition evenly because gram keys are near-uniform under hashing.
  No Python in the hot path; everything is native expressions.

Everything is SQL-expressible, so the DuckDB oracle re-derives the
same scores independently (see ``__spark_entry__.oracle_sql()['lm_score']``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .text import word_tokens

__all__ = ["BackoffLM", "ngram_counts", "lm_train", "lm_score",
           "lm_save", "lm_load", "perplexity_buckets"]

# model tables at or under this row count are broadcast-hinted in
# lm_score (~40 B/row -> <=120 MB built relation, far under the 8 GB /
# 512M-row broadcast cap); larger models fall back to shuffle joins
_BROADCAST_ROWS = 3_000_000


def ngram_counts(df: DataFrame, n: int, text_col: str = "text",
                 lowercase: bool = True, min_count: int = 1) -> DataFrame:
    """Word n-gram counts ``(gram, n)`` with the gram rendered as a
    single space-joined string (whitespace tokens cannot contain
    spaces, so the join is unambiguous). One explode + one groupBy;
    map-side combine keeps the shuffle vocabulary-sized."""
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = word_tokens(text_col, lowercase)
    if n == 1:
        gram = F.explode(toks)
    else:
        cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))  # short docs
        zipped = F.arrays_zip(*[
            F.slice(toks, i + 1, cnt).alias(f"w{i}")
            for i in range(n)])
        gram = F.concat_ws(" ", *[
            F.col(f"g.w{i}") for i in range(n)])
        out = (df.select(F.explode(zipped).alias("g"))
               .select(gram.alias("gram"))
               .groupBy("gram").agg(F.count(F.lit(1)).alias("n")))
        return out.filter(F.col("n") >= min_count) if min_count > 1 else out
    out = (df.select(gram.alias("gram"))
           .groupBy("gram").agg(F.count(F.lit(1)).alias("n")))
    return out.filter(F.col("n") >= min_count) if min_count > 1 else out


@dataclass
class BackoffLM:
    """A trained bigram stupid-backoff model.

    ``bigrams``  — (prev, word, p_bg) with p_bg = c(prev word)/c(prev)
    ``unigrams`` — (word, p_uni)      with p_uni = c(word)/N
    ``total_tokens`` — N, the training-token count (OOV floor = 1/N)
    ``alpha``    — backoff discount (Brants et al. 2007 use 0.4)

    Both tables are plain DataFrames: persist them with
    ``df.write.parquet`` to reuse the model across runs (the day-2
    shape — train once on the reference corpus, score every crawl).
    """
    bigrams: DataFrame
    unigrams: DataFrame
    total_tokens: int
    alpha: float = 0.4
    lowercase: bool = True
    # row counts, recorded when the model is materialized at train time:
    # a localCheckpoint-backed table reports NO size statistics, so the
    # planner would sort-merge-join a thousand-row model against a
    # 10^10-row token explode; known counts let lm_score broadcast-hint
    # small models explicitly. None (e.g. lm_load from parquet) defers
    # to the planner's own size estimates, which parquet scans do have.
    n_bigrams: int | None = None
    n_unigrams: int | None = None


def lm_train(df: DataFrame, text_col: str = "text",
             lowercase: bool = True, min_count: int = 1,
             alpha: float = 0.4, materialize: bool = True) -> BackoffLM:
    """Train a bigram stupid-backoff LM over ``df``.

    One corpus explode feeds two vocabulary-sized aggregations; the
    bigram conditionals are resolved against the *unpruned* context
    counts (pruning only drops rows from the emitted model, it never
    biases surviving probabilities). The single driver-side scalar is
    N (total tokens) — a bounded one-row collect.

    ``materialize=True`` (default) eagerly materializes the model
    tables (``localCheckpoint``): a trained model is consumed MANY
    times (every ``lm_score`` call joins both tables, and the bigram
    table's lineage itself re-reads the unigram aggregation), so
    leaving them lazy re-runs the two training passes on every scoring
    action — train once, score many is the whole point of the
    train/score split. The tables are vocabulary-sized (min_count
    pruning bounds them), so executor-local storage is safe; pass
    False to keep the model fully lazy (e.g. when the caller persists
    it to parquet immediately via :func:`lm_save`)."""
    toks = word_tokens(text_col, lowercase)
    size = F.size(toks)
    words = df.select(toks.alias("toks"), size.alias("sz"))
    uni = (words.select(F.explode("toks").alias("word"))
           .groupBy("word").agg(F.count(F.lit(1)).alias("c")))
    if materialize:
        # one corpus pass; the N collect below and BOTH emitted tables
        # then read this vocabulary-sized table instead of re-scanning
        uni = uni.localCheckpoint(eager=True)
    # greatest(sz-1, 0): slice() rejects negative lengths, so an
    # empty/whitespace-only document (sz = 0) must clamp — web corpora
    # always contain them
    bigram_len = F.greatest(F.col("sz") - 1, F.lit(0))
    zipped = F.arrays_zip(
        F.slice(F.col("toks"), 1, bigram_len).alias("prev"),
        F.slice(F.col("toks"), 2, bigram_len).alias("word"))
    bg = (words.select(F.explode(zipped).alias("g"))
          .select(F.col("g.prev").alias("prev"), F.col("g.word").alias("word"))
          .groupBy("prev", "word").agg(F.count(F.lit(1)).alias("c_bg")))
    total = uni.agg(F.sum("c").alias("n")).collect()[0].n or 0
    unigrams = uni.select(
        "word", (F.col("c").cast("double") / F.lit(float(total))).alias("p_uni"),
        "c")
    bigrams = (bg.join(uni.withColumnRenamed("word", "prev")
                       .withColumnRenamed("c", "c_prev"), "prev")
               .select("prev", "word",
                       (F.col("c_bg").cast("double") /
                        F.col("c_prev").cast("double")).alias("p_bg"),
                       "c_bg"))
    if min_count > 1:
        unigrams = unigrams.filter(F.col("c") >= min_count)
        bigrams = bigrams.filter(F.col("c_bg") >= min_count)
    bigrams, unigrams = bigrams.drop("c_bg"), unigrams.drop("c")
    n_bg = n_uni = None
    if materialize:
        # second corpus pass (bigram counts) runs HERE, once; the row
        # counts are O(1) scans of the checkpointed tables and feed
        # lm_score's broadcast decision (checkpoint-backed tables have
        # no size statistics for the planner to decide from)
        bigrams = bigrams.localCheckpoint(eager=True)
        unigrams = unigrams.localCheckpoint(eager=True)
        n_bg, n_uni = bigrams.count(), unigrams.count()
    return BackoffLM(bigrams=bigrams, unigrams=unigrams,
                     total_tokens=int(total), alpha=alpha,
                     lowercase=lowercase, n_bigrams=n_bg,
                     n_unigrams=n_uni)


def lm_score(df: DataFrame, model: BackoffLM, text_col: str = "text",
             id_col: str = "doc_id", round_to: int = 6) -> DataFrame:
    """Score each document by mean log-probability per token under the
    stupid-backoff model:

    * position 1:   p = p_uni(w1), OOV floor 1/N
    * position i>1: p = p_bg(w_{i-1}, w_i) if the bigram is in the
      model, else ``alpha * p_uni(w_i)`` (OOV floor alpha/N)

    Returns ``(id_col, n_tokens, log_prob_per_token)`` with the score
    rounded to ``round_to`` decimals (sum-of-doubles order differs
    between engines below ~1e-12 relative — rounding makes the oracle
    comparison exact). Empty documents score 0.0 with n_tokens = 0.

    Plan shape: posexplode -> two left joins against the model tables
    (AQE picks broadcast vs shuffle by actual model size) -> one
    groupBy(id) with map-side partial sum. The document's token array
    is carried only long enough to extract (prev, word) pairs.
    """
    floor = 1.0 / float(model.total_tokens) if model.total_tokens else 1.0
    toks = word_tokens(text_col, model.lowercase)
    base = df.select(F.col(id_col), toks.alias("toks"))
    # i is 0-based from posexplode, element_at is 1-based, so
    # element_at(toks, i) IS the previous token; the array is dropped
    # before the joins so the shuffle carries only (prev, word) pairs
    pos = (base.select(
        id_col, "toks",
        F.size("toks").alias("n_tokens"),
        F.posexplode_outer("toks").alias("i", "word"))
        .select(id_col, "n_tokens", "i", "word",
                F.when(F.col("i") > 0,
                       F.element_at("toks", F.col("i"))).alias("prev")))
    # broadcast-hint model tables whose row count is KNOWN small (the
    # materialized-at-train case — checkpoint-backed tables carry no
    # size stats, so the planner would otherwise shuffle the full
    # token explode through two sort-merge joins; measured ~1.5x on
    # 200k pages, and at corpus scale it removes two |tokens|-row
    # exchanges). Unknown counts (lm_load) defer to the planner.
    bg, uni = model.bigrams, model.unigrams
    if model.n_bigrams is not None and model.n_bigrams <= _BROADCAST_ROWS:
        bg = F.broadcast(bg)
    if model.n_unigrams is not None and model.n_unigrams <= _BROADCAST_ROWS:
        uni = F.broadcast(uni)
    scored = (pos
              .join(bg, ["prev", "word"], "left")
              .join(uni, ["word"], "left"))
    p_backoff = F.lit(model.alpha) * F.coalesce("p_uni", F.lit(floor))
    logp = F.when(F.col("word").isNull(), F.lit(0.0)).otherwise(
        F.log(F.when(F.col("i") == 0,
                     F.coalesce("p_uni", F.lit(floor)))
              .otherwise(F.coalesce("p_bg", p_backoff))))
    return (scored.groupBy(id_col)
            .agg(F.max("n_tokens").alias("n_tokens"),
                 F.round(
                     F.when(F.max("n_tokens") > 0,
                            F.sum(logp) / F.max("n_tokens"))
                     .otherwise(F.lit(0.0)), round_to)
                 .alias("log_prob_per_token")))


def perplexity_buckets(df: DataFrame, model: BackoffLM,
                       lang_col: str = "lang", text_col: str = "text",
                       id_col: str = "doc_id",
                       cuts=(1 / 3, 2 / 3),
                       labels=("head", "middle", "tail"),
                       num_partitions: int | None = None) -> DataFrame:
    """CCNet head/middle/tail split (Wenzek et al. 2019 §4.4): score
    every document under ``model``, then cut each language into buckets
    of equal cumulative TOKEN mass in perplexity order — head = most
    reference-like (highest mean log-prob = lowest perplexity).

    The per-language running token sum is computed by the skew-immune
    range-partitioned prefix sum in :mod:`ops.ranking` (a plain
    ``PARTITION BY lang`` window would put ~half the corpus in the
    English reducer). Returns ``(id_col, lang_col,
    log_prob_per_token, weight, cum_weight, share, bucket)`` — exact
    integer cumulative weights, so the result is independent of
    partitioning and engine (the DuckDB oracle re-derives it end to
    end).
    """
    from gojsonschema_spark.ops.ranking import cumulative_share_buckets

    scored = lm_score(df, model, text_col=text_col, id_col=id_col)
    joined = scored.join(df.select(id_col, lang_col), id_col)
    return cumulative_share_buckets(
        joined, "log_prob_per_token", id_col=id_col, group_col=lang_col,
        weight_col="n_tokens", cuts=cuts, labels=labels,
        descending=True, num_partitions=num_partitions)


def lm_save(model: BackoffLM, path: str) -> None:
    """Persist a trained LM for day-2 scoring: bigram/unigram tables as
    parquet plus a one-row meta table (N, alpha, lowercase)."""
    model.bigrams.write.mode("overwrite").parquet(f"{path}/bigrams")
    model.unigrams.write.mode("overwrite").parquet(f"{path}/unigrams")
    spark = model.bigrams.sparkSession
    spark.createDataFrame(
        [(model.total_tokens, float(model.alpha), bool(model.lowercase))],
        "total_tokens long, alpha double, lowercase boolean") \
        .write.mode("overwrite").parquet(f"{path}/meta")


def lm_load(spark, path: str) -> BackoffLM:
    """Inverse of :func:`lm_save`."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    return BackoffLM(bigrams=spark.read.parquet(f"{path}/bigrams"),
                     unigrams=spark.read.parquet(f"{path}/unigrams"),
                     total_tokens=int(meta.total_tokens),
                     alpha=float(meta.alpha),
                     lowercase=bool(meta.lowercase))

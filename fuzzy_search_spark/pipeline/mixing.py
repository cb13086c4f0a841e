"""Corpus mixing: deterministic stratified sampling + token-budget
mixture planning.

Training-data pipelines don't take "all of the web" — they take a
weighted mixture (so much news, so much code, so much web) under a total
token budget.  Two operators cover that tier:

- :func:`mixture_plan` — per-stratum doc/token totals joined against
  target mixture weights, yielding the sampling rate that hits the token
  budget (capped at 1.0 when a stratum is smaller than its allocation).
- :func:`corpus_sample` — applies per-stratum rates with a DETERMINISTIC
  md5 keep-predicate: ``hash60(salt:id) % 1e6 < floor(rate * 1e6)``.

Determinism is the point.  ``DataFrame.sample()`` draws per-partition
pseudo-random numbers, so its output changes under task retry,
repartitioning, or AQE re-planning — on a 1000-executor job that makes
"which documents did we train on" irreproducible.  The hash predicate is
a pure function of (salt, id): stable across retries, cluster sizes and
engines (the DuckDB oracle evaluates the same predicate), and
monotone — raising a stratum's rate only ever ADDS documents, so
incremental budget bumps reuse everything already sampled.

Scale shape: corpus_sample is a broadcast join (the rate table is tiny)
plus a per-row filter — no shuffle of the corpus; mixture_plan is one
hash aggregation over the strata keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: bucket space for the keep predicate; rates quantize to 1/1e6.
BUCKETS = 1_000_000


def _bucket(id_col: str, salt: str):
    """Uniform bucket in [0, 1e6): 60-bit md5 of ``salt:id`` mod 1e6.
    DuckDB mirror: ``CAST('0x' || substr(md5(...), 1, 15) AS BIGINT) %
    1000000``."""
    key = F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    return (F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
            % BUCKETS)


def stratum_stats(df: DataFrame, strata=("source",),
                  text_col: str = "text") -> DataFrame:
    """Per-stratum document and whitespace-token totals."""
    tokens = F.size(F.split(F.col(text_col), r"\s+"))
    return df.groupBy(*strata).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tokens).alias("n_tokens"))


def mixture_plan(df: DataFrame, weights: dict, token_budget: int,
                 stratum_col: str = "source",
                 text_col: str = "text") -> DataFrame:
    """Sampling plan hitting ``token_budget`` at the given mixture.

    ``weights`` maps stratum value -> relative weight (normalized here);
    strata absent from ``weights`` get no allocation and are excluded.
    Returns (stratum, n_docs, n_tokens, target_tokens, rate) where
    ``rate = min(1, target_tokens / n_tokens)`` — feed it straight into
    :func:`corpus_sample`.
    """
    total_w = float(sum(weights.values()))
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(k, float(v) / total_w) for k, v in sorted(weights.items())],
        f"{stratum_col} string, w double")
    stats = stratum_stats(df, (stratum_col,), text_col)
    target = F.round(F.col("w") * F.lit(float(token_budget)), 6)
    return (
        stats.join(F.broadcast(wdf), stratum_col)
        .select(
            stratum_col, "n_docs", "n_tokens",
            target.alias("target_tokens"),
            F.round(F.least(F.lit(1.0), target / F.col("n_tokens")), 6)
            .alias("rate"))
    )


def corpus_sample(df: DataFrame, rates, stratum_col: str = "source",
                  id_col: str = "doc_id",
                  salt: str = "mix-v1") -> DataFrame:
    """Deterministic stratified sample: keep a row iff its md5 bucket
    falls below ``floor(rate * 1e6)`` for its stratum.

    ``rates`` is either a dict (stratum -> rate in [0, 1]) or a DataFrame
    with (stratum_col, rate) columns — e.g. :func:`mixture_plan` output.
    Strata without a rate are dropped (rate 0).  Output: the sampled
    (id, stratum, bucket) rows; join back on ``id_col`` for full rows.
    """
    if isinstance(rates, dict):
        spark = df.sparkSession
        rates = spark.createDataFrame(
            [(k, float(v)) for k, v in sorted(rates.items())],
            f"{stratum_col} string, rate double")
    else:
        rates = rates.select(stratum_col, "rate")
    cutoff = F.floor(F.col("rate") * F.lit(BUCKETS)).cast("long")
    return (
        df.select(F.col(id_col), F.col(stratum_col),
                  _bucket(id_col, salt).alias("bucket"))
        .join(F.broadcast(rates), stratum_col)
        .filter(F.col("bucket") < cutoff)
        .select(id_col, stratum_col, "bucket")
    )


def packing_plan(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", max_tokens: int = 2048,
                 num_shards: int = 1024,
                 salt: str = "pack-v1") -> DataFrame:
    """Deterministic sequence-packing plan: lay documents end to end
    into fixed-token-budget bins (training context windows), in a
    deterministic pseudo-random order — the corpus-assembly step between
    mixture sampling and tokenization.

    Each document gets a shard (``hash60(salt:id) % num_shards``) and a
    position within its shard (ordered by the same hash, so the reading
    order is a reproducible shuffle — same property argued for
    :func:`corpus_sample`: retries, repartitioning and engine choice
    cannot change which window a document lands in).  A running token
    sum then yields, per document: the bin it starts in and the offset
    inside that bin.  Documents longer than ``max_tokens`` keep their
    full count and simply span bins (standard packed-sequence
    continuation); whitespace tokens stand in for tokenizer counts
    (swap in subword-tokenizer counts for exact budgets).

    Returns ``(doc_id, shard, pos, n_tokens, start_tok, bin_id,
    bin_offset)`` with ``bin_id`` numbered per shard.

    Scale shape: one scan -> hash projection -> a window cumulative sum
    partitioned by SHARD (never a global window — partition size is
    corpus/num_shards, tuned by the caller; the sort key is the 60-bit
    hash, already uniform).  The only exchange is the shard
    repartition.
    """
    tokens = F.size(F.split(F.col(text_col), r"\s+"))
    key = F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    base = df.select(
        F.col(id_col),
        (h % num_shards).alias("shard"),
        h.alias("_order"),
        tokens.cast("long").alias("n_tokens"))

    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("_order", id_col)
    cum = F.sum("n_tokens").over(w)
    start = (cum - F.col("n_tokens")).alias("start_tok")
    return base.select(
        id_col, "shard",
        (F.row_number().over(w) - 1).alias("pos"),
        "n_tokens",
        start,
        F.floor((cum - F.col("n_tokens")) / max_tokens).alias("bin_id"),
        ((cum - F.col("n_tokens")) % max_tokens).alias("bin_offset"),
    )


def assign_splits(df: DataFrame, weights=None, id_col: str = "doc_id",
                  salt: str = "split-v1") -> DataFrame:
    """Deterministic train/validation/test assignment by md5 bucket —
    the split every training pipeline needs, with the properties
    ``DataFrame.randomSplit`` lacks: stable under retries,
    repartitioning, engine choice and corpus GROWTH (a document keeps
    its split when new documents arrive, so eval sets never silently
    absorb training data across snapshots).

    ``weights`` is an ordered dict (split name -> fraction, summing to
    ~1; default 98/1/1).  Cumulative bucket thresholds carve [0, 1e6);
    rounding residue goes to the last split.  Pure projection — no shuffle.
    Returns ``(id, bucket, split)``."""
    if weights is None:
        weights = {"train": 0.98, "validation": 0.01, "test": 0.01}
    bucket = _bucket(id_col, salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += float(weights[name])
        # round, don't truncate: float accumulation (0.7 + 0.15 =
        # 0.8499999999999999) would otherwise shift a whole bucket of
        # documents into the wrong split.
        cutoff = int(round(acc * BUCKETS))
        branch = (F.when(bucket < cutoff, F.lit(name)) if expr is None
                  else expr.when(bucket < cutoff, F.lit(name)))
        expr = branch
    split = (expr.otherwise(F.lit(names[-1])) if expr is not None
             else F.lit(names[-1]))
    return df.select(F.col(id_col), bucket.alias("bucket"),
                     split.alias("split"))

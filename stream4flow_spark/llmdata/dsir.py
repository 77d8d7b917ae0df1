"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling").

Select raw-pool documents that look like a small target corpus: fit two
bag-of-hashed-ngram models (target vs raw), weight every raw document by
its log-likelihood ratio under them, keep the top-k (or resample by the
weights). This is the standard pretraining-mixture tool for "give me
crawl data that looks like Wikipedia" and complements the quality tiers
already here (Gopher rules, CCNet perplexity buckets, model-based LR):
those score *absolute* quality, DSIR scores *distributional match to a
target domain*.

Scale shape (all sizes bounded by construction):
- unigram+bigram extraction and feature-hashing happen in-task on one
  scan (explode of an in-row array — no join, text never shuffles);
- per-(doc, bucket) counts partial-agg before the exchange, so the wire
  carries (id, bucket, count) triples — never grams;
- the two language models are ONE conditional-sum aggregate keyed by
  bucket: at most ``n_buckets`` rows regardless of corpus size, plus a
  1-row total fold (broadcast scalar, the Catalyst scalar-subquery
  plan);
- the log-ratio table (<= n_buckets rows) broadcasts into the scoring
  join, so scoring is map-side against the (id, bucket, count) stream;
- top-k select is TakeOrderedAndProject (each task keeps k rows).

At 100 TB the only state that grows with the corpus is the per-doc
weight frame (two longs + a double per doc); n_buckets (10^4-10^5) keeps
both LMs and the broadcast constant-size, exactly as in the paper.

Determinism: the bucket of a gram is derived from md5 (same digest in
Spark and DuckDB), weights are plain sums of per-bucket log-ratios, and
selection orders by the 4dp-ROUNDED weight with id tiebreak — so an
oracle can replay the whole pipeline CTE-for-CTE. The md5 bucket is the
only bucket: the gate and the oracle certify the path production runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: in-task unigram + bigram array from a lowercased text column
_GRAMS = (
    "concat(ws, zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)), "
    "slice(ws, 2, greatest(size(ws) - 1, 0)), "
    "(a, b) -> concat(a, ' ', b)))"
)


def _bucket(gram: Column, n_buckets: int) -> Column:
    return (
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def hashed_ngram_counts(
    docs: DataFrame,
    is_target: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
) -> DataFrame:
    """Per-(doc, bucket) occurrence counts of hashed unigrams+bigrams.

    Returns (id, tgt, bucket, dcnt) — the shared substrate for both the
    LM fit and the per-doc scoring pass.
    """
    grams = (
        docs.select(
            F.col(id_col).alias("id"),
            is_target.alias("tgt"),
            F.expr(
                f"filter(split(lower({text_col}), '[^a-z]+'), "
                "w -> w <> '')"
            ).alias("ws"),
        )
        .select("id", "tgt", F.explode(F.expr(_GRAMS)).alias("g"))
    )
    return (
        grams.select(
            "id", "tgt", _bucket(F.col("g"), n_buckets).alias("b")
        )
        .groupBy("id", "tgt", "b")
        .agg(F.count("*").alias("dcnt"))
    )


def dsir_weights(
    docs: DataFrame,
    is_target: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    smoothing: float = 1.0,
) -> DataFrame:
    """Importance weight (log p_target/p_raw of the hashed-ngram bag)
    for every RAW-pool document.

    Returns (id, n_grams, weight): ``weight`` is the unrounded sum of
    per-bucket log-ratios over the doc's gram occurrences; callers round
    before ranking so float noise can't flip an order across engines.
    Raw documents with zero extractable grams carry no evidence either
    way and are omitted (weight would be an empty sum).
    """
    per_db = hashed_ngram_counts(
        docs,
        is_target,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
    )
    counts = per_db.groupBy("b").agg(
        F.sum(F.when(F.col("tgt"), F.col("dcnt")).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("tgt"), F.col("dcnt")).otherwise(0)).alias("cr"),
    )
    s, sb = float(smoothing), float(smoothing) * n_buckets
    # corpus totals as an UNPARTITIONED window sum over counts, not a
    # crossJoin with a separate 1-row aggregate: the scalar-totals
    # branch re-derived the whole explode+hash gram pipeline a second
    # time (the r15 before-plan shows three full document scans; guide
    # §2.4). The window moves exactly the <= n_buckets count rows to
    # one partition — constant-size by construction — and the integer
    # sums are exact, so nt/nr (and every lam) are bit-identical to the
    # crossJoin form.
    w_all = Window.partitionBy()
    lam = counts.select(
        "b",
        (
            F.log(
                (F.col("ct") + s)
                / (F.sum("ct").over(w_all).cast("double") + sb)
            )
            - F.log(
                (F.col("cr") + s)
                / (F.sum("cr").over(w_all).cast("double") + sb)
            )
        ).alias("lam"),
    )
    return (
        per_db.filter(~F.col("tgt"))
        .join(F.broadcast(lam), "b")
        .groupBy("id")
        .agg(
            F.sum("dcnt").alias("n_grams"),
            F.sum(F.col("dcnt") * F.col("lam")).alias("weight"),
        )
        .withColumnRenamed("id", id_col)
    )


def dsir_select(
    docs: DataFrame,
    is_target: Column,
    k: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    smoothing: float = 1.0,
    round_dp: int = 4,
) -> DataFrame:
    """Top-k raw documents by importance weight (deterministic: ranked on
    the ``round_dp``-rounded weight, id tiebreak). Paper §3.2 samples
    with Gumbel noise; a fixed-seed Gumbel is just a different
    deterministic key — top-k is the reproducible default."""
    from stream4flow_spark.operators.topk import top_k_global

    w = dsir_weights(
        docs,
        is_target,
        id_col=id_col,
        text_col=text_col,
        n_buckets=n_buckets,
        smoothing=smoothing,
    ).select(
        id_col, "n_grams", F.round("weight", round_dp).alias("weight")
    )
    return top_k_global(w, "weight", k, tiebreak_cols=[id_col])

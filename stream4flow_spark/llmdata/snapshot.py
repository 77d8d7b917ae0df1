"""Corpus snapshot diffing — the ingest audit between two versions of a
corpus (yesterday's crawl vs today's): which documents were added,
removed, changed in place, or untouched.

Complementary to ``rel_snapshot_drift`` (column-statistics drift — does
the data LOOK different) — this answers membership: WHICH rows differ.
Together they are the review gate before a retrain consumes a new
snapshot.

Scale shape: each side digests its text MAP-SIDE on the scan, so the
full-outer join carries (id, digest) only — text never shuffles. At
100 TB both sides shuffle once on the id (or zero times if the
snapshots are bucketed/range-clustered on it — see sources/layout.py);
the join is narrow either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per document present in either snapshot, with its diff
    ``status``: ``added`` (new only), ``removed`` (old only),
    ``changed`` (both, different content), ``unchanged``.

    The md5 digest replays identically in DuckDB, so the result is
    oracle-verifiable; status only needs digest EQUALITY.
    """
    o = old.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("fp_old"),
    )
    n = new.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("fp_new"),
    )
    status = (
        F.when(F.col("fp_old").isNull(), "added")
        .when(F.col("fp_new").isNull(), "removed")
        .when(F.col("fp_old") != F.col("fp_new"), "changed")
        .otherwise("unchanged")
    )
    return (
        o.join(n, "id", "full_outer")
        .select(F.col("id").alias(id_col), status.alias("status"))
    )


def corpus_diff_summary(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The one-line sign-off sheet: count per diff status (4 rows max)."""
    return (
        corpus_diff(old, new, id_col, text_col)
        .groupBy("status")
        .agg(F.count("*").alias("n_docs"))
    )

"""Crawl snapshot reconciliation.

Recrawl pipelines diff consecutive snapshots to schedule fetches and
to version training corpora: which URLs appeared, vanished, changed
content, or stayed identical between crawl A and crawl B.

Scale shape (two 100 TB snapshots):
- content digests are computed SCAN-SIDE (``md5`` over the payload
  column before the join projects bodies away), so the full-outer
  join moves only ``(url, 16-byte digest)`` — never page bodies.
- the join shuffles on url; with both snapshots bucketed by url at
  write time (the natural layout for a url-keyed corpus, Spark's
  ``DataFrameWriter.bucketBy`` + ``saveAsTable``) it co-locates with
  zero movement.
- output is partial-agg friendly downstream (per-host change rates =
  one more groupBy over the 4-valued status).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: status values, in the order a recrawl scheduler prioritizes them
ADDED, REMOVED, CHANGED, UNCHANGED = "added", "removed", "changed", "unchanged"


def crawl_diff(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    content_col: str = "html",
) -> DataFrame:
    """Full-outer reconcile of two snapshots → ``(url, status)``.

    ``status``: ``added`` (only in new), ``removed`` (only in old),
    ``changed`` (both, digest differs), ``unchanged`` (both, digest
    equal).
    """
    a = old.select(
        F.col(url_col).alias("url"), F.md5(F.col(content_col)).alias("_da")
    )
    b = new.select(
        F.col(url_col).alias("url"), F.md5(F.col(content_col)).alias("_db")
    )
    j = a.join(b, "url", "full")
    status = (
        F.when(F.col("_da").isNull(), F.lit(ADDED))
        .when(F.col("_db").isNull(), F.lit(REMOVED))
        .when(F.col("_da") == F.col("_db"), F.lit(UNCHANGED))
        .otherwise(F.lit(CHANGED))
    )
    return j.select("url", status.alias("status"))


def host_change_rates(diff: DataFrame) -> DataFrame:
    """Per-host snapshot churn — the recrawl-frequency signal:
    ``(host, n_urls, n_changed, n_added, n_removed, change_rate)``."""
    host = F.parse_url(F.lower(F.col("url")), F.lit("HOST"))
    return (
        diff.select(host.alias("host"), "status")
        .groupBy("host")
        .agg(
            F.count("*").alias("n_urls"),
            F.sum((F.col("status") == CHANGED).cast("long")).alias("n_changed"),
            F.sum((F.col("status") == ADDED).cast("long")).alias("n_added"),
            F.sum((F.col("status") == REMOVED).cast("long")).alias("n_removed"),
            F.round(
                F.avg((F.col("status") != UNCHANGED).cast("double")), 6
            ).alias("change_rate"),
        )
    )

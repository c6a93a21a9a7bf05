"""Faceted search: per-facet document counts over a query's FULL
match set (Lucene/Solr facet counting re-expressed as Spark joins).

The reference's API returns only top-k hits (/root/reference/api/
query.py:9-17) — facets are the standard search-engine sibling the
dense path cannot express: "how do the matching docs distribute over
host / language / source?".

Scale shape: the match set comes from the index-backed boolean plan
(query/boolean.accepted_docs — one pruned-postings pass + one shuffle;
no document that matches no query term ever exists in the plan). The
facet key joins in from doc_stats on doc_id — a shuffle hash join
whose left side is only the matching docs — and the count aggregate
gets map-side partial aggregation. No corpus/text access at any stage.
Every plan takes the query's Snapshot (index/storage.py): the match
set and doc_stats both come from its epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .boolean import accepted_docs

# scheme://host[:port]/...  -> host[:port] (the facet key keeps the
# port: distinct origins are distinct hosts for crawl accounting)
HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/]+)"


#: date_trunc units accepted for timestamp facets (ES date_histogram)
DATE_GRANULARITIES = ("year", "quarter", "month", "week", "day", "hour")


def facet_key_expr(by: str, granularity: str | None = None):
    """Facet key over doc_stats columns: 'host' derives from url,
    anything else must be a doc_stats column name. ``granularity``
    (r5) buckets a timestamp column with date_trunc — the ES
    date_histogram analog over a meta_cols crawl timestamp (facet
    rendered as an ISO string so the key type stays comparable)."""
    if granularity is not None:
        if granularity not in DATE_GRANULARITIES:
            raise ValueError(
                f"granularity must be one of {DATE_GRANULARITIES}")
        if by == "host":
            raise ValueError("granularity applies to a timestamp "
                             "column, not 'host'")
        return F.date_format(
            F.date_trunc(granularity, F.col(by)), "yyyy-MM-dd HH:mm:ss")
    if by == "host":
        return F.regexp_extract("url", HOST_RE, 1)
    return F.col(by)


def facet_counts(spark: SparkSession, snap, expr: str, by: str = "host",
                 top: int = 20, granularity: str | None = None,
                 ) -> DataFrame:
    """(facet, n_docs) for the ``top`` most frequent facet values among
    the docs matching the boolean ``expr`` (plain OR-bags are a boolean
    chain too). Deterministic (n_docs DESC, facet ASC) order —
    except with ``granularity`` (date histogram), where the natural
    order is chronological (facet ASC)."""
    matched = accepted_docs(spark, snap, [(0, expr)]).select("doc_id")
    stats = snap.store.doc_stats(spark, snap.epoch)
    grouped = (
        matched.join(stats, "doc_id")
        .groupBy(facet_key_expr(by, granularity).alias("facet"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    if granularity is not None:
        return grouped.orderBy(F.col("facet").asc()).limit(top)
    return (grouped
            .orderBy(F.col("n_docs").desc(), F.col("facet").asc())
            .limit(top))


def facet_stats(spark: SparkSession, snap, expr: str, val_col: str,
                by: str = "host", top: int = 20,
                granularity: str | None = None) -> DataFrame:
    """ES metric-aggregation analog (`stats` inside a bucket agg):
    per-facet numeric statistics of a doc_stats column over the FULL
    match set — (facet, n_docs, min_v, max_v, avg_v, sum_v). The
    "average doc length / crawl age per host among matching docs"
    query every search dashboard runs.

    Same plan as facet_counts (index-backed match set -> doc_stats
    join -> one partial-aggregated shuffle); ``val_col`` must be a
    numeric doc_stats column ('dl' is always present; any numeric
    meta_cols column works). Deterministic (n_docs DESC, facet ASC)
    order; chronological with ``granularity``."""
    matched = accepted_docs(spark, snap, [(0, expr)]).select("doc_id")
    stats = snap.store.doc_stats(spark, snap.epoch)
    v = F.col(val_col).cast("double")
    grouped = (
        matched.join(stats, "doc_id")
        .groupBy(facet_key_expr(by, granularity).alias("facet"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(v).alias("min_v"), F.max(v).alias("max_v"),
             F.avg(v).alias("avg_v"), F.sum(v).alias("sum_v"))
    )
    if granularity is not None:
        return grouped.orderBy(F.col("facet").asc()).limit(top)
    return (grouped
            .orderBy(F.col("n_docs").desc(), F.col("facet").asc())
            .limit(top))


def sort_topk(spark: SparkSession, snap, expr: str, by: str,
              k: int = 10, *, ascending: bool = False) -> DataFrame:
    """ES sort-by-field: the top-``k`` docs of the FULL match set of a
    boolean ``expr`` ordered by a doc_stats key instead of relevance —
    "newest matching docs" when ``by`` is a meta_cols crawl timestamp.
    ``by`` is any doc_stats column or 'host' (facet_key_expr). Ties
    break on url ASC (the stable external key, as in collapsed_topk);
    NULL sort keys order last either direction.

    Plan shape: the index-backed match set (one pruned-postings pass +
    one shuffle, accepted_docs) joins the (doc_id, url, by)-pruned
    doc_stats scan, and orderBy().limit(k) executes as a DISTRIBUTED
    TakeOrdered — per-partition top-k then a k-sized driver merge,
    never a single-task global sort. The rank window runs over the k
    survivors only. Returns (rank, doc_id, url, sort_value)."""
    from pyspark.sql import Window

    matched = accepted_docs(spark, snap, [(0, expr)]).select("doc_id")
    stats = snap.store.doc_stats(spark, snap.epoch)
    key = facet_key_expr(by)
    order = [(key.asc_nulls_last() if ascending
              else key.desc_nulls_last()), F.col("url").asc()]
    topk = (matched.join(stats, "doc_id")
            .select("doc_id", "url", key.alias("sort_value"))
            .orderBy(*order)
            .limit(k))
    sv = F.col("sort_value")
    w = Window.orderBy(sv.asc_nulls_last() if ascending
                       else sv.desc_nulls_last(), F.col("url").asc())
    return (topk.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "url", "sort_value"))

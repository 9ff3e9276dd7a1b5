"""Source-side operators (SURVEY.md §2.1): scans, source-level filters,
multi-pattern union, and the listing projections the reference prints.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = "doc_id long, url string, warc_ts timestamp, html binary, text string, lang string"


def read_pages(spark: SparkSession, path: str, recursive: bool = False) -> DataFrame:
    """Scan a pages table from parquet (Iceberg-ready: swap for
    spark.read.table). `recursive` maps the reference's `-r` flag
    (cli.rs:443-445) onto recursiveFileLookup."""
    reader = spark.read
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.parquet(path)


def read_multi(spark: SparkSession, paths: list[str]) -> DataFrame:
    """The reference's multi-pattern loop (main.rs:11-20) — each --path a
    separate query, printed sequentially — becomes one UNION ALL scan."""
    dfs = [read_pages(spark, p) for p in paths]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def basename(url_col: str = "url") -> Column:
    return F.substring_index(F.col(url_col), "/", -1)


def hidden_filter(df: DataFrame, allow_hidden: bool = False, url_col: str = "url") -> DataFrame:
    """Drop entries whose basename starts with '.' unless -a
    (reference is_hidden, cli.rs:416-418; applied cli.rs:451-453).
    A source-level predicate — Catalyst pushes it into the scan."""
    if allow_hidden:
        return df
    return df.filter(~basename(url_col).startswith("."))


def long_listing(df: DataFrame, url_col: str = "url", ts_col: str = "warc_ts") -> DataFrame:
    """The `--long` sink's projection (reference LongFormatter,
    cli.rs:587-621) mapped to web pages: timestamp formatted exactly like
    the reference's mtime format '%b %d %H:%M' (cli.rs:610-612), plus
    identity columns. Unix perm/owner bits don't exist for pages
    (documented non-goal, SURVEY §7)."""
    return df.select(
        F.col(url_col).alias("url"),
        F.date_format(F.col(ts_col), "MMM dd HH:mm").alias("modified"),
        basename(url_col).alias("title"),
        F.col("lang"),
    )

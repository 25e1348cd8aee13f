"""End-to-end pipeline: corpus load/extract → index build → search.

Mirrors the reference's ingest semantics on the canonical CC-style table:

* keep one language        (≈ namespace-0 filter, ``xml_reader.py:91``)
* drop REDIRECT-first-line docs            (``xml_reader.py:94``)
* extract + clean markup byte-identically  (SURVEY §2.3 chain)
* content-derived ``doc_id = xxhash64(url)``

The cheap filters are written BEFORE the extraction UDF on purpose:
Catalyst will not reorder around an opaque pandas UDF, so filter-first is
the hand-guaranteed pushdown (SURVEY §4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparksearch.extract import extract_text_udf
from sparksearch.index.build import build_index
from sparksearch.query.topk import InvertedIndex


def redirect_filter(text_col: str = "text"):
    """Keep docs whose first line does not contain REDIRECT (any case)."""
    first_line = F.split(F.col(text_col), "\n", 2).getItem(0)
    return ~F.upper(first_line).contains("REDIRECT")


def prepare_corpus(
    docs: DataFrame,
    *,
    lang: str | None = "en",
    use_html: bool = False,
    url_col: str = "url",
) -> DataFrame:
    """Canonical table → (doc_id, text) ready for indexing."""
    out = docs
    if lang is not None and "lang" in out.columns:
        out = out.filter(F.col("lang") == lang)
    if use_html:
        out = out.filter(F.col("html").isNotNull()).withColumn(
            "text", extract_text_udf(F.col("html"))
        )
    else:
        out = out.filter(F.col("text").isNotNull())
    out = out.filter(redirect_filter("text"))
    if "doc_id" not in out.columns:
        out = out.withColumn("doc_id", F.xxhash64(url_col))
    return out.select("doc_id", "text")


def build_and_load(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    cache_stats: bool | None = None,
    **build_kw,
) -> InvertedIndex:
    build_index(spark, docs, index_dir, **build_kw)
    return InvertedIndex(spark, index_dir, cache_stats=cache_stats)

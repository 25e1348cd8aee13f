"""Term-dictionary sidecar (lexicon) + multi-term query expansion.

Format v3 dropped term STRINGS from the index entirely (int64
``xxhash64`` ids end-to-end) — exact-term queries never need them.
Multi-term queries (OpenSearch ``prefix`` / ``wildcard`` / ``fuzzy``,
Lucene's ``MultiTermQuery`` family) do: they rewrite against the term
DICTIONARY before touching postings.  This sidecar restores exactly
that piece, Lucene-style: a ``lexicon/`` parquet of
``(term, term_id, df)`` range-partitioned and sorted by ``term`` so a
prefix rewrite is a parquet min/max-pruned range scan, never a full
vocabulary pass.

Size: the lexicon is vocabulary-sized (tens of millions of rows at
100 TB — thousands of times smaller than postings), built from one
extra tokenize pass, which is why it is OPT-IN (``build_lexicon``)
rather than part of every build.

Every rewrite — prefix, fuzzy, wildcard, regexp, the span_multi
wildcard slot and the query tree's MultiTerm leaves — runs the one
pipeline :func:`rewrite` (term range, predicate, order, cap).

Expansion semantics (pinned; both expanders are deterministic):

* ``expand_prefix`` — terms starting with the prefix, dictionary order
  (term asc), capped at ``max_expansions`` (Lucene's 50 default for
  ``match_phrase_prefix``; prefix/wildcard rewrites cap the same way
  via ``indices.query.bool.max_clause_count`` pressure).
* ``expand_fuzzy`` — terms within Levenshtein ``max_edits`` (default
  Lucene AUTO: length 0–2 → 0 edits, 3–5 → 1, else 2) sharing the
  required ``prefix_length`` first chars; ordered (distance asc,
  term asc), capped at ``max_expansions``.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparksearch.analyze import tokens_col
from sparksearch.index import manifest as mf

MAX_EXPANSIONS = 50  # Lucene's default multi-term expansion cap


def lexicon_path(index_dir: str) -> str:
    return os.path.join(index_dir, "lexicon")


def auto_fuzziness(term: str) -> int:
    """Lucene ``AUTO``: 0 edits under 3 chars, 1 through 5, else 2."""
    n = len(term)
    return 0 if n < 3 else (1 if n <= 5 else 2)


def build_lexicon(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str | None = None,
    n_files: int | None = None,
) -> None:
    """One tokenize pass → ``lexicon/`` parquet (term, term_id, df).

    ``analyzer=None`` reads the index meta so the dictionary always
    matches the build's analysis.  ``df`` rides along so expanders can
    rank rewrites without touching stats.  The frame is range-
    partitioned + sorted on ``term``: parquet row-group min/max then
    prune prefix scans to the files that can hold the range
    (single-field indexes; a multi-field lexicon would carry the field
    salt per namespace — not needed by the reference surface).
    """
    if analyzer is None:
        analyzer = mf.read_meta(index_dir).get("analyzer", "ascii")
    flat = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens_col(text_col, analyzer)).alias("term"),
        )
        .groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
        .select("term", F.xxhash64("term").alias("term_id"), "df")
    )
    if n_files is None:
        # vocab is tiny relative to the corpus; a handful of sorted
        # files keeps the range scan wide enough to parallelize while
        # min/max stats stay selective
        n_files = max(4, docs.sparkSession.sparkContext.defaultParallelism // 4)
    (
        flat.repartitionByRange(n_files, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(lexicon_path(index_dir))
    )


def read_lexicon(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(lexicon_path(index_dir))


def rewrite(
    spark: SparkSession,
    index_dir: str,
    *,
    head: str = "",
    where: Column | None = None,
    rank: Column | None = None,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """The one multi-term rewrite: lexicon → ``head`` term range →
    ``where`` → order → cap → terms.

    The ``term >= head AND term < head + U+FFFF`` range pushes into
    parquet row-group stats (the sidecar is term-sorted), so only the
    covering files are read regardless of vocabulary size.  Terms come
    out in dictionary order, or by (``rank`` asc, term asc).
    """
    lx = read_lexicon(spark, index_dir)
    if head:
        lx = lx.filter((F.col("term") >= head) & (F.col("term") < head + "\uffff"))
    if where is not None:
        lx = lx.filter(where)
    if rank is None:
        lx = lx.orderBy("term")
    else:
        lx = lx.select("term", rank.alias("_d")).orderBy(F.asc("_d"), F.asc("term"))
    return [r["term"] for r in lx.limit(max_expansions).collect()]


def expand_prefix(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Prefix rewrite → expanded terms, dictionary order, capped."""
    if not prefix:
        raise ValueError("prefix must be non-empty")
    return rewrite(spark, index_dir, head=prefix, max_expansions=max_expansions)


def expand_fuzzy(
    spark: SparkSession,
    index_dir: str,
    term: str,
    *,
    max_edits: int | None = None,
    prefix_length: int = 0,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Fuzzy rewrite → terms within edit distance, (distance, term) order.

    The vocabulary scan is lexicon-sized (not corpus-sized); with
    ``prefix_length > 0`` the same term-range pruning as
    :func:`expand_prefix` applies first (Lucene's ``prefix_length``
    exists for exactly this cost reason).
    """
    edits = auto_fuzziness(term) if max_edits is None else int(max_edits)
    lev = F.levenshtein(F.col("term"), F.lit(term))
    return rewrite(
        spark, index_dir, head=term[:prefix_length], where=lev <= edits,
        rank=lev, max_expansions=max_expansions,
    )

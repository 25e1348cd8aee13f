"""``significant_text`` aggregation: terms over-represented in a match set.

OpenSearch's significant-terms family surfaces the terms whose document
frequency in the FOREGROUND (the query's match set) is anomalously high
versus the BACKGROUND (the whole index) — "what is this result set
about".  Semantics pinned here (mirrored by the DuckDB twin and the
index-sidecar variant):

* foreground = the OR-semantics match set (``query/aggs.py``); term
  presence is per-doc DISTINCT (a doc contributes 1 to a term's count
  no matter how often the term repeats — exactly a df);
* background = every doc with non-null text (OpenSearch's default
  background is the whole index, so background ⊇ foreground);
* kept terms: ``fg_count >= min_doc_count`` (OpenSearch default 3) and
  ``fg_pct > bg_pct`` (only positively significant terms are returned);
  query terms are NOT excluded (OpenSearch keeps them too — they are
  trivially significant);
* score = JLH (the classic default): ``(fg_pct − bg_pct) · (fg_pct /
  bg_pct)`` with ``fg_pct = fg/|M|``, ``bg_pct = bg/N``; rounded 6 dp
  (pure ratios of exact int64 counts — identical doubles in every
  engine);
* order: score desc, term asc; top ``size`` (default 10).

Scale shape: the exhaustive path counts both sides in ONE pass — explode
the distinct tokens → map-side-combined groupBy with a plain count
(background) and a conditional count over the match flag (foreground),
the same shuffle shape as the index's own term-stats job — plus one
scalar aggregate for |M| and N.  Nothing is cached, so no frame
outlives the call.  The JLH filter, score and cut
(:func:`_jlh_top`) are written once and shared by every form; the
match set is the one of the aggregation layer in ``query/aggs.py``.
At 100 TB use :func:`significant_text_indexed`: foreground counts come
from the tfrows forward index semi-joined to the pruned-postings match
set, background from the stats sidecar, term strings from the lexicon —
the corpus text is never re-read at all.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str, tokens_col

SIG_ROUND = 6


def _jlh_top(counts: DataFrame, key: str, m_docs, n_docs, min_doc_count: int,
             size: int) -> DataFrame:
    """(key, fg_count, bg_count) rows → JLH order: kept when ``fg_count
    >= min_doc_count`` and fg_pct > bg_pct, score ``(fg_pct − bg_pct) ·
    (fg_pct / bg_pct)`` rounded ``SIG_ROUND`` dp, score desc / key asc,
    top ``size``.  ``m_docs``/``n_docs`` are the foreground and
    background doc counts (Columns)."""
    fg_pct = F.col("fg_count") / m_docs
    bg_pct = F.col("bg_count") / n_docs
    return (
        counts.filter((F.col("fg_count") >= min_doc_count) & (fg_pct > bg_pct))
        .select(
            key,
            "fg_count",
            "bg_count",
            F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), SIG_ROUND).alias(
                "score"
            ),
        )
        .orderBy(F.desc("score"), F.asc(key))
        .limit(size)
    )


def _fg_bg(base: DataFrame, key: Column, name: str, terms: list[str],
           min_doc_count: int, size: int) -> DataFrame:
    """JLH over ``base``, one row per background doc with its tokens in
    ``ts``.  ``key`` (one or more values per doc, named ``name``) groups
    both sides in one pass; the foreground is the docs whose tokens
    overlap ``terms``.  The doc counts are a second aggregate over the
    same rows, broadcast as one row."""
    hit = F.arrays_overlap(F.col("ts"), F.array(*[F.lit(t) for t in terms]))
    flagged = base.select("*", hit.alias("hit"))
    # a key that no matched doc holds is not in the foreground
    counts = (
        flagged.select(key.alias(name), "hit")
        .groupBy(name)
        .agg(F.count(F.lit(1)).alias("bg_count"), F.count_if("hit").alias("fg_count"))
        .filter(F.col("fg_count") > 0)
    )
    n = flagged.agg(
        F.count(F.lit(1)).alias("n_docs"), F.count_if("hit").alias("m_docs")
    )
    return _jlh_top(
        counts.crossJoin(F.broadcast(n)), name, F.col("m_docs"), F.col("n_docs"),
        min_doc_count, size,
    )


def significant_text(
    docs: DataFrame,
    query_text: str,
    size: int = 10,
    *,
    min_doc_count: int = 3,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """→ (term, fg_count, bg_count, score), JLH order."""
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    spark = docs.sparkSession
    empty = spark.createDataFrame(
        [], "term string, fg_count long, bg_count long, score double"
    )
    if not terms:
        return empty
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.array_distinct(tokens_col(text_col, analyzer)).alias("ts")
    )
    return _fg_bg(base, F.explode("ts"), "term", terms, min_doc_count, size)


def significant_text_sql(
    query_text: str,
    size: int = 10,
    *,
    min_doc_count: int = 3,
    table: str = "documents",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`significant_text` (same counts, JLH, round)."""
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    toks = duckdb_tokens_expr(text_col, analyzer)
    lits = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
WITH base AS (
  SELECT list_distinct({toks}) AS ts FROM {table}
  WHERE {text_col} IS NOT NULL
),
m AS (SELECT ts FROM base WHERE len(list_intersect(ts, [{lits}])) > 0),
bg AS (SELECT u.t AS term, count(*) AS bg_count FROM base, unnest(ts) AS u(t) GROUP BY 1),
fg AS (SELECT u.t AS term, count(*) AS fg_count FROM m, unnest(ts) AS u(t) GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM base),
mn AS (SELECT count(*) AS m_docs FROM m)
SELECT term, fg_count, bg_count,
       round((fg_count / CAST(m_docs AS DOUBLE) - bg_count / CAST(n_docs AS DOUBLE))
             * (fg_count / CAST(m_docs AS DOUBLE)) / (bg_count / CAST(n_docs AS DOUBLE)),
             {SIG_ROUND}) AS score
FROM fg JOIN bg USING (term), n, mn
WHERE fg_count >= {min_doc_count}
  AND fg_count / CAST(m_docs AS DOUBLE) > bg_count / CAST(n_docs AS DOUBLE)
ORDER BY score DESC, term ASC LIMIT {size}
""".strip()


def significant_text_indexed(
    index,
    query_text: str,
    size: int = 10,
    *,
    min_doc_count: int = 3,
) -> DataFrame:
    """Index-sidecar plan — result-identical to :func:`significant_text`.

    foreground df: ``tfrows/`` (one row per (doc, term) by construction)
    semi-joined to the pruned-postings match set; background df: the
    ``stats/`` sidecar; term strings: the ``lexicon/`` sidecar
    (:func:`sparksearch.index.lexicon.build_lexicon` first).  The corpus
    text is never read.  Base generation only: raises on an index with
    pending delta generations — ``compact_index`` folds them in.
    """
    from sparksearch.query.matchset import match_ids_df

    spark = index.spark
    meta = index.meta
    if meta.get("delta_gens"):
        raise ValueError(
            "significant_text_indexed reads base-generation tfrows; "
            "run compact_index() to fold pending delta generations in"
        )
    empty = spark.createDataFrame(
        [], "term string, fg_count long, bg_count long, score double"
    )
    if not sorted(set(index._tokenize(query_text))):
        return empty
    ids = match_ids_df(index, query_text, mode="any")
    tfr = spark.read.parquet(os.path.join(index.index_dir, "tfrows")).filter(
        F.col("tf") > 0  # defensively exclude build-transient marker rows
    ).select("doc_id", "term_id")
    fg = (
        tfr.join(ids, "doc_id", "leftsemi")
        .groupBy("term_id")
        .agg(F.count(F.lit(1)).alias("fg_count"))
    )
    bg = spark.read.parquet(os.path.join(index.index_dir, "stats")).select(
        "term_id", F.col("df").alias("bg_count")
    )
    from sparksearch.index.lexicon import read_lexicon

    lex = read_lexicon(spark, index.index_dir).select("term", "term_id")
    mn = ids.agg(F.count(F.lit(1)).alias("m_docs"))
    # lex join deliberately NOT broadcast-hinted: the lexicon is
    # vocab-sized (can be 10^8 terms at 100 TB) — AQE broadcasts it
    # when it is actually small
    counts = fg.join(bg, "term_id").join(lex, "term_id").crossJoin(F.broadcast(mn))
    return _jlh_top(
        counts, "term", F.col("m_docs"), F.lit(int(meta["n_docs"])),
        min_doc_count, size,
    )


# ---------------------------------------------------------------------------
# significant_terms (keyword field) — the field-valued sibling of
# significant_text: over-represented FIELD VALUES of the match set vs
# the whole corpus, same JLH score / min_doc_count / positive-lift
# rules.  One groupBy on the field value counts both sides (tokens
# only decide the match flag); null field values form no bucket
# (OpenSearch emits none).
# ---------------------------------------------------------------------------

def significant_terms_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    size: int = 10,
    *,
    min_doc_count: int = 3,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """→ (key, fg_count, bg_count, score), JLH order, key = field value."""
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    spark = docs.sparkSession
    empty = spark.createDataFrame(
        [], "key string, fg_count long, bg_count long, score double"
    )
    if not terms:
        return empty
    base = docs.filter(F.col(text_col).isNotNull() & F.col(field).isNotNull()).select(
        F.col(field).cast("string").alias("key"),
        tokens_col(text_col, analyzer).alias("ts"),
    )
    return _fg_bg(base, F.col("key"), "key", terms, min_doc_count, size)


def significant_terms_agg_sql(
    query_text: str,
    field: str,
    size: int = 10,
    *,
    min_doc_count: int = 3,
    table: str = "documents",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`significant_terms_agg`."""
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    toks = duckdb_tokens_expr(text_col, analyzer)
    lits = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
WITH base AS (
  SELECT CAST({field} AS VARCHAR) AS key, {toks} AS ts FROM {table}
  WHERE {text_col} IS NOT NULL AND {field} IS NOT NULL
),
m AS (SELECT key FROM base WHERE len(list_intersect(ts, [{lits}])) > 0),
bg AS (SELECT key, count(*) AS bg_count FROM base GROUP BY key),
fg AS (SELECT key, count(*) AS fg_count FROM m GROUP BY key),
n AS (SELECT count(*) AS n_docs FROM base),
mn AS (SELECT count(*) AS m_docs FROM m)
SELECT key, fg_count, bg_count,
       round((fg_count / CAST(m_docs AS DOUBLE) - bg_count / CAST(n_docs AS DOUBLE))
             * (fg_count / CAST(m_docs AS DOUBLE)) / (bg_count / CAST(n_docs AS DOUBLE)),
             {SIG_ROUND}) AS score
FROM fg JOIN bg USING (key), n, mn
WHERE fg_count >= {min_doc_count}
  AND fg_count / CAST(m_docs AS DOUBLE) > bg_count / CAST(n_docs AS DOUBLE)
ORDER BY score DESC, key ASC LIMIT {size}
""".strip()

"""``more_like_this``: find documents similar to a given document.

OpenSearch/Lucene MLT builds a term query from the "interesting" terms
of the input document and runs it like any other match query.
Semantics pinned here (deviations documented):

* candidate terms: terms of the input doc with ``tf >= min_term_freq``
  (default 2) and corpus ``df >= min_doc_freq`` (default 5) — the
  Lucene defaults;
* term interestingness = ``round(tf · idf, 6)`` with the engine's BM25
  idf ``ln(1 + (N − df + 0.5)/(df + 0.5))`` (documented deviation:
  Lucene MLT uses classic ``log(N/df + 1)`` — same ordering for any
  fixed N, monotone decreasing in df, but pinned to ONE formula across
  engines; the 6 dp round makes the ordering immune to 1-ulp ``ln``
  differences between libm, the JVM, and DuckDB);
* query = top ``max_query_terms`` (default 25) by (interestingness
  desc, term asc), run as the standard OR-semantics BM25 match;
* the input document is excluded from results but NOT from the corpus
  statistics (it stays in the index — OpenSearch ``include: false``);
* output (doc_id, score): selection = the BM25 top-k over the
  expansion, display order (rounded score desc, doc_id asc).

Scale shape: term selection touches ONE document's tokens plus a
vocab-sized df lookup; the engine path
(:func:`more_like_this_indexed`) reads the doc's tfrows slice + the
stats sidecar + the lexicon and feeds the expansion to the packed
MaxScore kernel — corpus text is never read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str
from sparksearch.query.bm25 import (
    SCORE_ROUND,
    bm25_idf,
    bm25_topk_df,
    bm25_topk_sql,
)
from sparksearch.query.wand import lucene_idf

MAX_QUERY_TERMS = 25
MIN_TERM_FREQ = 2
MIN_DOC_FREQ = 5


def _select_terms_exhaustive(
    docs: DataFrame,
    like_id: int,
    max_query_terms: int,
    min_term_freq: int,
    min_doc_freq: int,
    id_col: str,
    text_col: str,
    analyzer: str,
) -> list[str]:
    """Driver-side MLT term selection (one doc + vocab-sized df frame)."""
    from sparksearch.analyze import tokens_col

    base = docs.filter(F.col(text_col).isNotNull())
    n_docs = base.count()
    row = base.filter(F.col(id_col) == like_id).select(
        tokens_col(text_col, analyzer).alias("toks")
    ).collect()
    if not row:
        return []
    tf: dict[str, int] = {}
    for t in row[0]["toks"]:
        tf[t] = tf.get(t, 0) + 1
    cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
    if not cand:
        return []
    dfs = {
        r["term"]: r["df"]
        for r in base.select(
            F.explode(F.array_distinct(tokens_col(text_col, analyzer))).alias(
                "term"
            )
        )
        .filter(F.col("term").isin(cand))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    scored = []
    for t in cand:
        df_ = dfs.get(t, 0)
        if df_ >= min_doc_freq:
            idf = float(lucene_idf(n_docs, df_))
            scored.append((-round(tf[t] * idf, 6), t))
    scored.sort()
    return [t for _, t in scored[:max_query_terms]]


def more_like_this(
    docs: DataFrame,
    like_id: int,
    k: int = 10,
    *,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = MIN_TERM_FREQ,
    min_doc_freq: int = MIN_DOC_FREQ,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive MLT → (doc_id, score), input doc excluded."""
    terms = _select_terms_exhaustive(
        docs, like_id, max_query_terms, min_term_freq, min_doc_freq,
        id_col, text_col, analyzer,
    )
    empty = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.lit(0.0).alias("score")
    ).filter(F.lit(False))
    if not terms:
        return empty
    hits = bm25_topk_df(
        docs, " ".join(terms), k + 1, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    )
    return (
        hits.filter(F.col("doc_id") != like_id)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def more_like_this_sql(
    like_id: int,
    k: int = 10,
    *,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = MIN_TERM_FREQ,
    min_doc_freq: int = MIN_DOC_FREQ,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin: term selection AND the query derived inside SQL."""
    toks = duckdb_tokens_expr(text_col, analyzer)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS tl FROM {table}
  WHERE {text_col} IS NOT NULL
),
g AS (SELECT count(*) AS n_docs, avg(len(tl)) AS avgdl FROM base),
liketf AS (
  SELECT u.t AS term, count(*) AS tf FROM base, unnest(tl) AS u(t)
  WHERE doc_id = {like_id} GROUP BY 1 HAVING count(*) >= {min_term_freq}
),
dfs AS (
  SELECT u.t AS term, count(DISTINCT doc_id) AS df
  FROM base, unnest(tl) AS u(t)
  WHERE u.t IN (SELECT term FROM liketf) GROUP BY 1
),
exp AS (
  SELECT term FROM liketf JOIN dfs USING (term), g
  WHERE df >= {min_doc_freq}
  ORDER BY round(tf * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6) DESC,
           term ASC
  LIMIT {max_query_terms}
),
qtf AS (
  SELECT doc_id, len(tl) AS dl, u.t AS term, count(*) AS tf
  FROM base, unnest(tl) AS u(t)
  WHERE u.t IN (SELECT term FROM exp) GROUP BY 1, 2, 3
),
qdf AS (SELECT term, count(*) AS df FROM qtf GROUP BY term),
hits AS (
  SELECT doc_id,
         sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))) AS raw
  FROM qtf JOIN qdf USING (term), g
  GROUP BY doc_id
  ORDER BY raw DESC, doc_id ASC LIMIT {k + 1}
)
SELECT doc_id, round(raw, {SCORE_ROUND}) AS score FROM hits
WHERE doc_id <> {like_id}
ORDER BY round(raw, {SCORE_ROUND}) DESC, doc_id ASC LIMIT {k}
""".strip()


def more_like_this_indexed(
    index,
    like_id: int,
    k: int = 10,
    *,
    max_query_terms: int = MAX_QUERY_TERMS,
    min_term_freq: int = MIN_TERM_FREQ,
    min_doc_freq: int = MIN_DOC_FREQ,
) -> DataFrame:
    """Engine path: selection from tfrows + stats + lexicon sidecars,
    expansion run through the packed MaxScore kernel.  Result-identical
    to :func:`more_like_this` (pytest-pinned).  Base generation only
    (same contract as ``significant_text_indexed``)."""
    spark = index.spark
    meta = index.meta
    if meta.get("delta_gens"):
        raise ValueError(
            "more_like_this_indexed reads base-generation tfrows; "
            "run compact_index() first"
        )
    empty = spark.createDataFrame([], "doc_id long, score double")
    tfr = (
        spark.read.parquet(os.path.join(index.index_dir, "tfrows"))
        .filter((F.col("doc_id") == like_id) & (F.col("tf") >= min_term_freq))
        .select("term_id", "tf")
    )
    stats = spark.read.parquet(os.path.join(index.index_dir, "stats")).select(
        "term_id", "df"
    )
    from sparksearch.index.lexicon import read_lexicon

    lex = read_lexicon(spark, index.index_dir).select("term", "term_id")
    n_docs = int(meta["n_docs"])
    idf = bm25_idf("df", n_docs)
    rows = (
        tfr.join(stats, "term_id")
        .filter(F.col("df") >= min_doc_freq)
        .join(lex, "term_id")
        .select("term", F.round(F.col("tf") * idf, 6).alias("interest"))
        .orderBy(F.desc("interest"), F.asc("term"))
        .limit(max_query_terms)
        .collect()
    )
    terms = [r["term"] for r in rows]
    if not terms:
        return empty
    hits = index.search(" ".join(terms), k + 1)
    return (
        hits.filter(F.col("doc_id") != like_id)
        .select("doc_id", F.round("score", SCORE_ROUND).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )

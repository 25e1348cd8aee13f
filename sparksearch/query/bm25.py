"""Exhaustive BM25 scoring as pure DataFrame ops (no packed index).

This is the Phase-1 reference path of SURVEY §7: tokenize → tf → df →
score → top-k entirely in Catalyst-planned, whole-stage-codegen'd
expressions.  It exists for three reasons:

1. correctness cross-check for the packed-index engine (must be
   rank-identical on every query);
2. the DuckDB oracle twin — :func:`bm25_topk_sql` renders the SAME
   computation as ANSI SQL for the driver's side-by-side harness;
3. ad-hoc scoring of a corpus without building an index first.

Scores are rounded to 4 decimals on output so float64 summation-order
differences between engines can't flip a value-hash comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str, tokens_col

SCORE_ROUND = 4


def bm25_scores_df(
    docs: DataFrame,
    query_text: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """The FULL scored match set → (doc_id, raw).

    The shared front of every exhaustive scoring operator: top-k pages
    (:func:`bm25_topk_df`), field collapsing, and function_score all
    order/limit this frame differently but score it identically."""
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col, analyzer).alias("toks")
    )
    with_dl = base.select("doc_id", F.size("toks").alias("dl"), "toks")
    flat = with_dl.select("doc_id", "dl", F.explode("toks").alias("term"))
    tf = (
        flat.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    glob = with_dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tfn = F.col("tf") / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(glob))
        .select("doc_id", (idf * tfn).alias("part"))
        .groupBy("doc_id")
        .agg(F.sum("part").alias("raw"))
    )


def bm25_topk_df(
    docs: DataFrame,
    query_text: str,
    k: int = 5,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_scores: bool = True,
    analyzer: str = "ascii",
) -> DataFrame:
    """Top-k BM25 over ``docs`` — columns out: doc_id, score.

    ``round_scores=False`` emits raw float64 scores (needed when the
    caller merges scores further, e.g. a dis-max over fields — rounding
    before a max can flip near-ties)."""
    scored = bm25_scores_df(
        docs, query_text, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    )
    out_score = (
        F.round(F.col("raw"), SCORE_ROUND) if round_scores else F.col("raw")
    )
    return (
        scored.orderBy(F.desc("raw"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", out_score.alias("score"))
    )


def bm25_topk_sql(
    query_text: str,
    k: int = 5,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    where: str = "TRUE",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`bm25_topk_df` (same analyzer/formula/rounding)."""
    return f"""
WITH {bm25_scores_cte(query_text, table=table, id_col=id_col,
                      text_col=text_col, where=where, k1=k1, b=b,
                      analyzer=analyzer)}
SELECT doc_id, round(raw, {SCORE_ROUND}) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT {k}
""".strip()


def bm25_scores_cte(
    query_text: str,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    where: str = "TRUE",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """The WITH-body twin of :func:`bm25_scores_df` — ends in a CTE
    named ``scored`` (doc_id, raw) for callers to page/collapse/boost."""
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    term_list = ", ".join(f"'{t}'" for t in terms)
    toks = duckdb_tokens_expr(text_col, analyzer)
    return f"""base AS (
  SELECT {id_col} AS doc_id, {toks} AS toks
  FROM {table} WHERE {text_col} IS NOT NULL AND ({where})
),
with_dl AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
flat AS (SELECT doc_id, dl, unnest(toks) AS term FROM with_dl),
tf AS (
  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
  FROM flat WHERE term IN ({term_list}) GROUP BY doc_id, dl, term
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
gstats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM with_dl),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (gstats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / gstats.avgdl)) ) AS raw
  FROM tf JOIN dfs USING (term) CROSS JOIN gstats
  GROUP BY tf.doc_id
)"""


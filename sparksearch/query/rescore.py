"""``rescore``: two-phase ranking — a cheap query ranks, a precise one re-ranks.

OpenSearch's query rescorer re-scores only the top ``window_size`` hits
of the primary query with a more expensive secondary query (classically
a ``match_phrase`` of the same text, to reward exact-phrase hits) and
combines::

    final = query_weight · primary + rescore_query_weight · secondary

Semantics pinned here (``score_mode: total``, the default):

* primary  = the standard OR-semantics BM25 match; window membership
  is decided on RAW scores + doc_id (the same order `bm25_topk_df`
  and the packed MaxScore kernel page by — raw doubles are identical
  across engines, so membership is still cross-engine deterministic,
  and the packed engine path can reproduce it exactly); the primary
  CONTRIBUTION to the final score is the rounded 4 dp value;
* window   = top ``window_size`` primary hits; docs OUTSIDE the window
  keep their primary score untouched (OpenSearch behavior) but can
  never displace window docs in this engine's output because the page
  k ≤ window_size is enforced (Lucene's rescorer has the same
  practical contract — a rescore window smaller than the page is a
  user error);
* secondary(d) = the match_phrase BM25 of the analyzed query as ONE
  exact phrase (``query/phrase.py`` position semantics), with phrase
  df computed over the WINDOW, not the corpus — a documented deviation
  from a standalone phrase query: corpus-wide phrase df would require
  position-verifying every document, defeating the entire point of a
  rescore window.  N/avgdl stay corpus-wide (they come from the cheap
  global aggregate, not from verification).  Self-consistent across
  engines;
* final    = round(qw · primary + rw · secondary, 4); order (final
  desc, doc_id asc); top ``k``.

Scale shape: the primary is the normal scoring plan; the secondary's
position filter runs ONLY on the window docs (broadcast join of the
window ids onto the corpus — window-size-bounded, like highlighting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str, tokens_col
from sparksearch.query.bm25 import (
    SCORE_ROUND,
    bm25_scores_cte,
    bm25_scores_df,
    bm25_weight,
)
from sparksearch.query.phrase import _phrase_tf_sql, phrase_tf_col


def rescore_topk(
    docs: DataFrame,
    query_text: str,
    k: int = 10,
    *,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Phrase-rescored top-k → (doc_id, score)."""
    if k > window_size:
        raise ValueError(f"k={k} must not exceed window_size={window_size}")
    terms = tokenize_str(query_text, analyzer)
    empty = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.lit(0.0).alias("score")
    ).filter(F.lit(False))
    if not terms:
        return empty
    primary = bm25_scores_df(
        docs, query_text, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    )
    window = (
        primary.orderBy(F.desc("raw"), F.asc("doc_id"))
        .limit(window_size)
        .select("doc_id", F.round("raw", SCORE_ROUND).alias("p"))
    )
    # corpus globals for the secondary's BM25 normalization
    base = docs.filter(F.col(text_col).isNotNull())
    glob = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(tokens_col(text_col, analyzer))).alias("avgdl"),
    )
    wdocs = (
        F.broadcast(window)
        .join(
            docs.select(
                F.col(id_col).cast("long").alias("doc_id"),
                tokens_col(text_col, analyzer).alias("toks"),
            ),
            "doc_id",
        )
        .select(
            "doc_id", "p",
            F.size("toks").alias("dl"),
            phrase_tf_col(F.col("toks"), terms).alias("tf"),
        )
        .persist()  # window-sized; the df aggregate + scoring read it
    )
    pdf = wdocs.filter(F.col("tf") > 0).agg(F.count(F.lit(1)).alias("df"))
    w = bm25_weight("tf", "dl", "df", "n_docs", "avgdl", k1, b)
    sec = F.when(F.col("tf") > 0, w).otherwise(F.lit(0.0))
    return (
        wdocs.crossJoin(F.broadcast(pdf))
        .crossJoin(F.broadcast(glob))
        .select(
            "doc_id",
            F.round(
                query_weight * F.col("p") + rescore_weight * sec, SCORE_ROUND
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def rescore_search(
    index,
    docs: DataFrame,
    query_text: str,
    k: int = 10,
    *,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Engine path: packed-kernel primary window + phrase verification.

    The primary phase is ``index.search`` (pruned MaxScore kernel, raw
    scores — the same raw order the exhaustive window selects by, so
    window membership is identical); the secondary phase tokenizes
    ONLY the window docs.  BM25 globals come from the index meta.
    Result-identical to :func:`rescore_topk` (pytest-pinned).
    """
    if k > window_size:
        raise ValueError(f"k={k} must not exceed window_size={window_size}")
    meta = index.meta
    analyzer = meta.get("analyzer", "ascii")
    terms = tokenize_str(query_text, analyzer)
    empty = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.lit(0.0).alias("score")
    ).filter(F.lit(False))
    if not terms:
        return empty
    k1, b = meta["k1"], meta["b"]
    n_docs, avgdl = int(meta["n_docs"]), float(meta["avgdl"])
    window = index.search(query_text, window_size).select(
        "doc_id", F.round("score", SCORE_ROUND).alias("p")
    )
    wdocs = (
        F.broadcast(window)
        .join(
            docs.select(
                F.col(id_col).cast("long").alias("doc_id"),
                tokens_col(text_col, analyzer).alias("toks"),
            ),
            "doc_id",
        )
        .select(
            "doc_id", "p",
            F.size("toks").alias("dl"),
            phrase_tf_col(F.col("toks"), terms).alias("tf"),
        )
        .persist()
    )
    pdf = wdocs.filter(F.col("tf") > 0).agg(F.count(F.lit(1)).alias("df"))
    w = bm25_weight("tf", "dl", "df", n_docs, avgdl, k1, b)
    sec = F.when(F.col("tf") > 0, w).otherwise(F.lit(0.0))
    return (
        wdocs.crossJoin(F.broadcast(pdf))
        .select(
            "doc_id",
            F.round(
                query_weight * F.col("p") + rescore_weight * sec, SCORE_ROUND
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def rescore_topk_sql(
    query_text: str,
    k: int = 10,
    *,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`rescore_topk` (same window, df, weights)."""
    terms = tokenize_str(query_text, analyzer)
    toks = duckdb_tokens_expr(text_col, analyzer)
    cte = bm25_scores_cte(
        query_text, table=table, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    )
    return f"""
WITH {cte},
win AS (
  SELECT doc_id, round(raw, {SCORE_ROUND}) AS p FROM scored
  ORDER BY raw DESC, doc_id ASC LIMIT {window_size}
),
g AS (
  SELECT count(*) AS n_docs, avg(len({toks})) AS avgdl
  FROM {table} WHERE {text_col} IS NOT NULL
),
wd AS (
  SELECT w.doc_id, w.p, len({toks}) AS dl, {_phrase_tf_sql(toks, terms)} AS tf
  FROM win w JOIN {table} t ON w.doc_id = t.{id_col}
),
pdf AS (SELECT count(*) AS df FROM wd WHERE tf > 0)
SELECT doc_id,
       round({query_weight} * p + {rescore_weight} *
             (CASE WHEN tf > 0 THEN
                ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))
              ELSE 0.0 END),
             {SCORE_ROUND}) AS score
FROM wd, pdf, g
ORDER BY score DESC, doc_id ASC LIMIT {k}
""".strip()

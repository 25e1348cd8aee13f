"""The engine's one BM25 scoring module.

Every Spark operator scores through the pieces below, so the formula
(Lucene 9 / OpenSearch 2.x ``BM25Similarity``, no ``(k1+1)`` factor)

    idf = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn = tf / (tf + k1 · (1 - b + b · dl / avgdl))

is written once here (and once in numpy, ``query/wand.py``):

* :func:`bm25_weight` — the term weight ``idf · tfn`` as a Column, from
  Columns, column names or numbers (:func:`bm25_idf`, :func:`bm25_tfn`
  are its factors);
* :func:`term_front` — the exhaustive term front: tokenize → (doc_id,
  dl, term, tf) rows of the query terms → per-term df → corpus
  n_docs/avgdl; :func:`term_parts` scores its rows;
* the pseudo-term scorers for phrase/span-like queries, one
  (doc_id, dl, tf) row per doc and df = rows with tf > 0:
  :func:`pseudo_term_topk` derives n_docs/avgdl from the rows,
  :func:`indexed_pseudo_term_scores` takes them from index ``meta``;
* :func:`topk_cut` — order (raw desc, doc_id asc), limit k, round.

:func:`bm25_scores_df`/:func:`bm25_topk_df` are the exhaustive match
query itself: the correctness reference for the packed engine and
ad-hoc scoring without an index.  The DuckDB twins
(:func:`bm25_topk_sql`, :func:`bm25_scores_cte` and the ``*_sql``
functions elsewhere) write the formula out in SQL on purpose: an
expression shared by an engine and its oracle would hide its bugs.

Scores are rounded to 4 decimals on output so float64 summation-order
differences between engines can't flip a value-hash comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str, tokens_col

SCORE_ROUND = 4


def _col(x) -> Column:
    """Column as is, a string as a column name, anything else a literal."""
    if isinstance(x, Column):
        return x
    return F.col(x) if isinstance(x, str) else F.lit(x)


def bm25_idf(df, n_docs) -> Column:
    df, n_docs = _col(df), _col(n_docs)
    return F.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_tfn(tf, dl, avgdl, k1: float, b: float) -> Column:
    tf, dl, avgdl = _col(tf), _col(dl), _col(avgdl)
    return tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def bm25_weight(tf, dl, df, n_docs, avgdl, k1: float, b: float) -> Column:
    """One term's BM25 contribution ``idf · tfn``."""
    return bm25_idf(df, n_docs) * bm25_tfn(tf, dl, avgdl, k1, b)


def term_front(
    docs: DataFrame,
    terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The exhaustive term front → (tf, df, glob) frames.

    ``tf``: (doc_id, dl, term, tf) for the query ``terms``; ``df``:
    (term, df); ``glob``: one row (n_docs, avgdl) over every doc with
    text."""
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col, analyzer).alias("toks")
    )
    with_dl = base.select("doc_id", F.size("toks").alias("dl"), "toks")
    tf, df_ = term_tf(with_dl, terms)
    glob = with_dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    return tf, df_, glob


def term_tf(frame: DataFrame, terms: list[str]) -> tuple[DataFrame, DataFrame]:
    """(doc_id, dl, toks) rows → (doc_id, dl, term, tf) rows of ``terms``
    and their per-term df."""
    flat = frame.select("doc_id", "dl", F.explode("toks").alias("term"))
    tf = (
        flat.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf, tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def term_parts(
    tf: DataFrame, df_: DataFrame, glob: DataFrame, k1: float, b: float,
    *keep: str,
) -> DataFrame:
    """Score the front's rows → (doc_id, *keep, part)."""
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(glob))
        .select(
            "doc_id", *keep,
            bm25_weight("tf", "dl", "df", "n_docs", "avgdl", k1, b).alias("part"),
        )
    )


def pseudo_term_topk(stats: DataFrame, k: int, k1: float, b: float) -> DataFrame:
    """(doc_id, dl, tf) rows over ALL docs → BM25 top-k of the pseudo-term
    (df = rows with tf > 0, n_docs/avgdl over every row)."""
    # the globals and the df are one aggregate, a scalar subquery of the
    # same plan (no cache outlives the query), projected once as ``g``
    # so the weight's references share one subquery
    g = stats.agg(
        F.struct(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("dl").alias("avgdl"),
            F.count_if(F.col("tf") > 0).alias("df"),
        )
    ).scalar()
    w = bm25_weight("tf", "dl", "g.df", "g.n_docs", "g.avgdl", k1, b)
    # rows with tf = 0 score NULL, which sorts last, and are dropped after
    # the cut: a tf > 0 filter before it would be pushed into the
    # tokenize projection and re-tokenize at every anchor position
    raw = F.when(F.col("tf") > 0, w)
    scored = stats.select("doc_id", "dl", "tf", g.alias("g")).select(
        "doc_id", raw.alias("raw")
    )
    return topk_cut(scored, k).filter(F.col("score").isNotNull())


def indexed_pseudo_term_scores(tf_frame: DataFrame, meta: dict) -> DataFrame:
    """(doc_id, dl, tf) rows (tf = 0 allowed) → (doc_id, raw) with the
    INDEX's corpus stats (``meta`` n_docs/avgdl/k1/b — a sidecar never
    re-derives them)."""
    tf = tf_frame.filter(F.col("tf") > 0)
    # df is a scalar subquery of the same plan (no cache outlives the
    # query), projected once so the weight's two df references share it.
    # It counts ``dl`` (never null) rather than 1 so the subquery keeps
    # the columns the scoring reads, and AQE reuses the legs' exchanges
    # instead of running their shuffles twice.
    df_ = tf.agg(F.count("dl")).scalar()
    w = bm25_weight(
        "tf", "dl", "df", meta["n_docs"], meta["avgdl"], meta["k1"], meta["b"]
    )
    return tf.select("doc_id", "dl", "tf", df_.alias("df")).select(
        "doc_id", w.alias("raw")
    )


def topk_cut(scored: DataFrame, k: int, *, round_scores: bool = True) -> DataFrame:
    """(doc_id, raw) → top-k (doc_id, score) by (raw desc, doc_id asc)."""
    score = F.round("raw", SCORE_ROUND) if round_scores else F.col("raw")
    return (
        scored.orderBy(F.desc("raw"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", score.alias("score"))
    )


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

    Top-k pages (:func:`bm25_topk_df`), field collapsing and
    function_score all order/limit this frame differently but score it
    identically."""
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    front = term_front(
        docs, terms, id_col=id_col, text_col=text_col, analyzer=analyzer
    )
    return (
        term_parts(*front, k1, b)
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
    return topk_cut(scored, k, round_scores=round_scores)


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


"""``_rank_eval``: ranked-result quality metrics over rated queries.

OpenSearch's ranking-evaluation API (the reference could call it on the
same ``_search`` endpoint family, ``keyword_search/functions/
helper_functions.py:158-163``): given requests (query → text) and
relevance ratings (query, doc, graded rating), run each query and
score the ranking.  Metrics pinned here (the API's standard trio):

* ``precision``  — |relevant ∩ top-k| / k  (relevant = rating > 0);
* ``mrr``        — 1 / rank of the first relevant hit (0 if none);
* ``ndcg``       — DCG@k / IDCG@k with the exponential gain
  (2^rating − 1) / log2(rank + 1); IDCG from the query's OWN ratings
  sorted desc (unrated docs gain 0; ndcg 0 when the query has no
  rated docs).

Rankings come from exhaustive Lucene-BM25 (OR semantics) with the
engine-wide tie rule (score desc, doc_id asc), so the DuckDB twin is
rank-identical by construction.  4 dp rounding; one row per query,
query_id asc.

Scale shape: the per-query legs share nothing but are each a standard
two-exchange BM25 plan; the ratings join is a broadcast (ratings are
human-labeled — thousands of rows, never corpus-sized); per-query
metric aggregation is one map-side-combined groupBy on ≤ |requests|·k
rows.  Engine-side, swap the exhaustive legs for ``search_many`` (one
batched postings scan) — same downstream algebra.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparksearch.query.aggs import _count_where
from sparksearch.query.bm25 import SCORE_ROUND, bm25_scores_df, bm25_scores_cte


def rank_eval(
    docs: DataFrame,
    requests: dict[str, str],
    ratings: DataFrame,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """→ (query_id, precision, mrr, ndcg), query_id asc.

    ``ratings``: DataFrame(query_id string, doc_id long, rating int ≥ 0).
    """
    if not requests:
        raise ValueError("rank_eval needs at least one request")
    legs = []
    for qid in sorted(requests):
        scored = bm25_scores_df(
            docs, requests[qid], id_col=id_col, text_col=text_col,
            k1=k1, b=b, analyzer=analyzer,
        )
        legs.append(
            scored.orderBy(F.desc("raw"), F.asc("doc_id"))
            .limit(k)
            .select(F.lit(qid).alias("query_id"), "doc_id", "raw")
        )
    hits = reduce(lambda a, b_: a.unionByName(b_), legs)
    w = Window.partitionBy("query_id").orderBy(F.desc("raw"), F.asc("doc_id"))
    ranked = hits.select(
        "query_id", "doc_id", F.row_number().over(w).alias("rank")
    )
    r = ratings.select(
        F.col("query_id").cast("string").alias("query_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("rating").cast("int").alias("rating"),
    )
    joined = ranked.join(
        F.broadcast(r), ["query_id", "doc_id"], "left"
    ).withColumn("rating", F.coalesce("rating", F.lit(0)))
    gain = (F.pow(F.lit(2.0), F.col("rating")) - 1.0) / F.log2(
        F.col("rank") + 1.0
    )
    per_q = joined.groupBy("query_id").agg(
        (_count_where(F.col("rating") > 0) / k).alias("p"),
        F.coalesce(
            F.max(F.when(F.col("rating") > 0, 1.0 / F.col("rank"))),
            F.lit(0.0),
        ).alias("mrr_raw"),
        F.sum(gain).alias("dcg"),
    )
    # ideal DCG from the query's own ratings (top-k by rating desc)
    wi = Window.partitionBy("query_id").orderBy(
        F.desc("rating"), F.asc("doc_id")
    )
    ideal = (
        r.filter(F.col("rating") > 0)
        .withColumn("rank", F.row_number().over(wi))
        .filter(F.col("rank") <= k)
        .groupBy("query_id")
        .agg(
            F.sum(
                (F.pow(F.lit(2.0), F.col("rating")) - 1.0)
                / F.log2(F.col("rank") + 1.0)
            ).alias("idcg")
        )
    )
    return (
        per_q.join(F.broadcast(ideal), "query_id", "left")
        .select(
            "query_id",
            F.round("p", SCORE_ROUND).alias("precision"),
            F.round("mrr_raw", SCORE_ROUND).alias("mrr"),
            F.round(
                F.when(
                    F.coalesce(F.col("idcg"), F.lit(0.0)) > 0,
                    F.col("dcg") / F.col("idcg"),
                ).otherwise(0.0),
                SCORE_ROUND,
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )


def rank_eval_sql(
    requests: dict[str, str],
    ratings_table: str,
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin.  ``ratings_table`` is a derived-table SQL string
    with columns (query_id, doc_id, rating)."""
    if not requests:
        raise ValueError("rank_eval needs at least one request")
    legs = []
    for i, qid in enumerate(sorted(requests)):
        cte = bm25_scores_cte(
            requests[qid], table=table, id_col=id_col, text_col=text_col,
            k1=k1, b=b, analyzer=analyzer,
        )
        # rename every CTE in the leg to keep them disjoint
        for name in ("base", "with_dl", "flat", "tf", "dfs", "gstats",
                     "scored"):
            cte = cte.replace(f"{name} AS", f"{name}_{i} AS").replace(
                f"FROM {name}", f"FROM {name}_{i}"
            ).replace(f"JOIN {name}", f"JOIN {name}_{i}").replace(
                f"{name}.", f"{name}_{i}."
            )
        legs.append(
            (
                cte,
                f"SELECT '{qid}' AS query_id, doc_id, raw "
                f"FROM scored_{i} ORDER BY raw DESC, doc_id ASC LIMIT {k}",
            )
        )
    ctes = ",\n".join(c for c, _ in legs)
    union = "\n  UNION ALL\n".join(f"({s})" for _, s in legs)
    return f"""
WITH {ctes},
hits AS (
{union}
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY raw DESC, doc_id ASC) AS rank
  FROM hits
),
rts AS (SELECT CAST(query_id AS VARCHAR) AS query_id,
               CAST(doc_id AS BIGINT) AS doc_id,
               CAST(rating AS INT) AS rating FROM {ratings_table}),
joined AS (
  SELECT ranked.query_id, ranked.rank,
         coalesce(rts.rating, 0) AS rating
  FROM ranked LEFT JOIN rts
    ON rts.query_id = ranked.query_id AND rts.doc_id = ranked.doc_id
),
per_q AS (
  SELECT query_id,
         sum(CASE WHEN rating > 0 THEN 1 ELSE 0 END)::DOUBLE / {k} AS p,
         coalesce(max(CASE WHEN rating > 0 THEN 1.0 / rank END), 0.0)
           AS mrr_raw,
         sum((pow(2.0, rating) - 1.0) / log2(rank + 1.0)) AS dcg
  FROM joined GROUP BY query_id
),
ideal AS (
  SELECT query_id,
         sum((pow(2.0, rating) - 1.0) / log2(irank + 1.0)) AS idcg
  FROM (
    SELECT query_id, rating,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rating DESC, doc_id ASC) AS irank
    FROM rts WHERE rating > 0
  ) WHERE irank <= {k} GROUP BY query_id
)
SELECT per_q.query_id,
       round(p, {SCORE_ROUND}) AS precision,
       round(mrr_raw, {SCORE_ROUND}) AS mrr,
       round(CASE WHEN coalesce(idcg, 0.0) > 0 THEN dcg / idcg
                  ELSE 0.0 END, {SCORE_ROUND}) AS ndcg
FROM per_q LEFT JOIN ideal USING (query_id)
ORDER BY query_id ASC
""".strip()

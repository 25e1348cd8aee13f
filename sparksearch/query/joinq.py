"""Join-field queries: ``has_child`` / ``has_parent`` / ``nested``.

OpenSearch's join field relates parent and child documents inside one
index; ``has_child`` returns parents whose children match an inner
query (aggregating child scores by ``score_mode``), ``has_parent``
returns children whose parent matches, and ``nested`` queries match
documents where a SINGLE nested object satisfies every inner condition.
Lucene implements all three with block joins — children/nested objects
are real index documents adjacent to their parent — so the Spark-first
re-expression is literal: children are rows of a child table (here the
document→chunk relation the reference's semantic pipeline materializes,
`semantic_search/functions/parsing.py:56-77`), scored by the SAME
pinned BM25 front as the match query (`matchq._match_frame`, child
corpus statistics), then aggregated to parents with one groupBy.

``nested`` with ``operator="and"`` IS ``has_child`` requiring every
query term on the same child row — the block-join identity: a doc
matches iff SOME nested block satisfies the whole conjunction, and its
score is the best block's score (``score_mode="max"``).

Scale shape: child scoring is the match query's own plan (map-local
tokenize → tf groupBy keyed by the child key, broadcast df/gstats);
the parent rollup adds ONE groupBy on parent_id; `has_parent`
broadcasts only the top-m parents as a literal frame (m starts at k,
grows only past childless parents — see its docstring), never the
full match set.  No operator here joins two corpus-sized sides on a
non-key, and no broadcast side scales with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str
from sparksearch.query.bm25 import (
    SCORE_ROUND,
    bm25_scores_cte,
    bm25_scores_df,
)
from sparksearch.query.matchq import _match_frame, _required

SCORE_MODES = {"max": F.max, "sum": F.sum, "avg": F.avg, "min": F.min}


def _child_key(parent_col: str, idx_col: str):
    return F.concat_ws(
        "#", F.col(parent_col).cast("string"), F.col(idx_col).cast("string")
    )


def has_child_topk(
    children: DataFrame,
    query_text: str,
    k: int = 10,
    *,
    score_mode: str = "max",
    operator: str = "or",
    parent_col: str = "doc_id",
    child_idx_col: str = "chunk_idx",
    text_col: str = "chunk_text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Top-k parents by aggregated child match scores →
    (doc_id, score, n_children).

    ``children`` rows are keyed by (parent_col, child_idx_col) — the
    pair must be unique (it is for any posexplode-derived child table).
    ``operator="and"`` requires every query term on the same child row
    (the ``nested`` conjunction); ``n_children`` counts matching
    children per parent (OpenSearch ``inner_hits`` total).
    """
    if score_mode not in SCORE_MODES:
        raise ValueError(f"score_mode {score_mode!r} not in {sorted(SCORE_MODES)}")
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    empty = children.sparkSession.createDataFrame(
        [], "doc_id long, score double, n_children long"
    )
    if not terms:
        return empty
    need = _required(terms, operator, None)
    if need > len(terms):
        return empty
    kids = children.withColumn("_ck", _child_key(parent_col, child_idx_col))
    scored = _match_frame(
        kids, terms, id_col="_ck", text_col=text_col, k1=k1, b=b,
        analyzer=analyzer,
    )  # (doc_id=_ck, raw, n_matched) — child-corpus statistics
    # the parent id is the child key's prefix, so the rollup derives it
    # instead of joining back to the child table (one less shuffle)
    parent_id = F.split(F.col("doc_id"), "#").getItem(0).cast("long")
    agg = SCORE_MODES[score_mode]
    per_parent = (
        scored.filter(F.col("n_matched") >= need)
        .withColumn("parent_id", parent_id)
        .groupBy("parent_id")
        .agg(
            agg("raw").alias("raw"),
            F.count(F.lit(1)).cast("long").alias("n_children"),
        )
    )
    return (
        per_parent.orderBy(F.desc("raw"), F.asc("parent_id"))
        .limit(k)
        .select(
            F.col("parent_id").alias("doc_id"),
            F.round("raw", SCORE_ROUND).alias("score"),
            "n_children",
        )
    )


def has_child_topk_sql(
    query_text: str,
    k: int = 10,
    *,
    score_mode: str = "max",
    operator: str = "or",
    children_table: str = "chunks",
    parent_col: str = "doc_id",
    child_idx_col: str = "chunk_idx",
    text_col: str = "chunk_text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`has_child_topk`."""
    if score_mode not in SCORE_MODES:
        raise ValueError(f"score_mode {score_mode!r} not in {sorted(SCORE_MODES)}")
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    if not terms:
        return (
            "SELECT CAST(NULL AS BIGINT) AS doc_id, 0.0 AS score, "
            "CAST(NULL AS BIGINT) AS n_children WHERE FALSE"
        )
    need = _required(terms, operator, None)
    term_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    toks = duckdb_tokens_expr(text_col, analyzer)
    sql_agg = score_mode  # max/sum/avg/min are the SQL aggregate names
    return f"""
WITH kids AS (
  SELECT CAST({parent_col} AS BIGINT) AS parent_id,
         CAST({parent_col} AS VARCHAR) || '#' ||
           CAST({child_idx_col} AS VARCHAR) AS ck,
         {toks} AS toks
  FROM {children_table} WHERE {text_col} IS NOT NULL
),
with_dl AS (SELECT parent_id, ck, len(toks) AS dl, toks FROM kids),
flat AS (SELECT parent_id, ck, dl, unnest(toks) AS term FROM with_dl),
tf AS (
  SELECT parent_id, ck, dl, term, count(*)::BIGINT AS tf
  FROM flat WHERE term IN ({term_list})
  GROUP BY parent_id, ck, dl, term
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
gstats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM with_dl),
scored AS (
  SELECT tf.parent_id, tf.ck,
         sum( ln(1.0 + (gstats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / gstats.avgdl)) ) AS raw,
         count(*) AS n_matched
  FROM tf JOIN dfs USING (term) CROSS JOIN gstats
  GROUP BY tf.parent_id, tf.ck
),
perp AS (
  SELECT parent_id, {sql_agg}(raw) AS raw,
         CAST(count(*) AS BIGINT) AS n_children
  FROM scored WHERE n_matched >= {need} GROUP BY parent_id
)
SELECT parent_id AS doc_id, round(raw, {SCORE_ROUND}) AS score, n_children
FROM perp ORDER BY raw DESC, doc_id ASC LIMIT {k}
""".strip()


def nested_topk(children: DataFrame, query_text: str, k: int = 10, **kw) -> DataFrame:
    """``nested`` query via the block-join identity: the whole
    conjunction must land on one nested row; doc score = best row."""
    kw.setdefault("score_mode", "max")
    return has_child_topk(children, query_text, k, operator="and", **kw)


def nested_topk_sql(query_text: str, k: int = 10, **kw) -> str:
    kw.setdefault("score_mode", "max")
    return has_child_topk_sql(query_text, k, operator="and", **kw)


def has_parent_topk(
    children: DataFrame,
    parents: DataFrame,
    parent_query: str,
    k: int = 10,
    *,
    parent_col: str = "doc_id",
    child_idx_col: str = "chunk_idx",
    parent_text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Top-k children whose parent matches ``parent_query`` →
    (doc_id, chunk_idx, score); score = the parent's BM25 (``score:
    true`` semantics), ties broken (parent, child idx) asc.

    Scale shape: the broadcast side is a LITERAL frame of the top-m
    parents (m starts at k), never the full BM25 match set — a
    head-term parent query's match set is corpus-sized and
    broadcasting it OOMs at 100× scale.  Children inherit exactly the
    parent's sort key (raw desc, pid asc) plus chunk_idx, so children
    of parents ranked > m sort strictly after every child of the
    top-m parents; hence if the top-m parents own ≥ k children the
    global top-k is inside the probe.  Childless parents are the one
    hazard (they occupy a rank but contribute no rows), so m grows
    4× until coverage — one extra map-side pass per retry, no
    shuffles ever.  The driver-side collect is ≤ m rows, same bounded
    class as the lexicon expansions.
    """
    spark = children.sparkSession
    out_schema = "doc_id long, chunk_idx int, score double"
    scored = bm25_scores_df(
        parents, parent_query, id_col=parent_col,
        text_col=parent_text_col, k1=k1, b=b, analyzer=analyzer,
    ).withColumnRenamed("doc_id", "_pid")
    m = max(k, 1)
    while True:
        top = (
            scored.orderBy(F.desc("raw"), F.asc("_pid"))
            .limit(m)
            .select("_pid", "raw")
            .collect()
        )
        if not top:
            return spark.createDataFrame([], out_schema)
        exhausted = len(top) < m
        pframe = spark.createDataFrame(
            [(int(r._pid), float(r.raw)) for r in top],
            "_pid long, raw double",
        )
        joined = children.join(
            F.broadcast(pframe),
            children[parent_col].cast("long") == F.col("_pid"),
        )
        # coverage probe: LocalLimit short-circuits, so this costs at
        # most one map-side pass that stops after k matches
        if exhausted or joined.limit(k).count() >= k:
            return (
                joined.select(
                    F.col("_pid").alias("doc_id"),
                    F.col(child_idx_col).cast("int").alias("chunk_idx"),
                    F.col("raw"),
                )
                .orderBy(F.desc("raw"), F.asc("doc_id"), F.asc("chunk_idx"))
                .limit(k)
                .select(
                    "doc_id", "chunk_idx",
                    F.round("raw", SCORE_ROUND).alias("score"),
                )
            )
        m *= 4


def has_parent_topk_sql(
    parent_query: str,
    k: int = 10,
    *,
    children_table: str = "chunks",
    parents_table: str = "documents",
    parent_col: str = "doc_id",
    child_idx_col: str = "chunk_idx",
    parent_text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`has_parent_topk`."""
    cte = bm25_scores_cte(
        parent_query, table=parents_table, id_col=parent_col,
        text_col=parent_text_col, k1=k1, b=b, analyzer=analyzer,
    )
    return f"""
WITH {cte}
SELECT CAST(c.{parent_col} AS BIGINT) AS doc_id,
       CAST(c.{child_idx_col} AS INT) AS chunk_idx,
       round(s.raw, {SCORE_ROUND}) AS score
FROM {children_table} c JOIN scored s ON CAST(c.{parent_col} AS BIGINT) = s.doc_id
ORDER BY s.raw DESC, doc_id ASC, chunk_idx ASC
LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# parent_id: all children of ONE parent
# ---------------------------------------------------------------------------
#
# OpenSearch ``parent_id`` (the join-field point lookup): fetch every
# child of a given parent id at constant score 1.0 (Lucene rewrites it
# to a TermQuery on the join field's parent value, constant-scored).
# Ordering pinned (chunk_idx asc) since all scores tie.  The parent id
# is a LITERAL, so Catalyst pushes the equality into the child scan
# (PushedFilters) — a partition-pruned point read at any scale, no
# shuffle, no join.


def parent_id_topk(
    children: DataFrame,
    parent_id: int,
    k: int = 10,
    *,
    parent_col: str = "doc_id",
    child_idx_col: str = "chunk_idx",
) -> DataFrame:
    """→ (doc_id, chunk_idx, score=1.0), chunk_idx asc, ≤k rows."""
    return (
        children.filter(F.col(parent_col) == int(parent_id))
        .select(
            F.col(parent_col).cast("long").alias("doc_id"),
            F.col(child_idx_col).cast("int").alias("chunk_idx"),
            F.lit(1.0).alias("score"),
        )
        .orderBy("chunk_idx")
        .limit(k)
    )


def parent_id_topk_sql(
    parent_id: int,
    k: int = 10,
    *,
    children_table: str = "chunks",
    parent_col: str = "doc_id",
    child_idx_col: str = "chunk_idx",
) -> str:
    """DuckDB twin of :func:`parent_id_topk`."""
    return f"""
SELECT CAST({parent_col} AS BIGINT) AS doc_id,
       CAST({child_idx_col} AS INT) AS chunk_idx,
       1.0 AS score
FROM {children_table} WHERE {parent_col} = {int(parent_id)}
ORDER BY chunk_idx ASC LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# children / reverse_nested aggregations
# ---------------------------------------------------------------------------
#
# The aggs-side of the join field: OpenSearch's ``children`` agg steps
# from matching PARENTS into their child documents (sub-aggs then run
# per child), and ``reverse_nested`` steps from matching children back
# up to parents.  Both are one broadcast-free join against the chunk
# relation keyed on the parent id — the same key the chunk table is
# produced with, so at scale the join co-partitions with a bucketed
# child store and neither side replays the corpus text.


def children_agg(
    children: DataFrame,
    parents: DataFrame,
    parent_query: str,
    *,
    parent_col: str = "doc_id",
    metric_col: str = "n_chunk_tokens",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Parents matching ``parent_query`` (match, OR) → ONE row over
    their children: (doc_count, avg_metric) — the ``children`` agg
    with a stats sub-agg, 4 dp like every metric agg."""
    from sparksearch.query.aggs import AVG_ROUND, match_set

    m = match_set(parents, parent_query, text_col=text_col,
                  analyzer=analyzer).select(
        F.col("doc_id").alias(parent_col)
    )
    kids = children.join(m, parent_col, "leftsemi")
    return kids.agg(
        F.count(F.lit(1)).cast("long").alias("doc_count"),
        F.round(F.avg(metric_col), AVG_ROUND).alias("avg_metric"),
    )


def children_agg_sql(
    parent_query: str,
    *,
    children_table: str = "chunks",
    parents_table: str = "documents",
    parent_col: str = "doc_id",
    metric_col: str = "n_chunk_tokens",
    analyzer: str = "ascii",
) -> str:
    from sparksearch.query.aggs import AVG_ROUND, _match_where_sql

    where = _match_where_sql(parent_query, analyzer)
    return f"""
WITH m AS (SELECT doc_id FROM {parents_table} WHERE {where})
SELECT count(*)::BIGINT AS doc_count,
       round(avg(c.{metric_col}), {AVG_ROUND}) AS avg_metric
FROM {children_table} c JOIN m ON CAST(c.{parent_col} AS BIGINT) = m.doc_id
""".strip()


def reverse_nested_agg(
    children: DataFrame,
    parents: DataFrame,
    child_query: str,
    group_field: str,
    size: int = 10,
    *,
    parent_col: str = "doc_id",
    child_text_col: str = "chunk_text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Children matching ``child_query`` → back up to DISTINCT parents
    → terms buckets over the parents' ``group_field`` → (key,
    doc_count), doc_count desc / key asc, top ``size`` (the
    reverse_nested agg under a nested query context; each parent
    counts once no matter how many of its children matched)."""
    from sparksearch.query.aggs import _top_buckets, match_set

    cm = (
        match_set(
            children, child_query, text_col=child_text_col,
            analyzer=analyzer,
        )
        .select(parent_col)
        .distinct()
    )
    joined = parents.join(cm, parent_col, "leftsemi")
    return _top_buckets(joined, F.col(group_field).alias("key"), size)


def reverse_nested_agg_sql(
    child_query: str,
    group_field: str,
    size: int = 10,
    *,
    children_table: str = "chunks",
    parents_table: str = "documents",
    parent_col: str = "doc_id",
    child_text_col: str = "chunk_text",
    analyzer: str = "ascii",
) -> str:
    from sparksearch.query.aggs import _match_where_sql

    where = _match_where_sql(child_query, analyzer, text_col=child_text_col)
    return f"""
WITH cm AS (
  SELECT DISTINCT CAST({parent_col} AS BIGINT) AS doc_id
  FROM {children_table} WHERE {where}
)
SELECT p.{group_field} AS key, count(*)::BIGINT AS doc_count
FROM {parents_table} p JOIN cm ON p.{parent_col} = cm.doc_id
WHERE p.{group_field} IS NOT NULL
GROUP BY p.{group_field}
ORDER BY doc_count DESC, key ASC LIMIT {size}
""".strip()

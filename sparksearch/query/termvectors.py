"""_termvectors API — per-document term vectors with corpus statistics.

The reference delegates retrieval to OpenSearch, whose ``_termvectors``
endpoint returns, for one stored document: each term with its
``term_freq`` and positions, plus (``term_statistics=true``) the
corpus-wide ``doc_freq`` and ``ttf`` (total term frequency).  Pinned
output here: rows ``(term, tf, df, ttf, positions array<int>)``
ordered term asc, positions 0-based Lucene convention (the positions
sidecar's convention, `index/positions.py`).

Engine path (:func:`termvectors_indexed`) composes four sidecars and
never reads corpus text: the doc's tfrows slice (term ids + tf), the
stats sidecar (df, cf ≡ ttf), the lexicon (term strings), and the
positions sidecar (position lists).  Scale note: tfrows is partitioned
by term_bucket, so the doc_id slice is a parallel scan with row-group
doc_id pushdown rather than Lucene's doc-ordered term-vector store; a
point-lookup-heavy deployment would add a doc-range-partitioned copy
of tfrows (same rows, different sort) — documented, not built.

Reference parity: `keyword_search/functions/helper_functions.py`
(OpenSearch client surface the reference builds on).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokens_col

_OUT_SCHEMA = (
    "term string, tf long, df long, ttf long, positions array<int>"
)


def termvectors(
    docs: DataFrame,
    doc_id: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive term vectors for ``doc_id`` → (term, tf, df, ttf,
    positions), term asc.  Corpus-wide df/ttf (term_statistics)."""
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens_col(text_col, analyzer).alias("toks"),
    )
    ex = base.select(
        "doc_id", F.posexplode("toks").alias("pos", "term")
    )
    stats = ex.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("ttf"),
    )
    tgt = (
        ex.filter(F.col("doc_id") == doc_id)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("pos")).cast("array<int>")
            .alias("positions"),
        )
    )
    return (
        tgt.join(stats, "term")
        .select("term", "tf", "df", "ttf", "positions")
        .orderBy("term")
    )


def termvectors_sql(
    doc_id: int,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
    positions_as_string: bool = False,
) -> str:
    """DuckDB twin.  ``positions_as_string`` emits the position list as
    a comma-joined string — the cross-engine-hashable gate form."""
    toks = duckdb_tokens_expr(text_col, analyzer)
    pos_expr = (
        "array_to_string(list_sort(list(pos)), ',')"
        if positions_as_string
        else "list_sort(list(pos))"
    )
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS tl FROM {table}
  WHERE {text_col} IS NOT NULL
),
ex AS (
  SELECT doc_id, tl[u.p] AS term, CAST(u.p - 1 AS INT) AS pos
  FROM base, unnest(range(1, len(tl) + 1)) AS u(p)
),
stats AS (
  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS ttf
  FROM ex GROUP BY term
),
tgt AS (
  SELECT term, count(*) AS tf, {pos_expr} AS positions
  FROM ex WHERE doc_id = {int(doc_id)} GROUP BY term
)
SELECT term, tf, df, ttf, positions
FROM tgt JOIN stats USING (term)
ORDER BY term ASC
""".strip()


def termvectors_indexed(index, doc_id: int) -> DataFrame:
    """Engine path: tfrows ⋈ stats ⋈ lexicon ⋈ positions sidecars —
    corpus text never read.  Result-identical to :func:`termvectors`
    (pytest-pinned).  Base generation only (same contract as
    ``more_like_this_indexed``); requires the lexicon and positions
    sidecars."""
    from sparksearch.index.lexicon import read_lexicon
    from sparksearch.index.positions import positions_path

    spark = index.spark
    index._refresh_if_stale()
    meta = index.meta
    if meta.get("delta_gens"):
        raise ValueError(
            "termvectors_indexed reads base-generation tfrows; "
            "run compact_index() first"
        )
    tfr = (
        spark.read.parquet(os.path.join(index.index_dir, "tfrows"))
        .filter(F.col("doc_id") == doc_id)
        .select("term_id", "tf")
    )
    stats = spark.read.parquet(
        os.path.join(index.index_dir, "stats")
    ).select("term_id", "df", F.col("cf").alias("ttf"))
    lex = read_lexicon(spark, index.index_dir).select("term", "term_id")
    index._require_positions()
    pos = (
        spark.read.parquet(positions_path(index.index_dir))
        .filter(F.col("doc_id") == doc_id)
        .select("term_id", "positions")
    )
    return (
        tfr.join(stats, "term_id")
        .join(pos, "term_id")
        .join(lex, "term_id")
        .select(
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("ttf").cast("long").alias("ttf"),
            "positions",
        )
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# _mtermvectors: many docs, one plan
# ---------------------------------------------------------------------------


def mtermvectors(
    docs: DataFrame,
    doc_ids: list[int],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """OpenSearch ``_mtermvectors``: term vectors for a BATCH of ids in
    ONE job → (doc_id, term, tf, df, ttf, positions), (doc_id, term)
    asc.  The corpus-wide stats pass is shared across the batch (the
    point of the batch API — N ``termvectors`` calls re-aggregate the
    same df/ttf N times); the id list is a literal IN filter pushed to
    the scan.  Ids not in the corpus simply have no rows."""
    if not doc_ids:
        raise ValueError("mtermvectors needs at least one doc id")
    ids = sorted({int(i) for i in doc_ids})
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens_col(text_col, analyzer).alias("toks"),
    )
    ex = base.select("doc_id", F.posexplode("toks").alias("pos", "term"))
    stats = ex.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("ttf"),
    )
    tgt = (
        ex.filter(F.col("doc_id").isin(ids))
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("pos")).cast("array<int>")
            .alias("positions"),
        )
    )
    return (
        tgt.join(F.broadcast(stats.join(
            tgt.select("term").distinct(), "term", "leftsemi"
        )), "term")
        .select("doc_id", "term", "tf", "df", "ttf", "positions")
        .orderBy("doc_id", "term")
    )


def mtermvectors_sql(
    doc_ids: list[int],
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
    positions_as_string: bool = False,
) -> str:
    """DuckDB twin of :func:`mtermvectors`."""
    if not doc_ids:
        raise ValueError("mtermvectors needs at least one doc id")
    ids = ", ".join(str(int(i)) for i in sorted({int(i) for i in doc_ids}))
    toks = duckdb_tokens_expr(text_col, analyzer)
    pos_expr = (
        "array_to_string(list_sort(list(pos)), ',')"
        if positions_as_string
        else "list_sort(list(pos))"
    )
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS tl FROM {table}
  WHERE {text_col} IS NOT NULL
),
ex AS (
  SELECT doc_id, tl[u.p] AS term, CAST(u.p - 1 AS INT) AS pos
  FROM base, unnest(range(1, len(tl) + 1)) AS u(p)
),
stats AS (
  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS ttf
  FROM ex GROUP BY term
),
tgt AS (
  SELECT doc_id, term, count(*) AS tf, {pos_expr} AS positions
  FROM ex WHERE doc_id IN ({ids}) GROUP BY doc_id, term
)
SELECT doc_id, term, tf, df, ttf, positions
FROM tgt JOIN stats USING (term)
ORDER BY doc_id ASC, term ASC
""".strip()

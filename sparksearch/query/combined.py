"""``combined_fields``: term-centric multi-field BM25 (Lucene BM25F).

The third multi_match-family combiner next to best_fields (dis-max,
``query.topk``) and most_fields (sum) — the reference reaches all of
them through `_search` bodies (``keyword_search/functions/
helper_functions.py:158-163``).  Where most_fields scores each field
INDEPENDENTLY and sums (a doc with the term in two fields gets two
full idf contributions), combined_fields scores the term ONCE against
a synthetic combined field (Lucene's CombinedFieldQuery / the BM25F
model of Robertson-Zaragoza):

* tf'(t, d)  = Σ_f  w_f · tf_f(t, d)      (weighted term frequency)
* dl'(d)     = Σ_f  w_f · dl_f(d)         (weighted combined length)
* avgdl'     = avg_d dl'(d)
* df'(t)     = |{d : t appears in ANY field}|   (union df)
* score(d)   = Σ_t  idf(df') · tf' / (tf' + k1·(1 − b + b·dl'/avgdl'))

Weights default to 1.0 (OpenSearch's ``fields: ["title", "text"]``
with optional ``^w`` boosts — per the CombinedFieldQuery contract,
weights must be ≥ 1).  Ties doc_id asc; 4 dp rounding.

Scale shape: ONE union of per-field token frames → a dl' aggregate, a
weighted-tf groupBy, and one per-doc aggregate — all keyed on doc_id
(AQE reuses the hash partitioning across them), so the exchange count
is INDEPENDENT of the field count; df' is a distinct-doc count on the
already-reduced tf frame, broadcast back.  No per-field corpus scans,
no UDFs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import tokenize_str, tokens_col
from sparksearch.query.bm25 import SCORE_ROUND, bm25_weight, topk_cut


def _check_weights(fields: dict[str, float]) -> None:
    if not fields:
        raise ValueError("combined_fields needs at least one field")
    for f, w in fields.items():
        if w < 1.0:
            raise ValueError(
                f"combined_fields weight for {f!r} must be >= 1 (got {w})"
            )


def _score(tf, dls, dfs, glob, k: int, k1: float, b: float) -> DataFrame:
    """BM25F top-k: tf' (``tfw``) rows, per-doc dl', union df', globals."""
    w = bm25_weight("tfw", "dl", "df", "n_docs", "avgdl", k1, b)
    return topk_cut(
        tf.join(dls, "doc_id")
        .join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(glob))
        .select("doc_id", w.alias("part"))
        .groupBy("doc_id")
        .agg(F.sum("part").alias("raw")),
        k,
    )


def combined_fields_topk(
    docs: DataFrame,
    query_text: str,
    fields: dict[str, float],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive combined_fields → (doc_id, score), ties doc_id asc.

    ``fields`` maps TEXT COLUMNS of ``docs`` to weights (the
    ``title^2`` syntax, parsed by the caller)."""
    _check_weights(fields)
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    empty = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.lit(0.0).alias("score")
    ).filter(F.lit(False))
    if not terms:
        return empty

    # one frame per field → union (each: doc_id, weight, toks)
    legs = [
        docs.filter(F.col(f).isNotNull()).select(
            F.col(id_col).alias("doc_id"),
            F.lit(w).alias("w"),
            tokens_col(f, analyzer).alias("toks"),
        )
        for f, w in sorted(fields.items())
    ]
    u = reduce(lambda a, b_: a.unionByName(b_), legs)
    # weighted combined length per doc (docs missing every field drop out)
    dls = u.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.size("toks")).alias("dl")
    )
    glob = dls.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    flat = u.select("doc_id", "w", F.explode("toks").alias("term"))
    tf = (
        flat.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.sum("w").alias("tfw"))  # Σ_f w_f · tf_f
    )
    dfs = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")  # union df: rows are distinct docs
    )
    return _score(tf, dls, dfs, glob, k, k1, b)


def combined_fields_sql(
    query_text: str,
    field_tok_exprs: dict[str, tuple[str, float]],
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    where: str = "text IS NOT NULL",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin.  ``field_tok_exprs`` maps field name → (DuckDB
    token-list expression over ``table``'s columns, weight) — the twin
    of the Spark path's per-field token columns."""
    _check_weights({f: w for f, (_, w) in field_tok_exprs.items()})
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    term_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    legs = "\n  UNION ALL\n".join(
        f"  SELECT {id_col} AS doc_id, {w!r} AS w, {expr} AS toks "
        f"FROM {table} WHERE {where}"
        for _, (expr, w) in sorted(field_tok_exprs.items())
    )
    return f"""
WITH u AS (
{legs}
),
dls AS (SELECT doc_id, sum(w * len(toks)) AS dl FROM u GROUP BY doc_id),
gstats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dls),
flat AS (SELECT doc_id, w, unnest(toks) AS term FROM u),
tf AS (
  SELECT doc_id, term, sum(w) AS tfw
  FROM flat WHERE term IN ({term_list}) GROUP BY doc_id, term
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1.0 + (gstats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * tf.tfw / (tf.tfw + {k1} * (1.0 - {b} + {b} * dls.dl / gstats.avgdl)) ) AS raw
  FROM tf
  JOIN dls USING (doc_id)
  JOIN dfs USING (term)
  CROSS JOIN gstats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw, {SCORE_ROUND}) AS score
FROM scored ORDER BY raw DESC, doc_id ASC LIMIT {k}
""".strip()


def combined_fields_search(
    index,
    query_text: str,
    weights: dict[str, float],
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Engine path over the ONE multi-field index: BM25F from sidecars.

    Per-field tf comes from the ``tfrows`` sidecar pruned to the query
    terms' SALTED ids (``InvertedIndex.blocks``: hive ``term_bucket``
    partition pruning + a ``term_id IN`` row-group pushdown — cost Σ df
    over the fields, the corpus is never read); per-field dl from the
    ``doclens`` sidecar's ``field_id`` column.  tf'/dl' merge, union df', and the final
    score/top-k are the same algebra as :func:`combined_fields_topk`
    (rank-identical, pytest-pinned).  Requires ``keep_tfrows`` (the
    default) and a base-generation index — same contract as
    ``termvectors_indexed``/``more_like_this_indexed``.
    """
    import os as _os

    from sparksearch.index.build import FIELD_SEP

    _check_weights(weights)
    index._refresh_if_stale()
    spark = index.spark
    meta = index.meta
    fields = meta.get("fields")
    if fields is None:
        raise ValueError("combined_fields_search needs a multi-field index")
    for f in weights:
        if f not in fields:
            raise KeyError(f"unknown field {f!r}; index has {fields}")
    if meta.get("delta_gens"):
        raise ValueError(
            "combined_fields_search reads base-generation tfrows; "
            "run compact_index() first"
        )
    terms = sorted(set(index._tokenize(query_text)))
    empty = spark.createDataFrame([], "doc_id long, score double")
    if not terms:
        return empty

    # salted term_id → (original term, field weight)
    tid_info: dict[int, tuple[str, float]] = {}
    for f, w in weights.items():
        for t, (tid, _, _) in index.lookup_terms(terms, f + FIELD_SEP).items():
            tid_info[tid] = (t, float(w))
    if not tid_info:
        return empty
    tmap = spark.createDataFrame(
        [(tid, t, w) for tid, (t, w) in tid_info.items()],
        "term_id long, term string, w double",
    )
    # doclens carries the scoring-row id ↔ (real doc, field) mapping:
    # (doc_id = sdoc = xxhash64(field, orig), orig, field_id, dl)
    want_fids = [fi for fi, f in enumerate(fields) if f in weights]
    fid_w = F.create_map(
        *[x for fi, f in enumerate(fields) for x in
          (F.lit(fi), F.lit(float(weights.get(f, 0.0))))]
    )
    dl_rows = (
        spark.read.parquet(_os.path.join(index.index_dir, "doclens"))
        .filter(F.col("field_id").isin(want_fids))
        .select(
            "doc_id",
            F.col("orig").alias("_orig"),
            (fid_w[F.col("field_id")] * F.col("dl")).alias("wdl"),
        )
    )
    tf = (
        index.blocks(tid_info, "tfrows")
        .join(F.broadcast(tmap), "term_id")
        .join(dl_rows.select("doc_id", "_orig"), "doc_id")
        .groupBy(F.col("_orig").alias("doc_id"), F.col("term"))
        .agg(F.sum(F.col("w") * F.col("tf")).alias("tfw"))
    )
    dls = (
        dl_rows.groupBy(F.col("_orig").alias("doc_id"))
        .agg(F.sum("wdl").alias("dl"))
    )
    glob = dls.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    dfs = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    return _score(tf, dls, dfs, glob, k, k1, b)

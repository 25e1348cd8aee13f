"""``percolate`` query — match stored queries against documents.

OpenSearch's percolator inverts retrieval: queries are INDEXED
(a ``percolator`` field type) and a document is the request; the
response is the set of stored queries the document matches.  The
reference's alerting-style use of `_search` bodies is the forward
direction of the same surface (`keyword_search/functions/
helper_functions.py` builds those bodies); this module implements the
inverse direction Spark-first.

Pinned stored-query subset: ``(query_id, query_text, operator)`` where
``operator ∈ {or, and}`` — the match query's two operators (the
percolator's overwhelmingly common registration; compound stored
queries decompose into rows of this shape).  A document matches a
stored query iff its analyzed token set contains ANY (or) / ALL (and)
of the query's analyzed terms; empty-analysis queries match nothing
(the match query's own pin).

Scale shape — the classic inverted percolation plan, one shuffle:

    docs → explode DISTINCT tokens           (corpus-sized, map-local)
    query terms (tiny)  → broadcast join on term
    groupBy (doc_id, query_id) count matched (map-side partial agg)
    HAVING n_matched ≥ 1 (or) / = n_terms (and)

No doc×query cross join ever materializes: a document only meets the
queries whose terms it shares, exactly like Lucene's percolator
pre-selecting candidate queries through its term index.  At 100 TB the
query side stays broadcast (thousands of registrations ≪ executor
memory) and the document side streams through one exchange.

Persistence (VERDICT r4 next #8): OpenSearch INDEXES percolator
queries — registrations survive the process.  ``register_queries``
analyzes each registration ONCE and persists the flattened
``(query_id, term, term_id, n_terms, operator, in_vocab)`` rows as a
parquet sidecar under ``<index_dir>/percolator/`` (the lexicon-sidecar
pattern, ``index/lexicon.py``), stamping ``meta.percolator_gen`` /
``meta.percolator_analyzer``.  ``percolate_stored`` then runs the
packed path from the registry with zero re-analysis and zero stats
lookups.  The in-vocab flags are the generation-dependent piece (an
upsert can pull a previously-OOV registered term into the vocabulary),
so a gen mismatch is a HARD staleness error — same contract as
``meta.positions_gen`` — cleared by ``refresh_registrations`` (one
stats probe over the registered terms; still no re-analysis).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str, tokens_col
from sparksearch.hashing import term_id_of
from sparksearch.index import manifest as mf


def _query_terms(
    queries: list[tuple], analyzer: str
) -> list[tuple]:
    """(query_id, query_text, operator) → [(query_id, term, n_terms,
    operator)] with per-query analyzed DISTINCT terms."""
    rows = []
    for qid, qtext, op in queries:
        if op not in ("or", "and"):
            raise ValueError(f"operator {op!r} must be or|and")
        terms = sorted(set(tokenize_str(qtext, analyzer)))
        for t in terms:
            rows.append((int(qid), t, len(terms), op))
    return rows


def percolate(
    docs: DataFrame,
    queries: list[tuple],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Percolate ``docs`` against stored ``queries`` [(query_id,
    query_text, operator)] → (doc_id, query_id) matches, both asc."""
    spark = docs.sparkSession
    rows = _query_terms(queries, analyzer)
    if not rows:
        return spark.createDataFrame([], "doc_id long, query_id long")
    qt = spark.createDataFrame(
        rows, "query_id long, term string, n_terms int, operator string"
    )
    flat = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(tokens_col(text_col, analyzer))
        ).alias("term"),
    )
    matched = (
        flat.join(F.broadcast(qt), "term")
        .groupBy("doc_id", "query_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.first("n_terms").alias("n_terms"),
            F.first("operator").alias("operator"),
        )
    )
    hit = (F.col("operator") == "or") | (
        F.col("n_matched") == F.col("n_terms")
    )
    return (
        matched.filter(hit)
        .select("doc_id", "query_id")
        .orderBy("doc_id", "query_id")
    )


def percolate_sql(
    queries: list[tuple],
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`percolate`."""
    rows = _query_terms(queries, analyzer)
    if not rows:
        return (
            "SELECT CAST(NULL AS BIGINT) AS doc_id, "
            "CAST(NULL AS BIGINT) AS query_id WHERE FALSE"
        )
    vals = ", ".join(
        f"({qid}, '{t.replace(chr(39), chr(39) * 2)}', {n}, '{op}')"
        for qid, t, n, op in rows
    )
    toks = duckdb_tokens_expr(text_col, analyzer)
    return f"""
WITH qt(query_id, term, n_terms, operator) AS (VALUES {vals}),
flat AS (
  SELECT {id_col} AS doc_id, u.t AS term
  FROM (
    SELECT {id_col}, list_distinct({toks}) AS ts FROM {table}
    WHERE {text_col} IS NOT NULL
  ), unnest(ts) AS u(t)
),
matched AS (
  SELECT doc_id, query_id, count(*) AS n_matched,
         any_value(n_terms) AS n_terms, any_value(operator) AS operator
  FROM flat JOIN qt USING (term)
  GROUP BY doc_id, query_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(query_id AS BIGINT) AS query_id
FROM matched
WHERE operator = 'or' OR n_matched = n_terms
ORDER BY doc_id, query_id
""".strip()


def _percolate_qt(index, qt_rows: list[tuple]) -> DataFrame:
    """Packed-path core over resolved ``(query_id, term_id, n_terms,
    operator)`` rows (in-vocab terms only; ``n_terms`` still counts the
    registration's FULL analyzed term set, so an AND query that lost an
    OOV term can never reach ``n_matched == n_terms``)."""
    spark = index.spark
    if not qt_rows:
        return spark.createDataFrame([], "doc_id long, query_id long")
    qt = spark.createDataFrame(
        qt_rows, "query_id long, term_id long, n_terms int, operator string"
    )
    from sparksearch.query.matchset import term_doc_pairs_for_ids

    pairs = term_doc_pairs_for_ids(
        index, sorted({tid for _, tid, _, _ in qt_rows})
    )
    matched = (
        pairs.join(F.broadcast(qt), "term_id")
        .groupBy("doc_id", "query_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.first("n_terms").alias("n_terms"),
            F.first("operator").alias("operator"),
        )
    )
    hit = (F.col("operator") == "or") | (
        F.col("n_matched") == F.col("n_terms")
    )
    return (
        matched.filter(hit)
        .select("doc_id", "query_id")
        .orderBy("doc_id", "query_id")
    )


def percolate_indexed(index, queries: list[tuple]) -> DataFrame:
    """Engine path: percolate from the PACKED POSTINGS alone — no
    corpus read.  Every stored-query term prunes to its term bucket;
    the per-(doc, query) match count comes from the pruned postings'
    (term_id, doc_id) pairs, so cost is Σ df(term) over registered
    terms, not corpus size."""
    analyzer = index.meta.get("analyzer", "ascii")
    rows = _query_terms(queries, analyzer)
    if not rows:
        return index.spark.createDataFrame([], "doc_id long, query_id long")
    info = index.lookup_terms(sorted({t for _, t, _, _ in rows}))
    # AND queries with an OOV term can never fully match; OR queries
    # just lose the missing term's contribution
    qt_rows = [
        (qid, info[t][0], n, op)
        for qid, t, n, op in rows
        if t in info
    ]
    return _percolate_qt(index, qt_rows)


# ---------------------------------------------------------------------------
# persisted registry (see module docstring: Persistence)
# ---------------------------------------------------------------------------

def percolator_path(index_dir: str) -> str:
    return os.path.join(index_dir, "percolator")


def _registry_file(index_dir: str) -> str:
    return os.path.join(percolator_path(index_dir), "registrations.parquet")


def _write_registry(index_dir: str, pdf) -> None:
    """Atomic single-file parquet write (tmp + rename) — the registry
    is registration-sized (thousands of rows), a driver-side write like
    the manifest, never a Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(percolator_path(index_dir), exist_ok=True)
    dst = _registry_file(index_dir)
    tmp = dst + ".tmp"
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
    os.replace(tmp, dst)


def _read_registry(index_dir: str):
    import pyarrow.parquet as pq

    return pq.read_table(_registry_file(index_dir)).to_pandas()


def register_queries(index, queries: list[tuple], *, mode: str = "overwrite") -> int:
    """Persist stored queries [(query_id, query_text, operator)] into
    the index's percolator registry; returns the number of registered
    queries on disk afterwards.  Analysis happens HERE, once —
    ``percolate_stored`` never re-analyzes.  ``mode="append"`` keeps
    existing registrations (duplicate query_ids rejected)."""
    import pandas as pd

    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode {mode!r} must be overwrite|append")
    analyzer = index.meta.get("analyzer", "ascii")
    rows = _query_terms(queries, analyzer)
    terms = sorted({t for _, t, _, _ in rows})
    vocab = index.lookup_terms(terms)
    pdf = pd.DataFrame(
        [
            (qid, t, term_id_of(t), n, op, t in vocab)
            for qid, t, n, op in rows
        ],
        columns=[
            "query_id", "term", "term_id", "n_terms", "operator", "in_vocab"
        ],
    ).astype({"query_id": "int64", "term_id": "int64", "n_terms": "int32"})
    if mode == "append" and os.path.exists(_registry_file(index.index_dir)):
        old = _read_registry(index.index_dir)
        dup = set(old["query_id"]) & set(pdf["query_id"])
        if dup:
            raise ValueError(f"query_ids already registered: {sorted(dup)}")
        pdf = pd.concat([old, pdf], ignore_index=True)
    _write_registry(index.index_dir, pdf)
    meta = mf.read_meta(index.index_dir)  # re-read: build may be newer
    meta["has_percolator"] = True
    meta["percolator_gen"] = int(meta.get("gen", 0))
    meta["percolator_analyzer"] = analyzer
    mf.write_meta(index.index_dir, meta)
    index.meta.update(meta)
    return int(pdf["query_id"].nunique())


def refresh_registrations(index) -> None:
    """Re-resolve the registry's in-vocab flags against the CURRENT
    index generation and re-stamp ``percolator_gen`` — run after an
    upsert/delete changed the vocabulary.  One stats probe over the
    registered terms; the stored analysis is reused untouched."""
    pdf = _read_registry(index.index_dir)
    vocab = index.lookup_terms(sorted(set(pdf["term"])))
    pdf["in_vocab"] = pdf["term"].map(lambda t: t in vocab)
    _write_registry(index.index_dir, pdf)
    meta = mf.read_meta(index.index_dir)
    meta["percolator_gen"] = int(meta.get("gen", 0))
    mf.write_meta(index.index_dir, meta)
    index.meta.update(meta)


def percolate_stored(index) -> DataFrame:
    """Packed-path percolation from the PERSISTED registry — zero
    re-analysis, zero stats lookups (term ids and in-vocab flags were
    resolved at registration).  Staleness-gated like the positions
    sidecar: analyzer must match the index, generation must match
    ``meta.gen`` (else :func:`refresh_registrations`)."""
    meta = mf.read_meta(index.index_dir)
    if not meta.get("has_percolator"):
        raise ValueError(
            f"index at {index.index_dir} has no percolator registry — "
            "run register_queries(index, queries) first"
        )
    if meta.get("percolator_analyzer") != meta.get("analyzer", "ascii"):
        raise ValueError(
            "percolator registry was analyzed with "
            f"{meta.get('percolator_analyzer')!r} but the index uses "
            f"{meta.get('analyzer', 'ascii')!r} — re-register"
        )
    if int(meta.get("percolator_gen", -1)) != int(meta.get("gen", 0)):
        raise ValueError(
            "percolator registry is stale (registered at gen "
            f"{meta.get('percolator_gen')}, index is at gen "
            f"{meta.get('gen', 0)}) — run refresh_registrations(index)"
        )
    pdf = _read_registry(index.index_dir)
    live = pdf[pdf["in_vocab"]]
    qt_rows = [
        (int(r.query_id), int(r.term_id), int(r.n_terms), str(r.operator))
        for r in live.itertuples(index=False)
    ]
    return _percolate_qt(index, qt_rows)

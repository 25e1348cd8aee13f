"""``match`` query controls: ``operator`` / ``minimum_should_match``,
``_count``, ``_explain``, ``_analyze`` and ``simple_query_string``.

The reference reaches all of these through the same `_search`/`_count`
API family its ``multi_match`` test queries use (the index bodies at
``keyword_search/functions/helper_functions.py:158-163`` are plain
``text`` fields, so every term-level control below is live on them).
Pinned semantics, mirrored by the DuckDB twins:

* **match operator/minimum_should_match** — the match query analyzes
  into terms; ``operator="and"`` requires EVERY distinct query term in
  the doc, ``operator="or"`` (default) requires at least
  ``minimum_should_match`` distinct terms (default 1; an msm larger
  than the term count matches nothing — Lucene's rule).  Scoring is
  unchanged: BM25 summed over the doc's matched query terms.  The
  matched-term count rides the same per-(doc, term) tf frame the score
  does — no second corpus pass.
* **_count** — the size of the match set (OR semantics), one row out.
* **_explain** — the per-term score breakdown OpenSearch returns for
  one (query, doc) pair: tf, df, idf, the length-normalized tf, and
  the term's contribution (all rounded so both engines hash alike).
* **_analyze** — the analyzed token stream with positions for one
  stored doc (positions are 0-based like Lucene's token positions).
* **simple_query_string** — the +required / -prohibited / bare-optional
  subset of the simple query syntax, compiled onto the ``bool`` query
  (`query/boolq.py`): ``+t``→must, ``-t``→must_not, bare→should (or
  must when ``default_operator="and"``).  Pinned subset: whitespace-
  separated single-term operators only — no quoted phrases, parens, or
  ``|`` (documented deviation; each is a composition of operators the
  engine already ships: match_phrase, bool).

Scale shape: every operator here is one tokenize pass + map-side-
combined groupBys (the exhaustive twins), or a pruned-postings decode
(the engine paths) — the corpus table is never read by ``*_search``
variants, and ``explain`` touches one doc's row plus a vocab-sized df
lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str, tokens_col
from sparksearch.query.bm25 import (
    SCORE_ROUND,
    bm25_idf,
    bm25_tfn,
    bm25_topk_df,
    term_front,
    term_parts,
    topk_cut,
)
from sparksearch.query.qtree import (
    Bool,
    MultiTerm,
    Term,
    evaluate_exhaustive,
    evaluate_index,
)

EXPLAIN_ROUND = 6


def _required(terms: list[str], operator: str,
              minimum_should_match: int | None) -> int:
    if operator not in ("or", "and"):
        raise ValueError(f"operator must be 'or' or 'and', got {operator!r}")
    if operator == "and":
        if minimum_should_match is not None:
            raise ValueError("minimum_should_match is an OR-operator control")
        return len(terms)
    return max(1, int(minimum_should_match or 1))


def _match_frame(docs: DataFrame, terms: list[str], *, id_col: str,
                 text_col: str, k1: float, b: float, analyzer: str):
    """Per-doc (raw BM25 sum, n matched distinct terms) over the
    exhaustive term front."""
    front = term_front(
        docs, terms, id_col=id_col, text_col=text_col, analyzer=analyzer
    )
    return (
        term_parts(*front, k1, b)
        .groupBy("doc_id")
        .agg(
            F.sum("part").alias("raw"),
            F.count(F.lit(1)).alias("n_matched"),  # tf rows are distinct terms
        )
    )


def match_topk(
    docs: DataFrame,
    query_text: str,
    k: int = 10,
    *,
    operator: str = "or",
    minimum_should_match: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive match query with operator / msm → (doc_id, score)."""
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    empty = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.lit(0.0).alias("score")
    ).filter(F.lit(False))
    if not terms:
        return empty
    need = _required(terms, operator, minimum_should_match)
    if need > len(terms):
        return empty
    scored = _match_frame(
        docs, terms, id_col=id_col, text_col=text_col, k1=k1, b=b,
        analyzer=analyzer,
    )
    return topk_cut(scored.filter(F.col("n_matched") >= need), k)


def match_topk_sql(
    query_text: str,
    k: int = 10,
    *,
    operator: str = "or",
    minimum_should_match: int | None = None,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`match_topk`."""
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    if not terms:
        return (
            f"SELECT CAST({id_col} AS BIGINT) AS doc_id, 0.0 AS score "
            f"FROM {table} WHERE FALSE"
        )
    need = _required(terms, operator, minimum_should_match)
    term_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    toks = duckdb_tokens_expr(text_col, analyzer)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS toks
  FROM {table} WHERE {text_col} IS NOT NULL
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
              * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / gstats.avgdl)) ) AS raw,
         count(*) AS n_matched
  FROM tf JOIN dfs USING (term) CROSS JOIN gstats
  GROUP BY tf.doc_id
)
SELECT doc_id, round(raw, {SCORE_ROUND}) AS score
FROM scored WHERE n_matched >= {need}
ORDER BY raw DESC, doc_id ASC LIMIT {k}
""".strip()


def match_search(
    index,
    query_text: str,
    k: int = 10,
    *,
    operator: str = "or",
    minimum_should_match: int | None = None,
) -> DataFrame:
    """Engine path: pruned-postings match with operator / msm.

    ``need == 1`` is the standard top-k kernel (`InvertedIndex.search`).
    Above that a top-k leg can't feed the conjunction (the requirement
    gates membership, not rank), so the FULL scored match set
    (`score_all`) is semi-joined with the ≥-need id set from the match
    kernel — both legs decode the same pruned blocks, the corpus is
    never read.  Rank-identical to :func:`match_topk` (pytest-pinned).
    """
    from sparksearch.query.matchset import match_ids_for_terms

    terms = sorted(set(index._tokenize(query_text)))
    empty = index.spark.createDataFrame([], "doc_id long, score double")
    if not terms:
        return empty
    need = _required(terms, operator, minimum_should_match)
    if need > len(terms):
        return empty
    if need <= 1:
        out = index.search(query_text, k)
    else:
        scored = index.score_all(query_text)
        ids = match_ids_for_terms(index, terms, min_match=need)
        out = (
            scored.join(ids, "doc_id", "leftsemi")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
    return out.select("doc_id", F.round("score", SCORE_ROUND).alias("score"))


# -- _count ------------------------------------------------------------------
def match_count(
    docs: DataFrame,
    query_text: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """The ``_count`` API: size of the OR match set → one row (count)."""
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    base = docs.filter(F.col(text_col).isNotNull())
    if not terms:
        return base.select(F.col(id_col)).limit(0).agg(
            F.count(F.lit(1)).cast("long").alias("count")
        )
    hit = F.arrays_overlap(
        tokens_col(text_col, analyzer), F.array(*[F.lit(t) for t in terms])
    )
    return base.filter(hit).agg(F.count(F.lit(1)).cast("long").alias("count"))


def match_count_sql(
    query_text: str,
    *,
    table: str = "documents",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    toks = duckdb_tokens_expr(text_col, analyzer)
    if not terms:
        return "SELECT 0::BIGINT AS count"
    term_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return f"""
SELECT count(*)::BIGINT AS count
FROM {table}
WHERE {text_col} IS NOT NULL
  AND len(list_intersect({toks}, [{term_list}])) > 0
""".strip()


def match_count_indexed(index, query_text: str) -> DataFrame:
    """Engine path: count the pruned-postings match set (no corpus read)."""
    from sparksearch.query.matchset import match_ids_df

    ids = match_ids_df(index, query_text, mode="any")
    return ids.agg(F.count(F.lit(1)).cast("long").alias("count"))


# -- _explain ----------------------------------------------------------------
def explain_score(
    docs: DataFrame,
    query_text: str,
    doc_id: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """The ``_explain`` API: per-term BM25 breakdown for one (query, doc).

    → (term, tf, df, idf, tfn, contribution), term asc; only the doc's
    matched terms appear (Lucene explains matched scorers only).  df and
    the global stats stay corpus-wide — an explain never re-scopes
    statistics.  Rounded to {EXPLAIN_ROUND} dp for cross-engine hashing.
    """
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    # df over the WHOLE corpus (not just the explained doc)
    tf_all, df_, glob = term_front(
        docs, terms, id_col=id_col, text_col=text_col, analyzer=analyzer
    )
    idf = bm25_idf("df", "n_docs")
    tfn = bm25_tfn("tf", "dl", "avgdl", k1, b)
    r = EXPLAIN_ROUND
    return (
        tf_all.filter(F.col("doc_id") == doc_id)
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(glob))
        .select(
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round(idf, r).alias("idf"),
            F.round(tfn, r).alias("tfn"),
            F.round(idf * tfn, r).alias("contribution"),
        )
        .orderBy("term")
    )


def explain_score_sql(
    query_text: str,
    doc_id: int,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    term_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    toks = duckdb_tokens_expr(text_col, analyzer)
    r = EXPLAIN_ROUND
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS toks
  FROM {table} WHERE {text_col} IS NOT NULL
),
with_dl AS (SELECT doc_id, len(toks) AS dl, toks FROM base),
flat AS (SELECT doc_id, dl, unnest(toks) AS term FROM with_dl),
tf AS (
  SELECT doc_id, dl, term, count(*)::BIGINT AS tf
  FROM flat WHERE term IN ({term_list}) GROUP BY doc_id, dl, term
),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
gstats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM with_dl)
SELECT tf.term, tf.tf, dfs.df,
       round(ln(1.0 + (gstats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)), {r}) AS idf,
       round(tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / gstats.avgdl)), {r}) AS tfn,
       round(ln(1.0 + (gstats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
             * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / gstats.avgdl)), {r}) AS contribution
FROM tf JOIN dfs USING (term) CROSS JOIN gstats
WHERE tf.doc_id = {doc_id}
ORDER BY tf.term
""".strip()


# -- _analyze ----------------------------------------------------------------
def analyze_doc(
    docs: DataFrame,
    doc_id: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """The ``_analyze`` API over a stored doc: → (position, token),
    position asc, 0-based (Lucene token positions)."""
    return (
        docs.filter((F.col(id_col) == doc_id) & F.col(text_col).isNotNull())
        .select(
            F.posexplode(tokens_col(text_col, analyzer)).alias("position", "token")
        )
        .select(F.col("position").cast("long").alias("position"), "token")
        .orderBy("position")
    )


def analyze_doc_sql(
    doc_id: int,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    toks = duckdb_tokens_expr(text_col, analyzer)
    return f"""
SELECT (u.p - 1)::BIGINT AS position, tl[u.p] AS token
FROM (
  SELECT {toks} AS tl FROM {table}
  WHERE {id_col} = {doc_id} AND {text_col} IS NOT NULL
), unnest(range(1, len(tl) + 1)) AS u(p)
ORDER BY position
""".strip()


# -- simple_query_string -----------------------------------------------------
def parse_simple_query(query: str, default_operator: str = "or"
                       ) -> dict[str, list[str]]:
    """``+required -prohibited optional`` → bool clause lists.

    Whitespace-split; leading ``+``/``-`` is the operator, the rest of
    the token is the clause text (analysis happens inside the bool
    query).  ``default_operator`` places bare tokens: ``"or"``→should,
    ``"and"``→must.  Tokens that are ONLY an operator are dropped.
    """
    if default_operator not in ("or", "and"):
        raise ValueError("default_operator must be 'or' or 'and'")
    must, should, must_not = [], [], []
    for tok in query.split():
        if tok.startswith("+"):
            body, dest = tok[1:], must
        elif tok.startswith("-"):
            body, dest = tok[1:], must_not
        else:
            body = tok
            dest = must if default_operator == "and" else should
        if body:
            dest.append(body)
    return {"must": must, "should": should, "must_not": must_not}


def simple_query_string_topk(
    docs: DataFrame, query: str, k: int = 10, *,
    default_operator: str = "or", **kw,
) -> DataFrame:
    """Exhaustive simple_query_string → bool query → (doc_id, score)."""
    from sparksearch.query.boolq import bool_topk

    return bool_topk(docs, k=k, **parse_simple_query(query, default_operator), **kw)


def simple_query_string_sql(
    query: str, k: int = 10, *, default_operator: str = "or", **kw,
) -> str:
    from sparksearch.query.boolq import bool_topk_sql

    return bool_topk_sql(k=k, **parse_simple_query(query, default_operator), **kw)


def simple_query_string_search(
    index, query: str, k: int = 10, *, default_operator: str = "or", **kw,
) -> DataFrame:
    """Engine path: the parsed bool runs on pruned postings
    (`boolq.bool_search`) — rank-identical to the exhaustive path."""
    from sparksearch.query.boolq import bool_search

    return bool_search(index, k=k, **parse_simple_query(query, default_operator), **kw)


# ---------------------------------------------------------------------------
# match_bool_prefix: bool-of-terms with the last term as a prefix
# ---------------------------------------------------------------------------
#
# OpenSearch ``match_bool_prefix`` (the match-family autocomplete
# query): the analyzed terms become a ``bool`` of SHOULD clauses — a
# term query per leading token plus a PREFIX query for the last token.
# Lucene rewrites the prefix clause constant-score, so the pinned
# scoring is: score(doc) = Σ BM25(matched leading terms) + 1.0 if any
# dictionary expansion of the prefix (dictionary order, capped at
# ``max_expansions``) occurs in the doc.  A doc matches with ≥1 clause
# (bool should, minimum_should_match 1).  Identical in both engines and
# the DuckDB oracle; ties doc_id asc; round 4 dp.


def _mbp_tree(terms: list[str], max_expansions: int):
    """Analyzed terms → should(Term(leading terms), prefix(last term))."""
    if not terms:
        return None
    should = [Term(sorted(set(terms[:-1])))] if terms[:-1] else []
    should.append(MultiTerm("prefix", terms[-1], max_expansions))
    return Bool(should=should, msm=1)


def match_bool_prefix_topk(
    docs: DataFrame,
    query_text: str,
    k: int = 10,
    *,
    max_expansions: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive match_bool_prefix top-k → (doc_id, score)."""
    return evaluate_exhaustive(
        docs, _mbp_tree(tokenize_str(query_text, analyzer), max_expansions),
        k, id_col=id_col, text_col=text_col, k1=k1, b=b, analyzer=analyzer,
    )


def match_bool_prefix_sql(
    query_text: str,
    k: int = 10,
    *,
    max_expansions: int = 50,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`match_bool_prefix_topk` — the expansion set
    is derived in-query, so the oracle is self-contained."""
    from sparksearch.query.bm25 import bm25_scores_cte

    terms = tokenize_str(query_text, analyzer)
    firsts, pre = terms[:-1], terms[-1].replace("'", "''")
    toks = duckdb_tokens_expr(text_col, analyzer)
    # the no-leading-terms case still needs the base/scored CTEs: use a
    # single impossible token (analyzer-stable, matches nothing)
    cte = bm25_scores_cte(
        " ".join(firsts) if firsts else "qqqqzzzzqqqq",
        table=table, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    )
    return f"""
WITH {cte},
expsel AS (
  SELECT DISTINCT t.term FROM base, unnest(toks) AS t(term)
  WHERE t.term LIKE '{pre}%' ORDER BY t.term LIMIT {max_expansions}
),
expl AS (SELECT coalesce(list(term ORDER BY term), []) AS exps FROM expsel),
pleg AS (
  SELECT doc_id, 1.0 AS raw FROM base, expl
  WHERE len(list_filter(toks, x -> list_contains(exps, x))) > 0
),
allc AS (
  SELECT doc_id, raw FROM scored
  UNION ALL SELECT doc_id, raw FROM pleg
)
SELECT doc_id, round(sum(raw), 4) AS score
FROM allc GROUP BY doc_id
ORDER BY sum(raw) DESC, doc_id ASC
LIMIT {k}
""".strip()


def match_bool_prefix_search(
    index, query_text: str, k: int = 10, *, max_expansions: int = 50
) -> DataFrame:
    """Engine path: leading terms through the full pruned match-set
    scorer (`score_all`), the prefix clause through the lexicon rewrite
    + pruned id-set decode — the corpus is never read.  Rank-identical
    to :func:`match_bool_prefix_topk` (pytest)."""
    return evaluate_index(
        index, _mbp_tree(index._tokenize(query_text), max_expansions), k
    )


# -- terms_set ----------------------------------------------------------------
def _terms_set_validate(terms: list[str], analyzer: str) -> list[str]:
    """terms_set is a TERM-level query (terms are not analyzed, matching
    Lucene's CoveringQuery over term queries), but our index vocabulary
    is analyzed tokens — a term outside analyzer space could never match
    the packed index while still being comparable in the exhaustive
    path.  Pin: every term must be a single analyzer token of itself;
    anything else is a caller error, not a silent no-match."""
    terms = sorted(set(terms))
    for t in terms:
        if tokenize_str(t, analyzer) != [t]:
            raise ValueError(
                f"terms_set term {t!r} is not a single {analyzer!r} "
                "analyzer token — pass analyzer-space terms"
            )
    return terms


def terms_set_topk(
    docs: DataFrame,
    terms: list[str],
    msm_field: str,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """``terms_set`` query: doc matches when it holds at least
    ``msm_field``-many (its OWN field value) distinct terms of ``terms``
    (OpenSearch ``minimum_should_match_field``); score = BM25 sum over
    the matched terms, corpus-wide stats — exactly the ``match`` msm
    contract with the requirement read per-doc instead of per-query.

    Pins: a null/absent ``msm_field`` never matches (OpenSearch errors
    on a missing value; never-match keeps the contract total); the
    effective requirement is ``greatest(value, 1)`` so every hit holds
    at least one term (Lucene's CoveringQuery treats ``< 1`` as 1).

    Scale shape: rides the same per-(doc,term) tf frame as ``match``
    (one exchange), plus a doc_id join against a 2-column projection of
    the corpus for the per-doc requirement — the ``function_score``
    field-join shape.  Output (doc_id, score), (score desc, id asc).
    """
    terms = _terms_set_validate(terms, analyzer)
    empty = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.lit(0.0).alias("score")
    ).filter(F.lit(False))
    if not terms:
        return empty
    scored = _match_frame(
        docs, terms, id_col=id_col, text_col=text_col, k1=k1, b=b,
        analyzer=analyzer,
    )
    # filter the RAW field first: greatest() skips nulls, so clamping
    # before the null check would resurrect null-req docs at need=1
    need = docs.filter(F.col(msm_field).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.greatest(F.col(msm_field).cast("long"), F.lit(1)).alias("need"),
    )
    return topk_cut(
        scored.join(need, "doc_id").filter(F.col("n_matched") >= F.col("need")),
        k,
    )


def terms_set_sql(
    terms: list[str],
    msm_field: str,
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`terms_set_topk`."""
    terms = _terms_set_validate(terms, analyzer)
    if not terms:
        return (
            f"SELECT CAST({id_col} AS BIGINT) AS doc_id, 0.0 AS score "
            f"FROM {table} WHERE FALSE"
        )
    term_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    toks = duckdb_tokens_expr(text_col, analyzer)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS toks
  FROM {table} WHERE {text_col} IS NOT NULL
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
              * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / gstats.avgdl)) ) AS raw,
         count(*) AS n_matched
  FROM tf JOIN dfs USING (term) CROSS JOIN gstats
  GROUP BY tf.doc_id
),
needs AS (
  SELECT {id_col} AS doc_id,
         greatest(CAST({msm_field} AS BIGINT), 1) AS need
  FROM {table} WHERE {msm_field} IS NOT NULL
)
SELECT scored.doc_id, round(raw, {SCORE_ROUND}) AS score
FROM scored JOIN needs ON scored.doc_id = needs.doc_id
WHERE n_matched >= need
ORDER BY raw DESC, scored.doc_id ASC LIMIT {k}
""".strip()


def terms_set_search(
    index,
    terms: list[str],
    msm_field: str,
    k: int = 10,
    *,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Engine path: pruned full scoring ⋈ pruned per-doc matched counts
    ⋈ the requirement field — the per-doc msm analog of
    :func:`match_search`'s ≥-need leg; corpus TEXT is never read (the
    requirement needs only a 2-column (id, field) projection, the
    doc-values analog — hence the explicit ``docs`` frame, exactly the
    ``bool_search`` structured-filter contract).  Rank-identical to
    :func:`terms_set_topk` (pytest-pinned)."""
    from sparksearch.query.matchset import match_counts_for_terms

    if docs is None:
        raise ValueError(
            "terms_set_search reads the per-doc requirement field — pass "
            "docs= (the source table) for its (id, field) projection"
        )
    analyzer = index.meta.get("analyzer", "ascii")
    terms = _terms_set_validate(terms, analyzer)
    empty = index.spark.createDataFrame([], "doc_id long, score double")
    if not terms:
        return empty
    scored = index.score_all(" ".join(terms))
    counts = match_counts_for_terms(index, terms)
    need = docs.filter(F.col(msm_field).isNotNull()).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.greatest(F.col(msm_field).cast("long"), F.lit(1)).alias("need"),
    )
    return (
        scored.join(counts, "doc_id")
        .join(need, "doc_id")
        .filter(F.col("n_matched") >= F.col("need"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("score", SCORE_ROUND).alias("score"))
    )


# ---------------------------------------------------------------------------
# match with fuzziness — the match query's `fuzziness` control
# (OpenSearch match → per-term Lucene FuzzyQuery rewrite).  Reference
# surface: the `_search` match bodies the reference can send accept
# `fuzziness: AUTO|0|1|2` (`keyword_search/functions/helper_functions
# .py` delegates to OpenSearch).  Pin (the fuzzy_query pin extended to
# the match family): each analyzed query term expands through the
# vocabulary within its edit budget (Lucene AUTO = 0/1/2 edits by term
# length, per-term cap `max_expansions`, ordered distance asc / term
# asc); the DISTINCT union of all expansions then runs as the standard
# OR-BM25.  Documented deviation (same as Q9 fuzzy): Lucene's
# TopTermsBlendedFreqScoringRewrite blends df across expansions; the
# per-expansion BM25 sum is pinnable bit-identically across engines.
# A term appearing in two terms' expansions scores ONCE (distinct
# union — Lucene's boolean dedup keeps one clause per term too).
# Scale shape: expansion is vocab-sized work (lexicon range scan on
# the engine path); scoring is the unchanged pruned MaxScore kernel.
# ---------------------------------------------------------------------------

def match_fuzzy_topk(
    docs: DataFrame,
    query_text: str,
    k: int = 10,
    *,
    max_edits: int | None = None,
    max_expansions: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive match-with-fuzziness → (doc_id, score)."""
    from sparksearch.index.lexicon import auto_fuzziness
    from sparksearch.query.termq import _expand_fuzzy_exhaustive

    qterms = sorted(set(tokenize_str(query_text, analyzer)))
    empty = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.lit(0.0).alias("score")
    ).filter(F.lit(False))
    if not qterms:
        return empty
    union: set[str] = set()
    for t in qterms:
        edits = auto_fuzziness(t) if max_edits is None else int(max_edits)
        union.update(
            _expand_fuzzy_exhaustive(
                docs, t, edits, max_expansions, text_col, analyzer
            )
        )
    if not union:
        return empty
    return bm25_topk_df(
        docs, " ".join(sorted(union)), k,
        id_col=id_col, text_col=text_col, k1=k1, b=b, analyzer=analyzer,
    )


def match_fuzzy_sql(
    query_text: str,
    k: int = 10,
    *,
    max_edits: int | None = None,
    max_expansions: int = 50,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin — per-term expansions derived in SQL (QUALIFY
    row_number enforces the per-term cap), distinct union, OR-BM25."""
    from sparksearch.index.lexicon import auto_fuzziness

    qterms = sorted(set(tokenize_str(query_text, analyzer)))
    toks = duckdb_tokens_expr(text_col, analyzer)
    if not qterms:
        return (
            f"SELECT {id_col}::BIGINT AS doc_id, 0.0 AS score "
            f"FROM {table} WHERE FALSE"
        )
    legs = []
    for t in qterms:
        edits = auto_fuzziness(t) if max_edits is None else int(max_edits)
        q = t.replace("'", "''")
        legs.append(
            f"SELECT term FROM vocab WHERE levenshtein(term, '{q}') <= {edits}\n"
            f"  QUALIFY row_number() OVER (ORDER BY levenshtein(term, '{q}') "
            f"ASC, term ASC) <= {max_expansions}"
        )
    exp_union = "\n  UNION\n  ".join(legs)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS tl FROM {table}
  WHERE {text_col} IS NOT NULL
),
vocab AS (SELECT DISTINCT u.t AS term FROM base, unnest(tl) AS u(t)),
exp AS (
  {exp_union}
),
g AS (SELECT count(*) AS n_docs, avg(len(tl)) AS avgdl FROM base),
tf AS (
  SELECT doc_id, len(tl) AS dl, term,
         len(list_filter(tl, x -> x = term)) AS tf
  FROM base, exp
),
tfp AS (SELECT * FROM tf WHERE tf > 0),
dfc AS (SELECT term, count(*) AS df FROM tfp GROUP BY term)
SELECT doc_id,
       round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))),
             {SCORE_ROUND}) AS score
FROM tfp JOIN dfc USING (term), g
GROUP BY doc_id
ORDER BY sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))) DESC,
         doc_id ASC
LIMIT {k}
""".strip()


def match_fuzzy_search(
    index,
    query_text: str,
    k: int = 10,
    *,
    max_edits: int | None = None,
    max_expansions: int = 50,
) -> DataFrame:
    """Engine path: per-term lexicon rewrite → ONE pruned MaxScore run
    over the distinct expansion union (expansions are analyzer output,
    so the joined string re-tokenizes to exactly the union)."""
    from sparksearch.index.lexicon import expand_fuzzy

    analyzer = index.meta.get("analyzer", "ascii")
    qterms = sorted(set(tokenize_str(query_text, analyzer)))
    union: set[str] = set()
    for t in qterms:
        union.update(
            expand_fuzzy(
                index.spark, index.index_dir, t,
                max_edits=max_edits, max_expansions=max_expansions,
            )
        )
    if not union:
        return index.search("", k)  # canonical empty frame
    out = index.search(" ".join(sorted(union)), k)
    return out.select("doc_id", F.round("score", SCORE_ROUND).alias("score"))

"""Field collapsing and function_score — post-scoring rank shapers.

Two OpenSearch hit-shaping features that reorder/regroup the FULL
scored match set (a top-k page cannot feed them: collapsing can
promote a group whose leader sits below the page boundary, and a
function boost can promote a low-BM25 hit):

**collapse** — one hit per distinct value of a field (web search's
one-result-per-site).  Pinned: leader of a group = its highest hit by
(rounded score desc, doc_id asc); page = top ``k`` leaders in the same
order; null field values form their own group (OpenSearch puts
missing-field docs in one null group).  Output (doc_id, key, score).

**function_score / field_value_factor** — score reshaped by a document
field (popularity/recency boosting).  Pinned subset: ``boost_mode:
multiply`` with ``field_value_factor`` and the ``ln1p`` modifier::

    score'(d) = round(bm25_raw(d) · ln(1 + coalesce(field, missing)), 4)

``missing`` defaults to 0 (factor 0 — unboosted docs sink, OpenSearch's
own default for a missing field value is to error unless ``missing``
is set; pinning 0 keeps the contract total).  Output (doc_id, score),
ordered (score desc, doc_id asc).

Scale shape: both reuse :func:`bm25_scores_df` (one shared scoring
plan); collapse adds ONE hash-partition window shuffle on the collapse
field (row_number over groups — never a global sort) followed by
TakeOrderedAndProject; function_score adds a doc_id join against a
2-column field projection and keeps TakeOrderedAndProject.  The DuckDB
twins reuse ``bm25_scores_cte`` so engine and oracle share one scoring
text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparksearch.analyze import tokenize_str
from sparksearch.query.bm25 import SCORE_ROUND, bm25_scores_cte, bm25_scores_df
from sparksearch.query.qtree import (
    Boosting,
    ConstantScore,
    Field,
    Term,
    evaluate_exhaustive,
    evaluate_index,
)


def collapse_topk(
    docs: DataFrame,
    query_text: str,
    collapse_field: str,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """One best hit per ``collapse_field`` value → (doc_id, key, score)."""
    scored = bm25_scores_df(
        docs, query_text, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    ).select("doc_id", F.round("raw", SCORE_ROUND).alias("score"))
    fields = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(collapse_field).cast("string").alias("key"),
    )
    hits = scored.join(fields, "doc_id")
    w = Window.partitionBy("key").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        hits.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .drop("_r")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "key", "score")
    )


def collapse_topk_sql(
    query_text: str,
    collapse_field: str,
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    cte = bm25_scores_cte(
        query_text, table=table, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    )
    return f"""
WITH {cte},
hits AS (
  SELECT s.doc_id, CAST(t.{collapse_field} AS VARCHAR) AS key,
         round(s.raw, {SCORE_ROUND}) AS score
  FROM scored s JOIN {table} t ON s.doc_id = t.{id_col}
)
SELECT doc_id, key, score FROM hits
QUALIFY row_number() OVER (
  PARTITION BY key ORDER BY score DESC, doc_id ASC
) = 1
ORDER BY score DESC, doc_id ASC LIMIT {k}
""".strip()


def function_score_topk(
    docs: DataFrame,
    query_text: str,
    factor_field: str,
    k: int = 10,
    *,
    missing: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """BM25 × ln1p(field) boost → (doc_id, score) top-k."""
    scored = bm25_scores_df(
        docs, query_text, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    )
    fields = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.coalesce(F.col(factor_field).cast("double"), F.lit(missing)).alias(
            "_fv"
        ),
    )
    boosted = scored.join(fields, "doc_id").select(
        "doc_id",
        # ln(1 + x), not log1p: the twin's formula text verbatim, so both
        # engines evaluate the identical float expression
        F.round(
            F.col("raw") * F.log(F.lit(1.0) + F.col("_fv")), SCORE_ROUND
        ).alias("score"),
    )
    return boosted.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def function_score_topk_sql(
    query_text: str,
    factor_field: str,
    k: int = 10,
    *,
    missing: float = 0.0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    cte = bm25_scores_cte(
        query_text, table=table, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    )
    return f"""
WITH {cte}
SELECT s.doc_id,
       round(s.raw * ln(1.0 + coalesce(CAST(t.{factor_field} AS DOUBLE),
                                       {missing})),
             {SCORE_ROUND}) AS score
FROM scored s JOIN {table} t ON s.doc_id = t.{id_col}
ORDER BY score DESC, s.doc_id ASC LIMIT {k}
""".strip()


def _boosting_tree(positive: str, negative: str, negative_boost: float,
                   analyzer: str):
    pos = sorted(set(tokenize_str(positive, analyzer)))
    if not pos:
        return None
    neg = sorted(set(tokenize_str(negative, analyzer)))
    return Boosting(Term(pos), Term(neg) if neg else None, negative_boost)


def boosting_topk(
    docs: DataFrame,
    positive: str,
    negative: str,
    k: int = 10,
    *,
    negative_boost: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """``boosting`` query → (doc_id, score): hits of the ``positive``
    match query, DEMOTED (score × ``negative_boost``) when they also
    match the ``negative`` query — Lucene's soft must_not (the hard one
    is the bool's must_not; this keeps the doc but sinks it).

    Membership comes from the positive query alone (a doc matching only
    the negative query is no hit); the negative query is presence-only.
    """
    tree = _boosting_tree(positive, negative, negative_boost, analyzer)
    return evaluate_exhaustive(
        docs, tree, k, id_col=id_col, text_col=text_col, k1=k1, b=b,
        analyzer=analyzer,
    )


def boosting_topk_sql(
    positive: str,
    negative: str,
    k: int = 10,
    *,
    negative_boost: float = 0.5,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    from sparksearch.analyze import duckdb_tokens_expr, tokenize_str

    cte = bm25_scores_cte(
        positive, table=table, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    )
    nterms = sorted(set(tokenize_str(negative, analyzer)))
    toks = duckdb_tokens_expr(text_col, analyzer)
    if nterms:
        lits = ", ".join("'" + t.replace("'", "''") + "'" for t in nterms)
        neg = (
            f"neg AS (SELECT {id_col} AS doc_id FROM {table} "
            f"WHERE {text_col} IS NOT NULL "
            f"AND len(list_intersect({toks}, [{lits}])) > 0)"
        )
    else:
        neg = f"neg AS (SELECT {id_col} AS doc_id FROM {table} WHERE FALSE)"
    return f"""
WITH {cte},
{neg}
SELECT s.doc_id,
       round(CASE WHEN n.doc_id IS NOT NULL
                  THEN s.raw * {negative_boost} ELSE s.raw END,
             {SCORE_ROUND}) AS score
FROM scored s LEFT JOIN neg n ON n.doc_id = s.doc_id
ORDER BY score DESC, s.doc_id ASC LIMIT {k}
""".strip()


def boosting_search(index, positive: str, negative: str, k: int = 10,
                    *, negative_boost: float = 0.5) -> DataFrame:
    """Engine path: positive = full pruned-postings scoring
    (`score_all`), negative = pruned-postings id set; demote and page.
    Rank-identical to :func:`boosting_topk` (pytest-pinned); the corpus
    is never read."""
    tree = _boosting_tree(
        positive, negative, negative_boost, index.meta.get("analyzer", "ascii")
    )
    return evaluate_index(index, tree, k)


# -- constant_score ------------------------------------------------------------
def _cs_validate(d: dict) -> None:
    """One structured range/term/terms/exists clause (bool's rules —
    a match_phrase dict is NOT a filter here; phrase scoring has its
    own operators)."""
    if (
        not isinstance(d, dict)
        or len(d) != 1
        or next(iter(d)) not in ("range", "term", "terms", "exists")
    ):
        raise ValueError(f"unsupported constant_score filter {d!r}")
    body = next(iter(d.values()))
    if "field" not in body:
        raise ValueError(f"structured clause needs 'field': {d!r}")
    if next(iter(d)) == "terms" and not body.get("values"):
        raise ValueError(f"terms clause needs non-empty 'values': {d!r}")


def _cs_tree(filter, boost: float, analyzer: str):
    """The filter → ConstantScore: a string is a match query in filter
    context (OR semantics over its analyzed terms); a dict is one
    structured range/term/terms/exists clause (null field never
    matches)."""
    if isinstance(filter, str):
        terms = sorted(set(tokenize_str(filter, analyzer)))
        return ConstantScore(Term(terms), boost) if terms else None
    _cs_validate(filter)
    return ConstantScore(Field(filter), boost)


def constant_score_topk(
    docs: DataFrame,
    filter,
    k: int = 10,
    *,
    boost: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``constant_score`` query: every doc matching ``filter`` scores
    exactly ``boost`` (Lucene's ConstantScoreQuery — the filter runs in
    filter context, no BM25).  ``filter`` is a match-query string (OR
    semantics) or one structured range/term/terms/exists clause.
    Uniform scores make relevance order meaningless, so hits page in
    doc_id order (the deterministic tiebreak) — the same pin as the
    prefix/wildcard ConstantScore rewrites.  Output (doc_id, score)."""
    return evaluate_exhaustive(
        docs, _cs_tree(filter, boost, analyzer), k, id_col=id_col,
        text_col=text_col, analyzer=analyzer,
    )


def constant_score_sql(
    filter,
    k: int = 10,
    *,
    boost: float = 1.0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`constant_score_topk`."""
    if isinstance(filter, str):
        from sparksearch.analyze import duckdb_tokens_expr, tokenize_str

        terms = sorted(set(tokenize_str(filter, analyzer)))
        if not terms:
            gate = "FALSE"
        else:
            lits = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
            toks = duckdb_tokens_expr(text_col, analyzer)
            gate = f"len(list_intersect({toks}, [{lits}])) > 0"
    else:
        from sparksearch.query.boolq import _pred_sql

        _cs_validate(filter)
        gate = _pred_sql(filter)
    return (
        f"SELECT CAST({id_col} AS BIGINT) AS doc_id, "
        f"round({float(boost)!r}, {SCORE_ROUND}) AS score "
        f"FROM {table} WHERE {text_col} IS NOT NULL AND {gate} "
        f"ORDER BY doc_id LIMIT {k}"
    )


def constant_score_search(
    index,
    filter,
    k: int = 10,
    *,
    boost: float = 1.0,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Engine path: a string filter gates on the pruned-postings match
    set (corpus never read); a structured clause gates on a pruned
    (id + field) projection of ``docs`` semi-joined to the index's
    doclens doc list (only INDEXED docs can be hits).  Row-identical to
    :func:`constant_score_topk` (pytest-pinned)."""
    tree = _cs_tree(filter, boost, index.meta.get("analyzer", "ascii"))
    return evaluate_index(index, tree, k, docs=docs, id_col=id_col)


# ---------------------------------------------------------------------------
# script_score: replace the query score with a pinned expression
# ---------------------------------------------------------------------------
#
# OpenSearch's ``script_score`` wraps a query and recomputes each hit's
# score with a Painless script over ``_score`` and doc fields.  There
# is no Painless here; the pinned analog is a SQL-syntax arithmetic
# expression over ``_score`` (the wrapped query's raw BM25) and the
# source table's numeric columns, evaluated by Spark ``F.expr`` and by
# the DuckDB twin VERBATIM — one expression string, two engines, zero
# drift (the same shared-compilation discipline as ``query_string``).
# The validator admits identifiers, numeric literals, arithmetic,
# parentheses and a fixed function allow-list; anything else is
# rejected, which keeps the twin-SQL injection-safe.

_SCRIPT_FUNCS = frozenset(
    {"ln", "log10", "sqrt", "abs", "coalesce", "least", "greatest", "pow"}
)
_SCRIPT_TOKEN = __import__("re").compile(
    r"\s+|(?P<num>\d+(\.\d+)?)|(?P<ident>[A-Za-z_][A-Za-z0-9_]*)"
    r"|(?P<op>[-+*/(),])"
)


def check_script(script: str, columns: list[str]) -> None:
    """Validate the pinned script subset; raise ValueError otherwise."""
    allowed = set(columns) | {"_score"}
    pos = 0
    for m in _SCRIPT_TOKEN.finditer(script):
        if m.start() != pos:
            raise ValueError(f"script_score: cannot lex at {script[pos:]!r}")
        pos = m.end()
        ident = m.group("ident")
        if ident and ident not in allowed and ident not in _SCRIPT_FUNCS:
            raise ValueError(
                f"script_score: identifier {ident!r} is not a column, "
                f"_score, or an allowed function"
            )
    if pos != len(script):
        raise ValueError(f"script_score: cannot lex at {script[pos:]!r}")


def script_score_topk(
    docs: DataFrame,
    query_text: str,
    script: str,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Top-k by ``script`` over the match set of ``query_text``.

    ``script`` sees ``_score`` (raw BM25 of the wrapped match query,
    OR semantics) and any column of ``docs``; hits keep OpenSearch's
    rule that the match set is the WRAPPED query's (a script cannot
    resurrect a non-matching doc).  Ties doc_id asc, 4 dp."""
    field_cols = [c for c in docs.columns if c != text_col]
    check_script(script, field_cols)
    scored = bm25_scores_df(
        docs, query_text, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    ).withColumnRenamed("raw", "_score")
    fields = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        *[F.col(c) for c in field_cols if c != id_col],
    )
    rescored = scored.join(fields, "doc_id").withColumn(
        "_new", F.expr(script)
    )
    return (
        rescored.orderBy(F.desc("_new"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("_new", SCORE_ROUND).alias("score"))
    )


def script_score_sql(
    query_text: str,
    script: str,
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin: the SAME script text over the same match set."""
    cte = bm25_scores_cte(
        query_text, table=table, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    )
    # twin-side validation needs the table's columns at render time;
    # the expression subset itself is engine-portable by construction
    return f"""
WITH {cte},
rescored AS (
  SELECT s.doc_id, ({script.replace('_score', 's.raw')}) AS newscore
  FROM scored s JOIN {table} t ON s.doc_id = t.{id_col}
)
SELECT doc_id, round(newscore, {SCORE_ROUND}) AS score
FROM rescored ORDER BY newscore DESC, doc_id ASC LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# collapse + inner_hits: top-n hits per collapsed group
# ---------------------------------------------------------------------------


def collapse_inner_hits(
    docs: DataFrame,
    query_text: str,
    collapse_field: str,
    k: int = 10,
    inner_size: int = 3,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """``collapse`` with ``inner_hits``: top-``k`` groups by their
    leader's BM25, each expanded to its top-``inner_size`` hits →
    (key, doc_id, hit_rank, score), ordered (leader raw desc, leader
    doc_id asc, hit_rank asc).

    Two windows over the ONE scored frame (per-group hit_rank, then
    group leaders), both partitioned by the collapse key — the
    partitionBy keeps the sort distributed (no single-partition
    window); only the ≤ k·inner_size result leaves the executors."""
    from pyspark.sql import Window

    scored = bm25_scores_df(
        docs, query_text, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    )
    keyed = scored.join(
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.col(collapse_field).alias("key"),
        ),
        "doc_id",
    ).filter(F.col("key").isNotNull())
    wg = Window.partitionBy("key").orderBy(F.desc("raw"), F.asc("doc_id"))
    ranked = keyed.withColumn("hit_rank", F.row_number().over(wg)).filter(
        F.col("hit_rank") <= inner_size
    )
    leaders = (
        ranked.filter(F.col("hit_rank") == 1)
        .select(
            "key",
            F.col("raw").alias("_lraw"),
            F.col("doc_id").alias("_ldoc"),
        )
        .orderBy(F.desc("_lraw"), F.asc("_ldoc"))
        .limit(k)
    )
    return (
        ranked.join(F.broadcast(leaders), "key")
        .orderBy(F.desc("_lraw"), F.asc("_ldoc"), F.asc("hit_rank"))
        .select(
            "key", "doc_id",
            F.col("hit_rank").cast("int"),
            F.round("raw", SCORE_ROUND).alias("score"),
        )
    )


def collapse_inner_hits_sql(
    query_text: str,
    collapse_field: str,
    k: int = 10,
    inner_size: int = 3,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`collapse_inner_hits`."""
    cte = bm25_scores_cte(
        query_text, table=table, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    )
    return f"""
WITH {cte},
keyed AS (
  SELECT s.doc_id, s.raw, t.{collapse_field} AS key
  FROM scored s JOIN {table} t ON s.doc_id = t.{id_col}
  WHERE t.{collapse_field} IS NOT NULL
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY key
                               ORDER BY raw DESC, doc_id ASC) AS hit_rank
  FROM keyed
),
leaders AS (
  SELECT key, raw AS _lraw, doc_id AS _ldoc
  FROM ranked WHERE hit_rank = 1
  ORDER BY raw DESC, doc_id ASC LIMIT {k}
)
SELECT r.key, r.doc_id, CAST(r.hit_rank AS INT) AS hit_rank,
       round(r.raw, {SCORE_ROUND}) AS score
FROM ranked r JOIN leaders l USING (key)
WHERE r.hit_rank <= {inner_size}
ORDER BY l._lraw DESC, l._ldoc ASC, r.hit_rank ASC
""".strip()

"""``bool`` query: must / should / must_not / filter composition.

The compound query every OpenSearch request body ultimately nests in
(the reference's own bodies are single ``match``/``multi_match``
clauses — the degenerate bool with one must).  Clause model pinned
here: every clause is a MATCH clause (analyzed, OR-semantics over its
terms, Lucene-BM25-scored).  Lucene's combination rules, mirrored by
the DuckDB twin:

* ``must``     — every clause must match; scores ADD.
* ``filter``   — every clause must match; contributes NO score.
* ``must_not`` — no clause may match (non-scoring exclusion).
* ``should``   — optional; each matched clause ADDS its score.  When
  the bool has no ``must`` and no ``filter``, at least
  ``minimum_should_match`` (default 1) should-clauses must match —
  with must/filter present the default drops to 0 (Lucene's rule).
* score(d) = Σ scores of matched must+should clauses; 4 dp round on
  output; ties doc_id asc.

A term may appear in several clauses; each clause scores it
independently (Lucene builds one scorer per clause).

``filter`` and ``must_not`` additionally accept STRUCTURED clauses —
the term-level queries OpenSearch puts in filter context — as dicts in
(a subset of) the request-body shape::

    {"range":  {"field": "n_chars", "gte": 100, "lt": 500}}
    {"term":   {"field": "source", "value": "web"}}
    {"terms":  {"field": "source", "values": ["web", "wiki"]}}
    {"exists": {"field": "lang"}}

``terms`` matches any of its values (OpenSearch's multi-value term
filter); the ``ids`` query is its doc_id special case
(``{"terms": {"field": "doc_id", "values": [...]}}``).

Structured semantics pinned to OpenSearch's: a missing/null field never
matches a range/term/exists clause (so a ``must_not`` on it keeps the
doc, a ``filter`` on it drops the doc), and filter context does NOT
touch scoring — BM25 statistics (N, avgdl, df) stay corpus-wide, the
structured gate is applied to the scored candidates (Lucene scores
with index-wide stats regardless of filters).  Structured clauses are
plain column predicates — Catalyst pushes the gate's scan down to
parquet (PushedFilters).  They are rejected in ``must``/``should``
(scoring clauses stay match-only here).

A bool with ONLY structured clauses is OpenSearch's filtered match_all:
every passing doc at constant score 0.0, doc_id order.

Both executors evaluate the request as one query tree
(`query/qtree.py`): must/should/must_not/filter of Term, Phrase and
Field leaves.  The exhaustive path (`bool_topk`) tokenizes once, sums
every scoring clause's BM25 in one conditional-sum groupBy over the
clause terms' tf rows, and reads presence-only clauses straight off
the token array.  The indexed path (`bool_search`) runs each scoring
clause through the exhaustive kernel over its pruned posting blocks
(conjunctions need FULL match sets, not a top-k leg), decodes
presence-only clauses to id sets, and pivots them in one
groupBy(doc_id); it never touches the corpus text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str
from sparksearch.query.bm25 import SCORE_ROUND
from sparksearch.query.qtree import (
    Bool,
    Field,
    Phrase,
    Term,
    evaluate_exhaustive,
    evaluate_index,
)

KINDS = ("must", "should", "must_not", "filter")


def _clauses(
    must, should, must_not, filter, analyzer: str = "ascii"
) -> list[tuple[int, str, list[str]]]:
    """→ [(clause_id, kind, terms)] with analysis applied; empty-analysis
    clauses are dropped (Lucene: a clause with no tokens is a no-op).
    Structured (dict) clauses are handled by :func:`_structured`."""
    out, cid = [], 0
    for kind, lst in zip(KINDS, (must, should, must_not, filter)):
        for q in lst or []:
            if isinstance(q, dict):
                if "match_phrase" in q:
                    continue  # phrase clauses: _phrase_clauses
                if kind in ("must", "should"):
                    raise ValueError(
                        "structured clauses are filter-context only "
                        "(use filter= or must_not=)"
                    )
                continue
            terms = sorted(
                set(tokenize_str(q[0] if isinstance(q, tuple) else q, analyzer))
            )
            if terms:
                out.append((cid, kind, terms))
                cid += 1
    return out


def _phrase_clauses(
    must, should, must_not, filter, analyzer: str, first_cid: int
) -> list[tuple[int, str, list[str], int]]:
    """``{"match_phrase": "..."}`` clauses in ANY slot → [(clause_id,
    kind, ordered terms, slop)].  Scoring slots (must/should) score the
    clause with the phrase BM25 (tf = start positions, df = phrase docs
    — exactly ``match_phrase``'s semantics); must_not/filter are
    presence-only.  Clause ids continue after the term clauses'.
    Empty-analysis phrases are no-ops (Lucene's rule).  The body may
    also be the request-shape dict ``{"query": "...", "slop": n}``
    (slop per the pinned ordered-window spec in ``query.phrase``)."""
    out, cid = [], first_cid
    for kind, lst in zip(KINDS, (must, should, must_not, filter)):
        for q in lst or []:
            if isinstance(q, dict) and "match_phrase" in q:
                body = q["match_phrase"]
                if isinstance(body, dict):
                    text, slop = body["query"], int(body.get("slop", 0))
                else:
                    text, slop = body, 0
                terms = tokenize_str(text, analyzer)
                if terms:
                    out.append((cid, kind, terms, slop))
                    cid += 1
    return out


_RANGE_OPS = (("gte", ">="), ("gt", ">"), ("lte", "<="), ("lt", "<"))


def _structured(must_not, filter) -> tuple[list[dict], list[dict]]:
    """→ (filter dicts, must_not dicts), validated.  ``match_phrase``
    dicts are scoring/presence clauses, not field predicates — they are
    handled by :func:`_phrase_clauses` and skipped here."""
    out = []
    for lst in (filter, must_not):
        ds = [
            q for q in (lst or [])
            if isinstance(q, dict) and "match_phrase" not in q
        ]
        for d in ds:
            if len(d) != 1 or next(iter(d)) not in (
                "range", "term", "terms", "exists"
            ):
                raise ValueError(f"unsupported structured clause {d!r}")
            kind, body = next(iter(d.items()))
            if "field" not in body:
                raise ValueError(f"structured clause needs 'field': {d!r}")
            if kind == "terms" and not body.get("values"):
                raise ValueError(f"terms clause needs non-empty 'values': {d!r}")
        out.append(ds)
    return out[0], out[1]


def _sql_lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    return repr(v)


def _pred_sql(d: dict) -> str:
    kind, body = next(iter(d.items()))
    f = body["field"]
    if kind == "exists":
        return f"({f} IS NOT NULL)"
    if kind == "term":
        inner = f"{f} = {_sql_lit(body['value'])}"
    elif kind == "terms":
        inner = f"{f} IN ({', '.join(_sql_lit(v) for v in body['values'])})"
    else:
        parts = [
            f"{f} {op} {_sql_lit(body[key])}"
            for key, op in _RANGE_OPS
            if key in body
        ]
        inner = " AND ".join(parts) if parts else "TRUE"
    return f"COALESCE(({inner}) AND {f} IS NOT NULL, FALSE)"


def _default_msm(clauses, minimum_should_match: int | None,
                 has_structured_filter: bool = False) -> int:
    if minimum_should_match is not None:
        return int(minimum_should_match)
    has_req = has_structured_filter or any(
        c[1] in ("must", "filter") for c in clauses
    )
    return 0 if has_req else 1


def _bool_tree(must, should, must_not, filter, minimum_should_match,
               analyzer: str):
    """The bool request → a :class:`qtree.Bool` (None: no clause at all).

    The match and phrase clauses form the inner bool.  A hit must match
    one of its must/should/filter clauses (Lucene: a bool without a
    required clause needs one should), so with no must and no filter
    clause at least one should must match whatever msm says.  The
    structured clauses then gate that inner bool; on their own they
    are the filtered match_all."""
    sf, sn = _structured(must_not, filter)
    clauses = _clauses(must, should, must_not, filter, analyzer)
    pclauses = _phrase_clauses(
        must, should, must_not, filter, analyzer, len(clauses)
    )
    gates = dict(filter=[Field(d) for d in sf], must_not=[Field(d) for d in sn])
    if not (clauses or pclauses):
        return Bool(**gates) if sf or sn else None
    slots = {kind: [] for kind in KINDS}
    for _, kind, terms in clauses:
        slots[kind].append(Term(terms))
    for _, kind, terms, slop in pclauses:
        slots[kind].append(Phrase(terms, slop))
    msm = _default_msm(clauses + pclauses, minimum_should_match)
    if not slots["must"] and not slots["filter"]:
        msm = max(msm, 1)
    inner = Bool(msm=msm, **slots)
    return Bool(must=[inner], **gates) if sf or sn else inner


def bool_topk(
    docs: DataFrame,
    *,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    filter: list[str] | None = None,
    k: int = 10,
    minimum_should_match: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive bool query → (doc_id, score) top-k."""
    tree = _bool_tree(
        must, should, must_not, filter, minimum_should_match, analyzer
    )
    return evaluate_exhaustive(
        docs, tree, k, id_col=id_col, text_col=text_col, k1=k1, b=b,
        analyzer=analyzer,
    )


def bool_topk_sql(
    *,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    filter: list[str] | None = None,
    k: int = 10,
    minimum_should_match: int | None = None,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`bool_topk` (same combination rules,
    including ``match_phrase`` clauses in any slot)."""
    from sparksearch.query.phrase import _phrase_tf_sql

    sf, sn = _structured(must_not, filter)
    gates = [_pred_sql(d) for d in sf] + [f"NOT {_pred_sql(d)}" for d in sn]
    gate = " AND ".join(gates) if gates else None
    clauses = _clauses(must, should, must_not, filter, analyzer)
    pclauses = _phrase_clauses(
        must, should, must_not, filter, analyzer, len(clauses)
    )
    if not clauses and not pclauses:
        if gate is None:
            return (
                f"SELECT CAST({id_col} AS BIGINT) AS doc_id, 0.0 AS score "
                f"FROM {table} WHERE FALSE"
            )
        return (
            f"SELECT CAST({id_col} AS BIGINT) AS doc_id, 0.0 AS score "
            f"FROM {table} WHERE {text_col} IS NOT NULL AND {gate} "
            f"ORDER BY doc_id LIMIT {k}"
        )
    pass_where = (
        f"AND doc_id IN (SELECT {id_col} FROM {table} WHERE {gate})"
        if gate is not None
        else ""
    )
    msm = _default_msm(clauses + pclauses, minimum_should_match, bool(sf))
    n_must = sum(1 for c in clauses + pclauses if c[1] == "must")
    n_filt = sum(1 for c in clauses + pclauses if c[1] == "filter")
    toks = duckdb_tokens_expr(text_col, analyzer)
    bm25 = (
        "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
        f" * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))"
    )
    ctes = [
        f"""base AS (
  SELECT {id_col} AS doc_id, {toks} AS tl FROM {table}
  WHERE {text_col} IS NOT NULL
)""",
        "g AS (SELECT count(*) AS n_docs, avg(len(tl)) AS avgdl FROM base)",
    ]
    pc_legs = []
    if clauses:
        rows = ", ".join(
            f"({cid}, '{kind}', '" + t.replace("'", "''") + "')"
            for cid, kind, ts in clauses
            for t in ts
        )
        ctes += [
            f"cmap(clause_id, kind, term) AS (VALUES {rows})",
            """tf0 AS (
  SELECT doc_id, len(tl) AS dl, u.t AS term, count(*) AS tf
  FROM base, unnest(tl) AS u(t)
  WHERE u.t IN (SELECT DISTINCT term FROM cmap)
  GROUP BY 1, 2, 3
)""",
            "dfc AS (SELECT term, count(*) AS df FROM tf0 GROUP BY term)",
            f"""tpc AS (
  SELECT doc_id, clause_id, kind, sum({bm25}) AS cscore
  FROM tf0 JOIN dfc USING (term) JOIN cmap USING (term), g
  GROUP BY 1, 2, 3
)""",
        ]
        pc_legs.append("SELECT * FROM tpc")
    for cid, kind, pterms, slop in pclauses:
        ptf = _phrase_tf_sql("tl", pterms, slop)
        ctes.append(
            f"pb{cid} AS (SELECT doc_id, dl, tf FROM (SELECT doc_id, "
            f"len(tl) AS dl, {ptf} AS tf FROM base) WHERE tf > 0)"
        )
        if kind in ("must", "should"):
            ctes.append(f"pd{cid} AS (SELECT count(*) AS df FROM pb{cid})")
            pc_legs.append(
                f"SELECT doc_id, {cid} AS clause_id, '{kind}' AS kind, "
                f"{bm25} AS cscore FROM pb{cid}, pd{cid}, g"
            )
        else:
            pc_legs.append(
                f"SELECT doc_id, {cid} AS clause_id, '{kind}' AS kind, "
                f"0.0 AS cscore FROM pb{cid}"
            )
    ctes.append("pc AS (" + "\nUNION ALL\n".join(pc_legs) + ")")
    ctes.append(f"""agg AS (
  SELECT doc_id,
         sum(CASE WHEN kind = 'must' THEN 1 ELSE 0 END) AS n_must,
         sum(CASE WHEN kind = 'filter' THEN 1 ELSE 0 END) AS n_filt,
         sum(CASE WHEN kind = 'must_not' THEN 1 ELSE 0 END) AS n_not,
         sum(CASE WHEN kind = 'should' THEN 1 ELSE 0 END) AS n_shd,
         sum(CASE WHEN kind IN ('must', 'should') THEN cscore ELSE 0 END) AS raw
  FROM pc GROUP BY doc_id
)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT doc_id, round(raw, {SCORE_ROUND}) AS score
FROM agg
WHERE n_must = {n_must} AND n_filt = {n_filt} AND n_not = 0 AND n_shd >= {msm}
{pass_where}
ORDER BY raw DESC, doc_id ASC LIMIT {k}
""".strip()


def bool_search(
    index,
    *,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    filter: list[str] | None = None,
    k: int = 10,
    minimum_should_match: int | None = None,
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Engine path: the bool's tree over pruned postings
    (:func:`qtree.evaluate_index`) — rank-identical to :func:`bool_topk`
    (pytest-pinned).  Corpus text: never read.  Structured (dict)
    clauses gate on document FIELD values the index does not store, so
    they require ``docs`` — a pruned (id + field columns) scan of the
    source table, the analog of Lucene doc values.  ``match_phrase``
    clauses verify from the positions sidecar (Lucene's own answer —
    text fields index positions), so they require the index to have
    one (``build_positions``).
    """
    tree = _bool_tree(
        must, should, must_not, filter, minimum_should_match,
        index.meta.get("analyzer", "ascii"),
    )
    return evaluate_index(index, tree, k, docs=docs, id_col=id_col)

"""``query_string``: the full Lucene query syntax, compiled to one plan.

The reference reaches OpenSearch through ``_search`` request bodies
(``keyword_search/functions/helper_functions.py:158-163``); the
``query_string`` query is the DSL's power-user entry — the classic
Lucene QueryParser syntax::

    (scan OR filter) AND "table hash"~1 -vector source:src3^2
    ta?le* n_chars:[150 TO 450] +lang:en

Supported syntax (pinned spec, identical in both engines):

* bare terms (analyzed; a token that analyzes to SEVERAL terms becomes
  an OR over them, one that analyzes to nothing is a no-op clause);
* quoted phrases ``"a b"`` with optional slop ``"a b"~2`` (the pinned
  ordered-window slop spec of ``query.phrase``);
* wildcards ``?``/``*`` inside a term → dictionary expansion in
  lexicographic order capped at ``max_expansions``, constant score 1.0
  (Lucene's MultiTermQuery constant_score rewrite);
* ``field:value`` on a metadata column → constant-score 1.0 equality
  (numeric literal when the value looks numeric, else string), and
  ``field:[lo TO hi]`` / ``{lo TO hi}`` numeric ranges (inclusive /
  exclusive bounds; ``*`` = open end).  ``text:term`` scores BM25 like
  a bare term;
* ``AND`` / ``OR`` / ``NOT`` (also ``&&`` ``||`` ``!``), parentheses,
  ``+``required / ``-``prohibited prefixes, ``^n`` boosts on any atom
  or group.

Boolean semantics (the BooleanQuery rules, same as ``query.boolq``):
each parenthesis level is a bool of clauses with occurs MUST / SHOULD /
MUST_NOT.  ``+``/``-``/``NOT`` set a clause's occur directly; an
explicit ``AND`` makes BOTH neighbours MUST (upgrading a neighbour
that was SHOULD only by default), an explicit ``OR`` makes the next
clause SHOULD; a bare clause takes ``default_operator`` ("or" →
SHOULD, "and" → MUST).  A level matches when every MUST matches, no
MUST_NOT matches, and — when it has no MUST — at least one SHOULD
matches; its score is Σ MUST scores + Σ matched SHOULD scores, times
any ``^boost``.  A level with only MUST_NOT clauses matches NOTHING
(Lucene's pure-negative rule).  Output ties doc_id asc, 4 dp rounding.

How it runs: the parse tree becomes one query tree
(`query/qtree.py` — Term, Phrase, MultiTerm and Field leaves under
Bool and Boost nodes), and both executors evaluate that tree.  The
exhaustive path tokenizes once and feeds every term leaf from one
conditional-sum groupBy over the leaves' tf rows; phrase leaves are
array-kernel columns over the same token arrays, wildcard expansion is
a capped dictionary scan.  The engine path feeds each leaf from the
index (pruned postings, the positions sidecar, the lexicon) and pivots
the leaf frames in one groupBy(doc_id).  The DuckDB twin compiles the
parse tree to SQL on its own (:func:`compile_query_string`); no engine
path runs that SQL, so a compiler bug cannot hide in both.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str
from sparksearch.query.bm25 import SCORE_ROUND
from sparksearch.query.phrase import _phrase_tf_sql
from sparksearch.query.qtree import (
    Bool,
    Boost,
    Field,
    MultiTerm,
    Phrase,
    Term,
    evaluate_exhaustive,
    evaluate_index,
)
from sparksearch.query.termq import MAX_EXPANSIONS, wildcard_regex

MUST, SHOULD, MUST_NOT = "must", "should", "must_not"

_FIELD_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_NUM_RE = re.compile(r"^-?\d+(\.\d+)?$")
_WILD_RE = re.compile(r"^[a-z0-9*?]+$")

# scanner: longest-first so field-scoped phrases/ranges (which contain
# spaces) are captured as one token
_SCAN = re.compile(
    r"""\s+
      | (?P<lp>\() | (?P<rp>\))
      | (?P<phrase>(?:[+\-])?(?:[A-Za-z_][A-Za-z0-9_]*:)?"[^"]*"
                   (?:~\d+)?(?:\^\d+(?:\.\d+)?)?)
      | (?P<range>(?:[+\-])?[A-Za-z_][A-Za-z0-9_]*:
                  [\[\{][^\]\}]*[\]\}](?:\^\d+(?:\.\d+)?)?)
      | (?P<atom>[^\s()]+)
    """,
    re.X,
)


class QueryStringError(ValueError):
    pass


def _scan(query: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    for m in _SCAN.finditer(query):
        if m.start() != pos:
            raise QueryStringError(f"cannot lex at {query[pos:]!r}")
        pos = m.end()
        for kind in ("lp", "rp", "phrase", "range", "atom"):
            if m.group(kind) is not None:
                out.append((kind, m.group(kind)))
                break
    if pos != len(query):
        raise QueryStringError(f"cannot lex at {query[pos:]!r}")
    return out


def _split_boost(text: str) -> tuple[str, float | None]:
    m = re.search(r"\^(\d+(?:\.\d+)?)$", text)
    if m:
        return text[: m.start()], float(m.group(1))
    return text, None


def _wrap_boost(node, boost: float | None):
    return node if boost is None else ("boost", node, boost)


def _parse_range_body(body: str, field: str):
    """``[lo TO hi]`` / ``{lo TO hi}`` → frange node (numeric, * = open)."""
    lo_inc, hi_inc = body[0] == "[", body[-1] == "]"
    inner = body[1:-1].strip()
    parts = re.split(r"\s+TO\s+", inner)
    if len(parts) != 2:
        raise QueryStringError(f"bad range body {body!r}")
    def _end(v: str):
        if v == "*":
            return None
        if not _NUM_RE.match(v):
            raise QueryStringError(f"range endpoint {v!r} is not numeric")
        return float(v)
    return ("frange", field, _end(parts[0]), _end(parts[1]), lo_inc, hi_inc)


def _parse_atom_token(
    text: str, analyzer: str, text_col: str
):
    """One scanner token (phrase / range / word-ish atom) → (mod, node).

    Returns ``(mod, None)`` for a clause that analyzed to nothing (a
    Lucene no-op)."""
    mod = None
    if text[:1] in "+-":
        mod, text = (MUST if text[0] == "+" else MUST_NOT), text[1:]
    if text.startswith("!"):
        mod, text = MUST_NOT, text[1:]
    if not text:
        raise QueryStringError("dangling +/-/! operator")

    # field-scoped range
    if ":" in text and text.split(":", 1)[1][:1] in "[{":
        field, body = text.split(":", 1)
        body, boost = _split_boost(body)
        if not _FIELD_RE.match(field):
            raise QueryStringError(f"bad field name {field!r}")
        return mod, _wrap_boost(_parse_range_body(body, field), boost)

    # (field-scoped) quoted phrase
    if '"' in text:
        field = None
        head, rest = text.split('"', 1)
        if head:
            if not head.endswith(":") or not _FIELD_RE.match(head[:-1]):
                raise QueryStringError(f"bad phrase prefix {head!r}")
            field = head[:-1]
        if field is not None and field != text_col:
            raise QueryStringError(
                f"phrases are only supported on the text field, got {field!r}"
            )
        body, tail = rest.rsplit('"', 1)
        slop = 0
        m = re.match(r"^(?:~(\d+))?(?:\^(\d+(?:\.\d+)?))?$", tail)
        if not m:
            raise QueryStringError(f"bad phrase suffix {tail!r}")
        slop = int(m.group(1)) if m.group(1) else 0
        boost = float(m.group(2)) if m.group(2) else None
        terms = tokenize_str(body, analyzer)
        if not terms:
            return mod, None
        return mod, _wrap_boost(("phrase", terms, slop), boost)

    text, boost = _split_boost(text)
    if "~" in text:
        raise QueryStringError("fuzzy '~' is not in the pinned subset")

    # field:value
    if ":" in text:
        field, value = text.split(":", 1)
        if not _FIELD_RE.match(field):
            raise QueryStringError(f"bad field name {field!r}")
        if not value:
            raise QueryStringError(f"empty value for field {field!r}")
        if field == text_col:
            toks = tokenize_str(value, analyzer)
            if "*" in value or "?" in value:
                if not _WILD_RE.match(value.lower()):
                    raise QueryStringError(f"bad wildcard {value!r}")
                return mod, _wrap_boost(("wild", value.lower()), boost)
            if not toks:
                return mod, None
            return mod, _wrap_boost(("term", toks), boost)
        if "'" in value:
            raise QueryStringError("quotes are not allowed in field values")
        return mod, _wrap_boost(
            ("fterm", field, value, bool(_NUM_RE.match(value))), boost
        )

    # wildcard term
    if "*" in text or "?" in text:
        if not _WILD_RE.match(text.lower()):
            raise QueryStringError(f"bad wildcard {text!r}")
        return mod, _wrap_boost(("wild", text.lower()), boost)

    # plain term (analysis may fan out or drop it)
    toks = tokenize_str(text, analyzer)
    if not toks:
        return mod, None
    return mod, _wrap_boost(("term", toks), boost)


def parse_query_string(
    query: str,
    *,
    default_operator: str = "or",
    analyzer: str = "ascii",
    text_col: str = "text",
):
    """Lucene query syntax → bool AST (see module docstring for the
    pinned grammar and occur rules)."""
    if default_operator not in ("or", "and"):
        raise QueryStringError("default_operator must be 'or' or 'and'")
    toks = _scan(query)
    pos = 0

    def parse_level(depth: int):
        nonlocal pos
        clauses: list[tuple[str, object]] = []  # (occur, node)
        pending_conj = None  # None | 'and' | 'or'
        default_occur = MUST if default_operator == "and" else SHOULD
        while pos < len(toks):
            kind, text = toks[pos]
            if kind == "rp":
                if depth == 0:
                    raise QueryStringError("unbalanced ')'")
                break
            if kind == "atom" and text in ("AND", "&&"):
                if not clauses:
                    raise QueryStringError("AND with no left operand")
                pending_conj = "and"
                pos += 1
                continue
            if kind == "atom" and text in ("OR", "||"):
                if not clauses:
                    raise QueryStringError("OR with no left operand")
                pending_conj = "or"
                pos += 1
                continue
            mod = None
            if kind == "atom" and text in ("NOT", "!"):
                mod = MUST_NOT
                pos += 1
                if pos >= len(toks):
                    raise QueryStringError("dangling NOT")
                kind, text = toks[pos]
            if kind == "lp":
                pos += 1
                node = parse_level(depth + 1)
                if pos >= len(toks) or toks[pos][0] != "rp":
                    raise QueryStringError("unbalanced '('")
                pos += 1
                # boost on a group: rendered as an atom token '^n'
                if pos < len(toks) and toks[pos][0] == "atom" and re.match(
                    r"^\^\d+(\.\d+)?$", toks[pos][1]
                ):
                    node = ("boost", node, float(toks[pos][1][1:]))
                    pos += 1
            elif kind == "rp":
                raise QueryStringError("unexpected ')'")
            else:
                amod, node = _parse_atom_token(text, analyzer, text_col)
                if amod is not None:
                    mod = amod if mod is None else mod
                pos += 1
                if node is None:  # analyzed away → no-op clause
                    pending_conj = None
                    continue
            if mod is not None:
                occur = mod
                # an explicit AND still upgrades its LEFT operand even
                # when the right one carries its own +/-/NOT modifier
                # (``a AND NOT b`` pins a to MUST)
                if pending_conj == "and" and clauses and clauses[-1][0] == SHOULD:
                    clauses[-1] = (MUST, clauses[-1][1])
            elif pending_conj == "and":
                occur = MUST
                # upgrade the previous clause if it was SHOULD by default
                if clauses and clauses[-1][0] == SHOULD:
                    clauses[-1] = (MUST, clauses[-1][1])
            elif pending_conj == "or":
                occur = SHOULD
            else:
                occur = default_occur
            clauses.append((occur, node))
            pending_conj = None
        if not clauses:
            raise QueryStringError("empty query level")
        return ("bool", clauses)

    ast = parse_level(0)
    if pos != len(toks):
        raise QueryStringError("unbalanced ')'")
    return ast


# ---------------------------------------------------------------------------
# the DuckDB twin's compiler: AST → SQL matched/score expressions
# ---------------------------------------------------------------------------


class _Leaves:
    """Leaf registry: assigns column ids during one AST walk."""

    def __init__(self):
        self.terms: list[list[str]] = []     # ts_i / tm via IS NOT NULL
        self.phrases: list[tuple[list[str], int]] = []  # ptf_j / ps_j
        self.wilds: list[str] = []           # wm_w
        self.fields: list[str] = []          # metadata columns referenced

    def union_terms(self) -> list[str]:
        return sorted({t for ts in self.terms for t in ts})


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _collect(ast, lv: _Leaves):
    kind = ast[0]
    if kind == "bool":
        for _, child in ast[1]:
            _collect(child, lv)
    elif kind == "boost":
        _collect(ast[1], lv)
    elif kind == "term":
        lv.terms.append(ast[1])
    elif kind == "phrase":
        lv.phrases.append((ast[1], ast[2]))
    elif kind == "wild":
        lv.wilds.append(ast[1])
    elif kind in ("fterm", "frange"):
        lv.fields.append(ast[1])


def _emit(ast, lv: _Leaves, counters: dict) -> tuple[str, str]:
    """→ (matched_sql, score_sql) over the twin's evaluation frame."""
    kind = ast[0]
    if kind == "term":
        i = counters["term"]
        counters["term"] += 1
        return f"(ts_{i} IS NOT NULL)", f"coalesce(ts_{i}, 0.0)"
    if kind == "phrase":
        j = counters["phrase"]
        counters["phrase"] += 1
        return f"(ptf_{j} > 0)", f"ps_{j}"
    if kind == "wild":
        w = counters["wild"]
        counters["wild"] += 1
        return f"wm_{w}", f"(CASE WHEN wm_{w} THEN 1.0 ELSE 0.0 END)"
    if kind == "fterm":
        _, field, value, is_num = ast
        lit = value if is_num else _sq(value)
        pred = f"({field} IS NOT NULL AND {field} = {lit})"
        return pred, f"(CASE WHEN {pred} THEN 1.0 ELSE 0.0 END)"
    if kind == "frange":
        _, field, lo, hi, lo_inc, hi_inc = ast
        parts = [f"{field} IS NOT NULL"]
        if lo is not None:
            parts.append(f"{field} >{'=' if lo_inc else ''} {lo}")
        if hi is not None:
            parts.append(f"{field} <{'=' if hi_inc else ''} {hi}")
        pred = "(" + " AND ".join(parts) + ")"
        return pred, f"(CASE WHEN {pred} THEN 1.0 ELSE 0.0 END)"
    if kind == "boost":
        m, s = _emit(ast[1], lv, counters)
        return m, f"({s} * {ast[2]})"
    if kind == "bool":
        groups = {MUST: [], SHOULD: [], MUST_NOT: []}
        for occur, child in ast[1]:
            groups[occur].append(_emit(child, lv, counters))
        musts, shoulds, nots = groups[MUST], groups[SHOULD], groups[MUST_NOT]
        if not musts and not shoulds:
            return "FALSE", "0.0"  # pure-negative level matches nothing
        m_parts = [m for m, _ in musts] + [f"(NOT {m})" for m, _ in nots]
        if not musts:  # minimum_should_match = 1
            m_parts.append("(" + " OR ".join(m for m, _ in shoulds) + ")")
        matched = "(" + " AND ".join(m_parts) + ")" if m_parts else "TRUE"
        s_parts = [s for _, s in musts] + [
            f"(CASE WHEN {m} THEN {s} ELSE 0.0 END)" for m, s in shoulds
        ]
        score = "(" + " + ".join(s_parts) + ")" if s_parts else "0.0"
        return matched, score
    raise QueryStringError(f"unknown AST node {kind!r}")


def compile_query_string(
    query: str,
    *,
    default_operator: str = "or",
    analyzer: str = "ascii",
    text_col: str = "text",
):
    """→ (leaves, matched_sql, score_sql) for :func:`query_string_sql`."""
    ast = parse_query_string(
        query, default_operator=default_operator, analyzer=analyzer,
        text_col=text_col,
    )
    lv = _Leaves()
    _collect(ast, lv)
    matched, score = _emit(ast, lv, {"term": 0, "phrase": 0, "wild": 0})
    return lv, matched, score


# ---------------------------------------------------------------------------
# Spark executors: the parse tree as one query tree
# ---------------------------------------------------------------------------


def _tree(ast, max_expansions: int):
    """Parse tree → :mod:`qtree` nodes."""
    kind = ast[0]
    if kind == "bool":
        slots = {MUST: [], SHOULD: [], MUST_NOT: []}
        for occur, child in ast[1]:
            slots[occur].append(_tree(child, max_expansions))
        # a level with no MUST needs one SHOULD (pure-negative: nothing)
        return Bool(msm=0 if slots[MUST] else 1, **slots)
    if kind == "boost":
        return Boost(_tree(ast[1], max_expansions), ast[2])
    if kind == "term":
        return Term(ast[1])
    if kind == "phrase":
        return Phrase(ast[1], ast[2])
    if kind == "wild":
        return MultiTerm("wildcard", ast[1], max_expansions)
    if kind == "fterm":
        _, fld, value, is_num = ast
        return Field({"term": {
            "field": fld,
            "value": (float(value) if "." in value else int(value))
            if is_num else value,
        }})
    if kind == "frange":
        _, fld, lo, hi, lo_inc, hi_inc = ast
        body = {"field": fld}
        if lo is not None:
            body["gte" if lo_inc else "gt"] = lo
        if hi is not None:
            body["lte" if hi_inc else "lt"] = hi
        return Field({"range": body})
    raise QueryStringError(f"unknown AST node {kind!r}")


def query_string_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    *,
    default_operator: str = "or",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Exhaustive query_string → (doc_id, score), ties doc_id asc."""
    ast = parse_query_string(
        query, default_operator=default_operator, analyzer=analyzer,
        text_col=text_col,
    )
    return evaluate_exhaustive(
        docs, _tree(ast, max_expansions), k, id_col=id_col,
        text_col=text_col, k1=k1, b=b, analyzer=analyzer,
    )


# ---------------------------------------------------------------------------
# DuckDB twin
# ---------------------------------------------------------------------------


def query_string_sql(
    query: str,
    k: int = 10,
    *,
    default_operator: str = "or",
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
    max_expansions: int = MAX_EXPANSIONS,
) -> str:
    """DuckDB twin: the parse tree compiled to SQL matched/score
    expressions over a per-doc evaluation frame."""
    lv, matched_sql, score_sql = compile_query_string(
        query, default_operator=default_operator, analyzer=analyzer,
        text_col=text_col,
    )
    toks = duckdb_tokens_expr(text_col, analyzer)
    meta_cols = sorted(set(lv.fields))
    meta_sel = "".join(f", {c}" for c in meta_cols)

    ctes = [
        f"base AS (SELECT {id_col} AS doc_id, {toks} AS toks{meta_sel} "
        f"FROM {table} WHERE {text_col} IS NOT NULL)",
        "wdl AS (SELECT *, len(toks) AS dl FROM base)",
        "gstats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl "
        "FROM wdl)",
    ]

    frame_cols = [f"wdl.doc_id", "wdl.dl"] + [f"wdl.{c}" for c in meta_cols]
    joins = ["wdl"]

    union_terms = lv.union_terms()
    if union_terms:
        term_list = ", ".join(_sq(t) for t in union_terms)
        leaf_sums = ", ".join(
            "sum(CASE WHEN term IN ("
            + ", ".join(_sq(t) for t in ts)
            + f") THEN part END) AS ts_{i}"
            for i, ts in enumerate(lv.terms)
        )
        ctes += [
            "flat AS (SELECT doc_id, dl, unnest(toks) AS term FROM wdl)",
            f"tf AS (SELECT doc_id, dl, term, count(*)::BIGINT AS tf "
            f"FROM flat WHERE term IN ({term_list}) "
            f"GROUP BY doc_id, dl, term)",
            "dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf "
            "GROUP BY term)",
            f"parts AS (SELECT tf.doc_id, tf.term, "
            f"ln(1.0 + (gstats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)) "
            f"* tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / "
            f"gstats.avgdl)) AS part "
            f"FROM tf JOIN dfs USING (term) CROSS JOIN gstats)",
            f"leafagg AS (SELECT doc_id, {leaf_sums} FROM parts "
            f"GROUP BY doc_id)",
        ]
        frame_cols += [f"leafagg.ts_{i}" for i in range(len(lv.terms))]
        joins.append("LEFT JOIN leafagg ON leafagg.doc_id = wdl.doc_id")

    for j, (terms, slop) in enumerate(lv.phrases):
        frame_cols.append(
            f"({_phrase_tf_sql('wdl.toks', terms, slop)}) AS ptf_{j}"
        )
    for w, pattern in enumerate(lv.wilds):
        rx = wildcard_regex(pattern).replace("'", "''")
        ctes.append(
            f"exp_{w} AS (SELECT coalesce(list(term), []) AS ts FROM ("
            f"SELECT DISTINCT u.t AS term FROM wdl, unnest(toks) AS u(t)) "
            f"WHERE regexp_matches(term, '{rx}') "
            f"ORDER BY term LIMIT {max_expansions})"
        )
        # the exp CTE collapses ordered expansions into ONE list row
        ctes[-1] = (
            f"exp_{w} AS (SELECT coalesce(list(term), []) AS ts FROM ("
            f"SELECT term FROM ("
            f"SELECT DISTINCT u.t AS term FROM wdl, unnest(toks) AS u(t)) "
            f"WHERE regexp_matches(term, '{rx}') "
            f"ORDER BY term LIMIT {max_expansions}))"
        )
        frame_cols.append(
            f"len(list_intersect(wdl.toks, exp_{w}.ts)) > 0 AS wm_{w}"
        )
        joins.append(f"CROSS JOIN exp_{w}")

    ctes.append(
        "f0 AS (SELECT " + ", ".join(frame_cols) + " FROM " +
        " ".join(joins) + ")"
    )
    if lv.phrases:
        pdfs = ", ".join(
            f"count(CASE WHEN ptf_{j} > 0 THEN 1 END)::DOUBLE AS pdf_{j}"
            for j in range(len(lv.phrases))
        )
        ctes.append(f"pstats AS (SELECT {pdfs} FROM f0)")
        frame_src = "f0 CROSS JOIN pstats CROSS JOIN gstats"
    else:
        frame_src = "f0 CROSS JOIN gstats"
    ps_cols = "".join(
        f", CASE WHEN ptf_{j} > 0 THEN "
        f"ln(1.0 + (n_docs - pdf_{j} + 0.5) / (pdf_{j} + 0.5)) "
        f"* ptf_{j} / (ptf_{j} + {k1} * (1.0 - {b} + {b} * dl / avgdl)) "
        f"ELSE 0.0 END AS ps_{j}"
        for j in range(len(lv.phrases))
    )
    ctes.append(f"frame AS (SELECT f0.*{ps_cols}, n_docs, avgdl FROM "
                f"{frame_src})"
                if lv.phrases else
                f"frame AS (SELECT f0.*, n_docs, avgdl FROM {frame_src})")

    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT doc_id, "
        f"round({score_sql}, {SCORE_ROUND}) AS score "
        f"FROM frame WHERE {matched_sql} "
        f"ORDER BY ({score_sql}) DESC, doc_id ASC LIMIT {k}"
    )


# ---------------------------------------------------------------------------
# engine path: the query tree over pruned postings
# ---------------------------------------------------------------------------


def query_string_search(
    index,
    query: str,
    k: int = 10,
    *,
    default_operator: str = "or",
    docs: DataFrame | None = None,
    id_col: str = "doc_id",
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Engine path: the same query tree with every leaf fed from the
    index instead of the corpus (:func:`qtree.evaluate_index`) — term
    leaves from pruned postings, phrase leaves from the positions
    sidecar, wildcard leaves through the lexicon rewrite.  Field leaves
    read a pruned (id + field columns) scan of the source table via
    ``docs=`` (the doc-values analog; the index stores no field
    values), required only when the query uses them.  Corpus text is
    never read; rank-identical to :func:`query_string_topk`
    (pytest-pinned).
    """
    ast = parse_query_string(
        query, default_operator=default_operator,
        analyzer=index.meta.get("analyzer", "ascii"),
    )
    return evaluate_index(
        index, _tree(ast, max_expansions), k, docs=docs, id_col=id_col
    )

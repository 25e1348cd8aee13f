"""span_near — ordered/unordered term proximity (Lucene's span family).

The reference delegates retrieval to OpenSearch, whose ``span_near``
wraps ``span_term`` clauses with a ``slop`` and an ``in_order`` flag
(Lucene NearSpansOrdered/Unordered).  Pinned cross-engine spec over
single-term clauses, with the window length ``m + slop`` tokens
(anchor + the ordered rule's ``m-1+slop`` successors):

* ``in_order=True`` — exactly the sloppy-phrase rule
  (``query.phrase.phrase_tf_col``): tf = anchors p with ``toks[p] ==
  t0`` whose remaining clauses form an in-order occurrence within
  ``p + m-1+slop``.  Single-position spans make Lucene's
  ordered-spans condition (strictly increasing positions, span width
  ≤ slop) identical to that rule, so the ordered path runs the
  phrase kernel's ordered rule and is rank-identical to
  ``match_phrase(slop=)`` by construction.
* ``in_order=False`` — tf = anchor positions p where ``toks[p]`` is a
  clause term and the window ``toks[p .. p+m-1+slop]`` holds every
  clause term with at least its clause multiplicity (duplicate
  clauses need that many distinct occurrences).  Each valid
  assignment's minimum position is such an anchor, so the existence
  test is exact; anchor counting keeps tf finite, monotone in slop,
  and identical across Spark / DuckDB / the positional sidecar.

Documented deviation from Lucene: SpanScorer weights each enumerated
span ``1/(1+matchLength)`` and counts span enumerator emissions; the
anchored-window tf (weight 1) is pinnable bit-identically across all
three engines.  Scoring is then the BM25 pseudo-term of
``query/bm25.py`` (df = docs with tf > 0, corpus-wide n_docs/avgdl,
4 dp round).

Scale shape: the exhaustive tf is the token kernel of
``query/phrase.py`` (``_window_tf``/``_anchor_rule``, a pure-Catalyst
higher-order expression — no UDF, no explode); the positional path is
the position kernel behind the one sidecar front of
``index/positions.py`` (one leg per DISTINCT clause term, joined on
doc_id; document text is never read).  span_first/span_or/span_not
take their legs from the same front.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str, tokens_col
from sparksearch.index.positions import (
    _count_within,
    _position_legs,
    _proximity_scores,
)
from sparksearch.query.bm25 import (
    SCORE_ROUND,
    indexed_pseudo_term_scores,
    pseudo_term_topk,
    topk_cut,
)
from sparksearch.query.phrase import _anchor_rule, _in, _phrase_tf_sql, _window_tf


def _validate_clauses(terms: list[str], analyzer: str) -> list[str]:
    """span_term clauses are term-level (not analyzed); pin: each must
    be a single analyzer token of itself so all three engines agree on
    vocabulary membership.  Duplicates are legal (multiplicity)."""
    if not terms or len(terms) < 2:
        raise ValueError("span_near needs >= 2 span_term clauses")
    for t in terms:
        if tokenize_str(t, analyzer) != [t]:
            raise ValueError(
                f"span_term clause {t!r} is not a single {analyzer!r} "
                "analyzer token — pass analyzer-space terms"
            )
    return list(terms)


def span_near_tf_col(
    toks: Column, terms: list[str], slop: int = 0, *, in_order: bool = False
) -> Column:
    """Column: span_near frequency of ``terms`` in ``toks`` (see module
    docstring for the pinned anchored-window spec)."""
    return _window_tf(toks, [[t] for t in terms], slop, ordered=in_order)


def _span_tf_sql(toks_expr: str, terms: list[str], slop: int,
                 in_order: bool) -> str:
    if in_order:
        return _phrase_tf_sql(toks_expr, terms, slop)
    m = len(terms)
    w = m + slop
    q = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    members = ", ".join(q(t) for t in sorted(set(terms)))
    conds = [f"list_contains([{members}], ({toks_expr})[i])"]
    for u, c in sorted(Counter(terms).items()):
        conds.append(
            f"len(list_filter(({toks_expr})[i : i + {w} - 1], "
            f"x -> x = {q(u)})) >= {c}"
        )
    cond = " AND ".join(conds)
    return (
        f"CASE WHEN len({toks_expr}) >= {m} THEN "
        f"len(list_filter(range(1, len({toks_expr}) + 1), i -> {cond})) "
        f"ELSE 0 END"
    )


def span_near_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    *,
    slop: int = 0,
    in_order: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive span_near top-k → (doc_id, score)."""
    terms = _validate_clauses(terms, analyzer)
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col, analyzer).alias("toks")
    )
    stats = base.select(
        "doc_id",
        F.size("toks").alias("dl"),
        span_near_tf_col(F.col("toks"), terms, slop, in_order=in_order).alias("tf"),
    )
    return pseudo_term_topk(stats, k, k1, b)


def span_near_sql(
    terms: list[str],
    k: int = 10,
    *,
    slop: int = 0,
    in_order: bool = False,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`span_near_topk` (same tf/df/rounding)."""
    terms = _validate_clauses(terms, analyzer)
    stf = _span_tf_sql("tl", terms, slop, in_order)
    return _span_bm25_sql(stf, k, table, id_col, text_col, k1, b, analyzer)


def _span_bm25_sql(
    stf: str,
    k: int,
    table: str,
    id_col: str,
    text_col: str,
    k1: float,
    b: float,
    analyzer: str,
) -> str:
    """Shared span-family DuckDB scaffold: ``stf`` is the tf expression
    over the token list alias ``tl`` (the SQL twin of the pinned tf)."""
    toks = duckdb_tokens_expr(text_col, analyzer)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS tl
  FROM {table} WHERE {text_col} IS NOT NULL
),
stats AS (
  SELECT doc_id, len(tl) AS dl, {stf} AS tf FROM base
),
corp AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM stats),
hits AS (SELECT * FROM stats WHERE tf > 0),
dfs AS (SELECT count(*)::DOUBLE AS df FROM hits)
SELECT doc_id,
       round( ln(1.0 + (corp.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / corp.avgdl)),
              {SCORE_ROUND}) AS score
FROM hits CROSS JOIN dfs CROSS JOIN corp
ORDER BY ln(1.0 + (corp.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
         * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / corp.avgdl)) DESC,
         doc_id ASC
LIMIT {k}
""".strip()


def span_near_positional(
    index, terms: list[str], k: int = 10, *, slop: int = 0,
    in_order: bool = False,
) -> DataFrame:
    """span_near top-k from the positions sidecar alone — no corpus
    read.  Ordered runs the sloppy-phrase chain; unordered joins one
    leg per DISTINCT clause term and counts anchors whose window holds
    every clause multiplicity.
    Rank-identical to :func:`span_near_topk` (pytest-pinned)."""
    analyzer = index.meta.get("analyzer", "ascii")
    terms = _validate_clauses(terms, analyzer)
    return topk_cut(
        _proximity_scores(index, [[t] for t in terms], slop, ordered=in_order),
        k,
    )


# ---------------------------------------------------------------------------
# span_first / span_or / span_not — the rest of the span family over
# single-term clauses (Lucene SpanFirstQuery / SpanOrQuery /
# SpanNotQuery).  Single-position spans make each pin EXACT Lucene
# semantics (no span-width ambiguity):
#
# * span_first(term, end): occurrences whose span end fits in the first
#   ``end`` positions — a single-term span at 0-based position p has
#   end p+1, so tf = |{p : p < end}| = count of the term in the first
#   ``end`` tokens.
# * span_or(terms): union of the clause spans; distinct single-term
#   clauses never collide on a position, so tf = total occurrences of
#   any clause term (clauses pinned distinct — Lucene's duplicate-
#   clause enumeration is redundant for scoring).
# * span_not(include, exclude, pre, post): include occurrences with NO
#   exclude occurrence in [p-pre, p+post] (Lucene's pre/post buffer).
#
# Scoring is the BM25 pseudo-term (tf above, df = docs with tf>0,
# corpus-wide n_docs/avgdl, 4 dp).  Exhaustive paths are pure-Catalyst
# higher-order expressions; positional paths read only bucket-pruned
# position lists (buffer arithmetic is shift-invariant, so 0-based
# sidecar positions and the 1-based token-index fold agree exactly).
# ---------------------------------------------------------------------------

def _validate_term(t: str, analyzer: str) -> str:
    """Single span_term clause: must be one analyzer token of itself."""
    if tokenize_str(t, analyzer) != [t]:
        raise ValueError(
            f"span_term clause {t!r} is not a single {analyzer!r} "
            "analyzer token — pass analyzer-space terms"
        )
    return t


def _sql_quote(t: str) -> str:
    return "'" + t.replace("'", "''") + "'"


def _empty(index) -> DataFrame:
    return index.spark.createDataFrame([], "doc_id long, score double")


def span_first_topk(
    docs: DataFrame,
    term: str,
    end: int,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive span_first top-k: ``term`` within the first ``end``
    positions (Lucene SpanFirstQuery, exact for single-term spans)."""
    term = _validate_term(term, analyzer)
    if end < 0:
        raise ValueError("span_first end must be >= 0")
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col, analyzer).alias("toks")
    )
    tf = F.size(F.filter(F.slice("toks", 1, end), _in([term]))) if end else F.lit(0)
    stats = base.select("doc_id", F.size("toks").alias("dl"), tf.alias("tf"))
    return pseudo_term_topk(stats, k, k1, b)


def span_first_sql(
    term: str,
    end: int,
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`span_first_topk`."""
    term = _validate_term(term, analyzer)
    q = _sql_quote(term)
    stf = (
        f"len(list_filter(tl[1:{int(end)}], x -> x = {q}))"
        if end
        else "0"
    )
    return _span_bm25_sql(stf, k, table, id_col, text_col, k1, b, analyzer)


def span_first_positional(index, term: str, end: int, k: int = 10) -> DataFrame:
    """span_first from the positions sidecar alone (one bucket-pruned
    leg; 0-based sidecar positions give tf = |{p : p < end}| directly)."""
    analyzer = index.meta.get("analyzer", "ascii")
    term = _validate_term(term, analyzer)
    leg = _position_legs(index, [[term]])[0] if end > 0 else None
    if leg is None:
        return _empty(index)
    tf = F.size(F.filter("p", lambda q: q < F.lit(int(end))))
    tf_frame = leg.select("doc_id", "dl", tf.alias("tf"))
    return topk_cut(indexed_pseudo_term_scores(tf_frame, index.meta), k)


def span_or_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive span_or top-k: tf = total occurrences of any clause
    term (distinct clauses required — see the family pin above)."""
    terms = sorted({_validate_term(t, analyzer) for t in terms})
    if len(terms) < 2:
        raise ValueError("span_or needs >= 2 distinct span_term clauses")
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col, analyzer).alias("toks")
    )
    stats = base.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.size(F.filter("toks", _in(terms))).alias("tf"),
    )
    return pseudo_term_topk(stats, k, k1, b)


def span_or_sql(
    terms: list[str],
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`span_or_topk`."""
    terms = sorted({_validate_term(t, analyzer) for t in terms})
    if len(terms) < 2:
        raise ValueError("span_or needs >= 2 distinct span_term clauses")
    members = ", ".join(_sql_quote(t) for t in terms)
    stf = f"len(list_filter(tl, x -> list_contains([{members}], x)))"
    return _span_bm25_sql(stf, k, table, id_col, text_col, k1, b, analyzer)


def span_or_positional(index, terms: list[str], k: int = 10) -> DataFrame:
    """span_or from the positions sidecar: one bucket-pruned leg per
    clause term, full-outer-joined on doc_id (union semantics — OOV
    clauses just drop out), tf = Σ per-leg occurrence counts."""
    analyzer = index.meta.get("analyzer", "ascii")
    terms = sorted({_validate_term(t, analyzer) for t in terms})
    if len(terms) < 2:
        raise ValueError("span_or needs >= 2 distinct span_term clauses")
    legs = [
        leg.select(
            "doc_id", F.col("dl").alias(f"dl{i}"), F.size("p").alias(f"c{i}")
        )
        for i, leg in enumerate(_position_legs(index, [[t] for t in terms]))
        if leg is not None
    ]
    if not legs:
        return _empty(index)
    joined = legs[0]
    for leg in legs[1:]:
        joined = joined.join(leg, "doc_id", "full")
    n = len(legs)
    dl = F.coalesce(*[F.col(f"dl{i}") for i in range(n)])
    tf = sum(
        (F.coalesce(F.col(f"c{i}"), F.lit(0)) for i in range(n)), F.lit(0)
    )
    tf_frame = joined.select("doc_id", dl.alias("dl"), tf.alias("tf"))
    return topk_cut(indexed_pseudo_term_scores(tf_frame, index.meta), k)


def span_not_topk(
    docs: DataFrame,
    include: str,
    exclude: str,
    k: int = 10,
    *,
    pre: int = 0,
    post: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive span_not top-k: ``include`` occurrences with no
    ``exclude`` occurrence within ``[p-pre, p+post]`` (Lucene
    SpanNotQuery with its pre/post buffer, exact for single terms)."""
    include = _validate_term(include, analyzer)
    exclude = _validate_term(exclude, analyzer)
    if pre < 0 or post < 0:
        raise ValueError("span_not pre/post must be >= 0")
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col, analyzer).alias("toks")
    )

    def _positions_of(term):
        # two-parameter HOF deliberately: (element, 0-based index);
        # avoids sequence(1, 0) == [1, 0] on empty token arrays
        pairs = F.transform(
            "toks", lambda x, i: F.struct(x.alias("t"), (i + 1).alias("p"))
        )

        def _is(s):
            return s["t"] == F.lit(term)

        def _p(s):
            return s["p"]

        return F.transform(F.filter(pairs, _is), _p)

    def _clear(excl):
        def ok(p):
            def near(q):
                return (q >= p - F.lit(pre)) & (q <= p + F.lit(post))

            return F.size(F.filter(excl, near)) == 0

        return ok

    with_pos = base.select(
        "doc_id",
        F.size("toks").alias("dl"),
        _positions_of(include).alias("pi"),
        _positions_of(exclude).alias("pe"),
    )
    stats = with_pos.select(
        "doc_id",
        "dl",
        F.size(F.filter("pi", _clear(F.col("pe")))).alias("tf"),
    )
    return pseudo_term_topk(stats, k, k1, b)


def span_not_sql(
    include: str,
    exclude: str,
    k: int = 10,
    *,
    pre: int = 0,
    post: int = 0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`span_not_topk`."""
    include = _validate_term(include, analyzer)
    exclude = _validate_term(exclude, analyzer)
    qi, qe = _sql_quote(include), _sql_quote(exclude)
    pi = f"list_filter(range(1, len(tl) + 1), i -> tl[i] = {qi})"
    pe = f"list_filter(range(1, len(tl) + 1), i -> tl[i] = {qe})"
    stf = (
        f"len(list_filter({pi}, p -> len(list_filter({pe}, "
        f"q -> q >= p - {int(pre)} AND q <= p + {int(post)})) = 0))"
    )
    return _span_bm25_sql(stf, k, table, id_col, text_col, k1, b, analyzer)


def span_not_positional(
    index, include: str, exclude: str, k: int = 10, *, pre: int = 0,
    post: int = 0,
) -> DataFrame:
    """span_not from the positions sidecar: include leg inner, exclude
    leg LEFT-joined (docs without the exclude term keep every include
    occurrence); the buffer filter runs on 0-based lists — buffer
    arithmetic is shift-invariant so it pins to the token fold."""
    analyzer = index.meta.get("analyzer", "ascii")
    include = _validate_term(include, analyzer)
    exclude = _validate_term(exclude, analyzer)
    if pre < 0 or post < 0:
        raise ValueError("span_not pre/post must be >= 0")
    inc, exc = _position_legs(index, [[include], [exclude]])
    if inc is None:
        return _empty(index)
    inc = inc.select("doc_id", "dl", F.col("p").alias("pi"))
    if exc is not None:
        joined = inc.join(
            exc.select("doc_id", F.col("p").alias("pe")), "doc_id", "left"
        ).withColumn(
            "pe", F.coalesce(F.col("pe"), F.array().cast("array<int>"))
        )
    else:  # OOV exclude: nothing is ever excluded
        joined = inc.withColumn("pe", F.array().cast("array<int>"))

    def _ok(p):
        return _count_within(F.col("pe"), p - F.lit(pre), p + F.lit(post)) == 0

    tf_frame = joined.select(
        "doc_id", "dl", F.size(F.filter("pi", _ok)).alias("tf")
    )
    return topk_cut(indexed_pseudo_term_scores(tf_frame, index.meta), k)


# ---------------------------------------------------------------------------
# span_containing / span_within — span composition (Lucene
# SpanContainingQuery / SpanWithinQuery), pinned over big = span_near
# (ordered/unordered, slop) and little = a single span_term:
#
# * the big span's EXTENT is pinned to its anchor window
#   [p, p + m-1+slop] (the family's anchored-window rule; Lucene's
#   extent is first..last matched position — documented deviation,
#   same direction as the span_near tf pin itself);
# * span_containing: tf = #valid big anchors whose window holds an
#   occurrence of little (matches are BIG spans, so scoring counts
#   anchors — Lucene returns the big spans too);
# * span_within: tf = #little occurrences q covered by some valid big
#   anchor window (matches are LITTLE spans, so scoring counts little
#   positions).
#
# Shared tokens are legal (little may equal a big clause term): the
# containment test is pure position membership, like Lucene's.
# ---------------------------------------------------------------------------

def _near_anchor_cond_sql(toks_expr: str, terms: list[str], slop: int,
                          in_order: bool) -> str:
    """DuckDB twin of the span_near anchor rule — a boolean expression
    over the anchor index ``i`` (the factored condition inside
    :func:`_span_tf_sql` / :func:`_phrase_tf_sql`)."""
    m = len(terms)
    q = _sql_quote
    if in_order:
        win = m - 1 + slop
        s = f"({toks_expr})[i + 1 : i + {win}]"
        chain = None
        for j in range(1, m):
            prev = f" AND i{j} > ({chain})" if chain is not None else ""
            chain = (
                f"list_min(list_filter(range(1, len({s}) + 1), "
                f"i{j} -> ({s})[i{j}] = {q(terms[j])}{prev}))"
            )
        return (
            f"(({toks_expr})[i] = {q(terms[0])} AND ({chain}) IS NOT NULL)"
        )
    w = m + slop
    members = ", ".join(q(t) for t in sorted(set(terms)))
    conds = [f"list_contains([{members}], ({toks_expr})[i])"]
    for u, c in sorted(Counter(terms).items()):
        conds.append(
            f"len(list_filter(({toks_expr})[i : i + {w} - 1], "
            f"x -> x = {q(u)})) >= {c}"
        )
    return "(" + " AND ".join(conds) + ")"


def span_containing_topk(
    docs: DataFrame,
    big_terms: list[str],
    little: str,
    k: int = 10,
    *,
    slop: int = 0,
    in_order: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive span_containing top-k: big span_near anchors whose
    window also holds ``little`` (pinned spec above)."""
    big_terms = _validate_clauses(big_terms, analyzer)
    little = _validate_term(little, analyzer)
    m = len(big_terms)
    w = m + slop
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        tokens_col(text_col, analyzer).alias("toks"),
    )
    toks = F.col("toks")
    big_ok = _anchor_rule(
        toks, [[t] for t in big_terms], slop, ordered=in_order
    )

    def _ok(i):
        has_little = (
            F.size(F.filter(F.slice(toks, i, w), _in([little]))) >= 1
        )
        return big_ok(i) & has_little

    starts = F.sequence(F.lit(1), F.size(toks))
    tf = F.when(
        F.size(toks) >= m, F.size(F.filter(starts, _ok))
    ).otherwise(F.lit(0))
    stats = base.select(
        "doc_id", F.size("toks").alias("dl"), tf.alias("tf")
    )
    return pseudo_term_topk(stats, k, k1, b)


def span_containing_sql(
    big_terms: list[str],
    little: str,
    k: int = 10,
    *,
    slop: int = 0,
    in_order: bool = False,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`span_containing_topk`."""
    big_terms = _validate_clauses(big_terms, analyzer)
    little = _validate_term(little, analyzer)
    m = len(big_terms)
    w = m + slop
    big = _near_anchor_cond_sql("tl", big_terms, slop, in_order)
    cond = (
        f"{big} AND len(list_filter((tl)[i : i + {w} - 1], "
        f"x -> x = {_sql_quote(little)})) >= 1"
    )
    stf = (
        f"CASE WHEN len(tl) >= {m} THEN "
        f"len(list_filter(range(1, len(tl) + 1), i -> {cond})) ELSE 0 END"
    )
    return _span_bm25_sql(stf, k, table, id_col, text_col, k1, b, analyzer)


def span_within_topk(
    docs: DataFrame,
    little: str,
    big_terms: list[str],
    k: int = 10,
    *,
    slop: int = 0,
    in_order: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive span_within top-k: ``little`` occurrences covered by
    some valid big span_near anchor window (pinned spec above)."""
    big_terms = _validate_clauses(big_terms, analyzer)
    little = _validate_term(little, analyzer)
    m = len(big_terms)
    span_end = m - 1 + slop
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        tokens_col(text_col, analyzer).alias("toks"),
    )
    toks = F.col("toks")
    big_ok = _anchor_rule(
        toks, [[t] for t in big_terms], slop, ordered=in_order
    )

    def _covered(q):
        lo = F.greatest(F.lit(1), q - span_end)
        anchors = F.sequence(lo, q)
        return F.exists(anchors, big_ok)

    def _is_little_at(i):
        return (F.element_at(toks, i) == F.lit(little)) & _covered(i)

    starts = F.sequence(F.lit(1), F.size(toks))
    tf = F.when(
        F.size(toks) >= m, F.size(F.filter(starts, _is_little_at))
    ).otherwise(F.lit(0))
    stats = base.select(
        "doc_id", F.size("toks").alias("dl"), tf.alias("tf")
    )
    return pseudo_term_topk(stats, k, k1, b)


def span_within_sql(
    little: str,
    big_terms: list[str],
    k: int = 10,
    *,
    slop: int = 0,
    in_order: bool = False,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`span_within_topk`."""
    big_terms = _validate_clauses(big_terms, analyzer)
    little = _validate_term(little, analyzer)
    m = len(big_terms)
    span_end = m - 1 + slop
    big = _near_anchor_cond_sql("tl", big_terms, slop, in_order)
    covered = (
        f"len(list_filter(range(greatest(1, iq - {span_end}), iq + 1), "
        f"i -> {big})) >= 1"
    )
    cond = f"(tl)[iq] = {_sql_quote(little)} AND {covered}"
    stf = (
        f"CASE WHEN len(tl) >= {m} THEN "
        f"len(list_filter(range(1, len(tl) + 1), iq -> {cond})) ELSE 0 END"
    )
    return _span_bm25_sql(stf, k, table, id_col, text_col, k1, b, analyzer)


# ---------------------------------------------------------------------------
# span_multi — a multi-term query (wildcard) as a span clause inside
# span_near (Lucene SpanMultiTermQueryWrapper).  Pinned form:
# span_near([span_multi(wildcard(pattern)), span_term(term)],
# slop, in_order=False) — the wildcard rewrites through the vocabulary
# (dictionary order, capped, the MultiTermQuery rewrite the wildcard
# query already pins) into a slot of alternatives, and the pair then
# IS the intervals unordered rule with slots [expansions, {term}]
# (`query/intervals.py`), which this delegates to.  ``term`` is
# excluded from its own expansion set (slot disjointness).
# ---------------------------------------------------------------------------

def span_multi_near_topk(
    docs: DataFrame,
    pattern: str,
    term: str,
    k: int = 10,
    *,
    slop: int = 0,
    max_expansions: int = 128,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive span_multi-in-near top-k (pinned spec above)."""
    from sparksearch.query.intervals import intervals_topk
    from sparksearch.query.termq import _expand_wildcard_exhaustive

    term = _validate_term(term, analyzer)
    exp = [
        t
        for t in _expand_wildcard_exhaustive(
            docs, pattern, max_expansions, text_col, analyzer
        )
        if t != term
    ]
    if not exp:
        return docs.sparkSession.createDataFrame(
            [], "doc_id long, score double"
        )
    return intervals_topk(
        docs, [exp, [term]], k, max_gaps=slop, ordered=False,
        id_col=id_col, text_col=text_col, k1=k1, b=b, analyzer=analyzer,
    )


def span_multi_near_sql(
    pattern: str,
    term: str,
    k: int = 10,
    *,
    slop: int = 0,
    max_expansions: int = 128,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`span_multi_near_topk` — the expansion runs
    IN SQL (vocabulary CTE + regex, dictionary order, same cap), so the
    oracle is self-contained; the tf is the intervals unordered rule
    with the expanded slot read from the CTE's list."""
    from sparksearch.analyze import duckdb_tokens_expr
    from sparksearch.query.termq import wildcard_regex

    term = _validate_term(term, analyzer)
    qt = _sql_quote(term)
    rx = wildcard_regex(pattern).replace("'", "''")
    toks = duckdb_tokens_expr(text_col, analyzer)
    w = 2 + slop
    cond = (
        f"(list_contains(el.ts, (tl)[i]) OR (tl)[i] = {qt}) "
        f"AND len(list_filter((tl)[i : i + {w} - 1], "
        f"x -> list_contains(el.ts, x))) >= 1 "
        f"AND len(list_filter((tl)[i : i + {w} - 1], x -> x = {qt})) >= 1"
    )
    stf = (
        f"CASE WHEN len(tl) >= 2 THEN "
        f"len(list_filter(range(1, len(tl) + 1), i -> {cond})) ELSE 0 END"
    )
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS tl
  FROM {table} WHERE {text_col} IS NOT NULL
),
vocab AS (SELECT DISTINCT u.t AS term FROM base, unnest(tl) AS u(t)),
exp AS (
  SELECT term FROM vocab
  WHERE regexp_matches(term, '{rx}') AND term <> {qt}
  ORDER BY term LIMIT {max_expansions}
),
el AS (SELECT coalesce(list(term), []) AS ts FROM exp),
stats AS (
  SELECT doc_id, len(tl) AS dl, {stf} AS tf FROM base, el
),
corp AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM stats),
hits AS (SELECT * FROM stats WHERE tf > 0),
dfs AS (SELECT count(*)::DOUBLE AS df FROM hits)
SELECT doc_id,
       round( ln(1.0 + (corp.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
              * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / corp.avgdl)),
              {SCORE_ROUND}) AS score
FROM hits CROSS JOIN dfs CROSS JOIN corp
ORDER BY ln(1.0 + (corp.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
         * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / corp.avgdl)) DESC,
         doc_id ASC
LIMIT {k}
""".strip()


def span_multi_near_search(
    index, pattern: str, term: str, k: int = 10, *, slop: int = 0,
    max_expansions: int = 128,
) -> DataFrame:
    """Engine path: lexicon rewrite (prefix-range-pruned) → the
    intervals positional path with the expanded slot.  Requires the
    lexicon and positions sidecars.  Rank-identical to the exhaustive
    path when the lexicon covers the corpus vocabulary (pytest)."""
    from sparksearch.query.intervals import intervals_positional
    from sparksearch.query.termq import expand_wildcard

    analyzer = index.meta.get("analyzer", "ascii")
    term = _validate_term(term, analyzer)
    exp = [
        t for t in expand_wildcard(index, pattern, max_expansions) if t != term
    ]
    if not exp:
        return _empty(index)
    return intervals_positional(
        index, [exp, [term]], k, max_gaps=slop, ordered=False
    )

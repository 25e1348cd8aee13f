"""``match_phrase``: exact-adjacency phrase search with BM25 scoring.

OpenSearch's ``match_phrase`` (Lucene ``PhraseQuery``, slop 0) matches
docs whose analyzed token stream contains the query's analyzed tokens
CONSECUTIVELY, and scores them like a single pseudo-term whose tf is
the phrase frequency (Lucene's ``ExactPhraseMatcher`` counts every
start position, so overlapping occurrences each count) and whose df is
the number of docs containing the phrase.  Semantics pinned here:

* phrase tf(d)  = #{ i : tokens(d)[i .. i+m-1] == phrase tokens } —
  start positions, overlap counted ("a a a" contains "a a" twice);
* df            = #{ d : tf(d) > 0 }, N/avgdl corpus-wide (same
  globals as the match query);
* score(d)      = idf(df) · tf/(tf + k1·(1 − b + b·dl/avgdl)),
  Lucene BM25, rounded 4 dp; ties by doc_id asc;
* a phrase whose analysis yields one token degrades to the
  single-term match query (Lucene rewrites the same way); zero
  tokens → empty result.

Both the position filter and the counting stay in whole-stage codegen:
``filter(sequence(1, len−m+1), i -> slice(toks, i, m) == phrase)`` is
a pure Catalyst expression — no UDF, no explode, no shuffle before the
single count/groupBy.  The DuckDB twin renders the identical
list-lambda computation.

This module holds the one proximity kernel over token arrays: a query
is a list of SLOTS (lists of alternative terms), :func:`_anchor_rule`
is the anchored-window rule (ordered: greedy earliest-successor chain;
unordered: every distinct slot as often as it appears in the window)
and :func:`_window_tf` counts its anchors.  ``match_phrase`` (any
slop), ``match_phrase_prefix``, ``span_near``, ``span_containing`` /
``span_within`` and ``intervals`` all run through it; their positional
forms run the twin kernel behind the one sidecar front in
``index/positions.py``.

At scale the exhaustive path re-analyzes every doc; the indexed path
(`match_phrase_indexed`) instead intersects the phrase terms' pruned
posting lists (docs can only hold the phrase if they hold every term)
and verifies adjacency only on that conjunction — the classic
positional-verification plan, with the candidate read being a
``leftsemi`` join into the corpus instead of a full scan.  Phrase df
is computed on the verified candidates, which IS the corpus df because
candidates ⊇ phrase matches.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str, tokens_col
from sparksearch.query.bm25 import (
    SCORE_ROUND,
    indexed_pseudo_term_scores,
    pseudo_term_topk,
    topk_cut,
)


def _in(group: list[str]):
    """Predicate: a token is one of ``group``."""
    arr = F.array(*[F.lit(t) for t in group])
    return lambda x: F.array_contains(arr, x)


def _anchor_rule(toks: Column, slots: list[list[str]], gaps: int, *,
                 ordered: bool):
    """The anchored-window rule over 1-based token index ``i``; a slot
    is a list of alternative terms and ``m = len(slots)``.

    * ordered — ``toks[i]`` is in slot 0 and the greedy
      earliest-successor chain of slots 1.. ends within ``i + m-1+gaps``
      (greedy minimizes the chain's end, so it is existence-exact);
    * unordered — ``toks[i]`` is in some slot and the ``m+gaps`` tokens
      from ``i`` hold every distinct slot as many times as it appears.
    """
    m = len(slots)
    if ordered:
        rest = F.array(*[F.array(*[F.lit(t) for t in g]) for g in slots[1:]])
        first = _in(slots[0])

        def _ok(i):
            matched = F.aggregate(
                F.slice(toks, i + 1, m - 1 + gaps),
                F.lit(0),
                lambda acc, x: F.when(
                    (acc < m - 1)
                    & F.array_contains(F.element_at(rest, acc + 1), x),
                    acc + 1,
                ).otherwise(acc),
            )
            return first(F.element_at(toks, i)) & (matched == m - 1)

        return _ok
    member = _in(sorted({t for g in slots for t in g}))
    mult = sorted(Counter(tuple(sorted(set(g))) for g in slots).items())

    def _ok(i):
        win = F.slice(toks, i, m + gaps)
        cond = member(F.element_at(toks, i))
        for g, c in mult:
            cond = cond & (F.size(F.filter(win, _in(list(g)))) >= c)
        return cond

    return _ok


def _window_tf(toks: Column, slots: list[list[str]], gaps: int = 0, *,
               ordered: bool = True) -> Column:
    """Column: #anchors of :func:`_anchor_rule` — the one proximity
    kernel over token arrays.  Contiguous single-term slots (ordered,
    ``gaps=0``) count start positions with ``slice == target``.  Guarded
    for ``len(toks) < m`` because Spark's ``sequence(1, 0)`` DESCENDS
    (it would yield [1, 0], not [])."""
    m = len(slots)
    if ordered and gaps == 0 and all(len(g) == 1 for g in slots):
        target = F.array(*[F.lit(g[0]) for g in slots])
        starts = F.sequence(F.lit(1), F.size(toks) - m + 1)
        hits = F.size(F.filter(starts, lambda i: F.slice(toks, i, m) == target))
    elif m == 1:
        # one slot: the window cannot matter
        return F.size(F.filter(toks, _in(slots[0])))
    else:
        starts = F.sequence(F.lit(1), F.size(toks))
        hits = F.size(
            F.filter(starts, _anchor_rule(toks, slots, gaps, ordered=ordered))
        )
    return F.when(F.size(toks) >= m, hits).otherwise(F.lit(0))


def phrase_tf_col(toks: Column, phrase_terms: list[str], slop: int = 0) -> Column:
    """Column: phrase frequency of ``phrase_terms`` in ``toks``.

    ``slop=0`` (default): number of start positions where the terms
    occur exactly adjacent, in order.

    ``slop>0``: the pinned sloppy spec — tf = number of anchor
    positions p with ``toks[p] == t0`` and the remaining terms an
    ordered subsequence of ``toks[p+1 .. p+m-1+slop]`` (an in-order
    occurrence whose span ≤ m-1+slop), the ordered rule of
    :func:`_anchor_rule`.  Reduces EXACTLY to the slop=0 semantics at
    slop=0.  Documented deviation from Lucene's SloppyPhraseScorer
    (which also permits term transpositions and weights each match
    1/(distance+1)); this ordered-window rule is identical in both
    engines and the DuckDB oracle.
    """
    return _window_tf(toks, [[t] for t in phrase_terms], slop)


def _phrase_tf_sql(toks_expr: str, phrase_terms: list[str], slop: int = 0) -> str:
    m = len(phrase_terms)
    q = lambda t: "'" + t.replace("'", "''") + "'"  # noqa: E731
    lits = ", ".join(q(t) for t in phrase_terms)
    if slop == 0:
        # DuckDB: range(a, b) is end-exclusive; tl[i : i + m - 1] is
        # 1-based END-INCLUSIVE — both sides mirror Spark's sequence/slice
        return (
            f"CASE WHEN len({toks_expr}) >= {m} THEN "
            f"len(list_filter(range(1, len({toks_expr}) - {m} + 2), "
            f"i -> ({toks_expr})[i : i + {m} - 1] = [{lits}])) ELSE 0 END"
        )
    if m == 1:
        return f"len(list_filter({toks_expr}, x -> x = {q(phrase_terms[0])}))"
    win = m - 1 + slop
    # window after anchor i: s = tl[i+1 : i+win] (1-based end-inclusive).
    # Greedy chain of terms[1:] inside s, nested earliest-occurrence
    # min-filters (same existence-exact rule as the Spark fold; DuckDB
    # 1.0 list_reduce has no initial accumulator, so the chain is the
    # oracle's formulation — O(m·win²) per anchor, oracle-scale only).
    s = f"({toks_expr})[i + 1 : i + {win}]"
    chain = None
    for j in range(1, m):
        prev = f" AND i{j} > ({chain})" if chain is not None else ""
        chain = (
            f"list_min(list_filter(range(1, len({s}) + 1), "
            f"i{j} -> ({s})[i{j}] = {q(phrase_terms[j])}{prev}))"
        )
    return (
        f"CASE WHEN len({toks_expr}) >= {m} THEN "
        f"len(list_filter(range(1, len({toks_expr})), "
        f"i -> ({toks_expr})[i] = {q(phrase_terms[0])} "
        f"AND ({chain}) IS NOT NULL)) ELSE 0 END"
    )


def match_phrase_topk(
    docs: DataFrame,
    phrase: str,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
    slop: int = 0,
) -> DataFrame:
    """Exhaustive phrase top-k → (doc_id, score).  ``slop`` relaxes
    adjacency per the pinned ordered-window spec (:func:`phrase_tf_col`)."""
    terms = tokenize_str(phrase, analyzer)
    if not terms:
        return docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.lit(0.0).alias("score"),
        ).filter(F.lit(False))
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col, analyzer).alias("toks")
    )
    # ONE tokenize + position-filter pass: the scorer persists this
    # narrow frame (24 B/doc) for the globals, the df and the scored
    # rows.  The naive form re-derived it for each broadcast aggregate —
    # three full corpus passes, measured 3× this plan's wall time.
    stats = base.select(
        "doc_id",
        F.size("toks").alias("dl"),
        phrase_tf_col(F.col("toks"), terms, slop).alias("tf"),
    )
    return pseudo_term_topk(stats, k, k1, b)


def match_phrase_sql(
    phrase: str,
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
    slop: int = 0,
) -> str:
    """DuckDB twin of :func:`match_phrase_topk` (same tf/df/rounding)."""
    terms = tokenize_str(phrase, analyzer)
    toks = duckdb_tokens_expr(text_col, analyzer)
    ptf = _phrase_tf_sql("tl", terms, slop)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS tl
  FROM {table} WHERE {text_col} IS NOT NULL
),
g AS (
  SELECT count(*) AS n_docs, avg(len(tl)) AS avgdl FROM base
),
tf0 AS (
  SELECT doc_id, len(tl) AS dl, {ptf} AS tf FROM base
),
tf AS (SELECT * FROM tf0 WHERE tf > 0),
dfc AS (SELECT count(*) AS df FROM tf)
SELECT doc_id,
       round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)),
             {SCORE_ROUND}) AS score
FROM tf, dfc, g
ORDER BY ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)) DESC,
         doc_id ASC
LIMIT {k}
""".strip()


def match_phrase_indexed(
    index,
    docs: DataFrame,
    phrase: str,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    slop: int = 0,
) -> DataFrame:
    """Index-pruned phrase top-k — rank-identical to the exhaustive path.

    Candidates come from the packed index's term conjunction (pruned
    postings decode, `matchset.match_ids_df`); adjacency verification
    and tf counting touch ONLY candidate docs.  BM25 globals come from
    the index meta (same corpus, same analyzer ⇒ same N/avgdl the
    exhaustive path computes).
    """
    from sparksearch.query.matchset import match_ids_df

    meta = index.meta
    analyzer = meta.get("analyzer", "ascii")
    terms = tokenize_str(phrase, analyzer)
    empty = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.lit(0.0).alias("score")
    ).filter(F.lit(False))
    if not terms:
        return empty
    ids = match_ids_df(index, phrase, mode="all")
    cand = (
        docs.join(ids, docs[id_col] == ids["doc_id"], "leftsemi")
        .select(
            F.col(id_col).alias("doc_id"),
            tokens_col(text_col, analyzer).alias("toks"),
        )
        # materialization barrier, load-bearing: pushing the tf > 0
        # filter below this projection substitutes the tokenize
        # expression into the position-filter lambda's condition, where
        # (with the semi-join under it) Catalyst loses subexpression
        # sharing and re-tokenizes per position — measured >180 s vs
        # 2 s for a 7,864-candidate query on 276-token docs.  The
        # persisted frame is conjunction-candidates only (small by
        # construction).
        .persist()
    )
    # the scorer persists the verified rows: without it the df
    # aggregate and the scoring each re-run the postings decode +
    # leftsemi join (measured 2× the whole query)
    tf_frame = cand.select(
        "doc_id",
        F.size("toks").alias("dl"),
        phrase_tf_col(F.col("toks"), terms, slop).alias("tf"),
    )
    return topk_cut(indexed_pseudo_term_scores(tf_frame, meta), k)


# ---------------------------------------------------------------------------
# match_phrase_prefix: the last analyzed term is a prefix
# ---------------------------------------------------------------------------
#
# OpenSearch ``match_phrase_prefix`` (Lucene ``MatchPhrasePrefixQuery``):
# the last token of the analyzed phrase matches any dictionary term with
# that prefix, capped at ``max_expansions`` (default 50) in DICTIONARY
# ORDER — a term outside the cap cannot match, even if it occurs (the
# pinned Lucene behavior).  Scoring pinned here as the natural extension
# of match_phrase: tf = start positions where the leading terms match
# exactly AND the last slot holds ANY expansion; df = docs with tf > 0;
# BM25 over those (a documented deviation from Lucene's MultiPhraseQuery
# blended-idf scoring, identical in BOTH engines and the oracle).

MAX_EXPANSIONS = 50


def _phrase_prefix_tf_sql(
    toks_expr: str, first_terms: list[str], m: int
) -> str:
    """DuckDB twin of the prefix phrase tf; the expansion list is
    the correlated column ``exps`` (built by the query's own CTE)."""
    last = f"list_contains(exps, ({toks_expr})[i + {m} - 1])"
    if first_terms:
        lits = ", ".join("'" + t.replace("'", "''") + "'" for t in first_terms)
        cond = f"({toks_expr})[i : i + {m} - 2] = [{lits}] AND {last}"
    else:
        cond = last
    return (
        f"CASE WHEN len({toks_expr}) >= {m} THEN "
        f"len(list_filter(range(1, len({toks_expr}) - {m} + 2), "
        f"i -> {cond})) ELSE 0 END"
    )


def corpus_prefix_expansions(
    docs: DataFrame,
    prefix: str,
    max_expansions: int = MAX_EXPANSIONS,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> list[str]:
    """Dictionary-order prefix expansion derived from the corpus itself
    (the exhaustive path's stand-in for the lexicon sidecar — built from
    the same tokens, so the sets are identical by construction)."""
    rows = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens_col(text_col, analyzer)).alias("t"))
        .filter(F.col("t").startswith(prefix))
        .distinct()
        .orderBy("t")
        .limit(max_expansions)
        .collect()
    )
    return [r["t"] for r in rows]


def match_phrase_prefix_topk(
    docs: DataFrame,
    phrase: str,
    k: int = 10,
    *,
    max_expansions: int = MAX_EXPANSIONS,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive match_phrase_prefix top-k → (doc_id, score)."""
    terms = tokenize_str(phrase, analyzer)
    empty = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), F.lit(0.0).alias("score")
    ).filter(F.lit(False))
    if not terms:
        return empty
    expansions = corpus_prefix_expansions(
        docs, terms[-1], max_expansions, text_col=text_col, analyzer=analyzer
    )
    if not expansions:
        return empty
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"), tokens_col(text_col, analyzer).alias("toks")
    )
    stats = base.select(
        "doc_id",
        F.size("toks").alias("dl"),
        _window_tf(
            F.col("toks"), [[t] for t in terms[:-1]] + [expansions]
        ).alias("tf"),
    )
    return pseudo_term_topk(stats, k, k1, b)


def match_phrase_prefix_sql(
    phrase: str,
    k: int = 10,
    *,
    max_expansions: int = MAX_EXPANSIONS,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`match_phrase_prefix_topk` — the expansion
    set is derived in-query (distinct corpus terms with the prefix,
    dictionary order, capped), so the oracle is self-contained."""
    terms = tokenize_str(phrase, analyzer)
    toks = duckdb_tokens_expr(text_col, analyzer)
    m = len(terms)
    pre = terms[-1].replace("'", "''")
    ptf = _phrase_prefix_tf_sql("tl", terms[:-1], m)
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS tl
  FROM {table} WHERE {text_col} IS NOT NULL
),
expsel AS (
  SELECT DISTINCT t.term FROM base, unnest(tl) AS t(term)
  WHERE t.term LIKE '{pre}%' ORDER BY t.term LIMIT {max_expansions}
),
expl AS (SELECT coalesce(list(term ORDER BY term), []) AS exps FROM expsel),
g AS (
  SELECT count(*) AS n_docs, avg(len(tl)) AS avgdl FROM base
),
tf0 AS (
  SELECT doc_id, len(tl) AS dl, {ptf} AS tf FROM base, expl
),
tf AS (SELECT * FROM tf0 WHERE tf > 0),
dfc AS (SELECT count(*) AS df FROM tf)
SELECT doc_id,
       round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)),
             {SCORE_ROUND}) AS score
FROM tf, dfc, g
ORDER BY ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         * tf / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)) DESC,
         doc_id ASC
LIMIT {k}
""".strip()

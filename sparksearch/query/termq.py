"""Multi-term queries: ``prefix`` and ``fuzzy`` (Lucene rewrite model).

OpenSearch's ``prefix`` and ``fuzzy`` queries rewrite against the term
dictionary into a bounded set of concrete terms, then run that set as
one query (the reference reaches these through the same `_search` API
its match queries use).  Pinned semantics, mirrored by the DuckDB
twins:

* **prefix** — expand to the first ``max_expansions`` dictionary-order
  terms with the prefix; docs containing ANY expanded term score a
  CONSTANT 1.0 (Lucene wraps multi-term rewrites in
  ``ConstantScore``); top-k by doc_id asc (the deterministic stand-in
  for Lucene's internal doc order, same convention as the rest of the
  engine).
* **fuzzy** — expand to terms within Levenshtein ``max_edits``
  (Lucene ``AUTO`` by default: 0/1/2 edits by term length), ordered
  (distance asc, term asc), capped; the expansion set then scores as
  an OR match query (BM25 summed over expanded terms — the blended
  multi-term scoring surface, with each term keeping its own df).

Scale: expansion is a dictionary operation (lexicon range scan /
vocabulary-sized Levenshtein filter, never corpus-sized); the
expanded set is ≤ ``max_expansions`` concrete terms, so the document
side is exactly as prunable as an ordinary match query — the engine
paths feed the expanded terms to the packed index's pruned scan.

Exhaustive twins expand from the corpus' distinct tokens instead of
the sidecar (identical set by construction — same analyzer) so the
DuckDB oracle can derive the expansion itself inside one SQL string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokens_col
from sparksearch.index.lexicon import (
    MAX_EXPANSIONS,
    auto_fuzziness,
    expand_fuzzy,
    expand_prefix,
    rewrite,
)
from sparksearch.query.bm25 import SCORE_ROUND, bm25_topk_df


def _vocab(docs: DataFrame, text_col: str, analyzer: str) -> DataFrame:
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens_col(text_col, analyzer)).alias("term"))
        .distinct()
    )


def _expand_prefix_exhaustive(
    docs: DataFrame, prefix: str, max_expansions: int, text_col: str, analyzer: str
) -> list[str]:
    rows = (
        _vocab(docs, text_col, analyzer)
        .filter((F.col("term") >= prefix) & (F.col("term") < prefix + "￿"))
        .orderBy("term")
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def _expand_fuzzy_exhaustive(
    docs: DataFrame, term: str, edits: int, max_expansions: int,
    text_col: str, analyzer: str,
) -> list[str]:
    lev = F.levenshtein(F.col("term"), F.lit(term))
    rows = (
        _vocab(docs, text_col, analyzer)
        .filter(lev <= edits)
        .select("term", lev.alias("_d"))
        .orderBy(F.asc("_d"), F.asc("term"))
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def _const_score_any(
    docs: DataFrame, terms: list[str], k: int, id_col: str, text_col: str,
    analyzer: str,
) -> DataFrame:
    out_cols = [
        F.col(id_col).cast("long").alias("doc_id"),
        F.lit(1.0).alias("score"),
    ]
    if not terms:
        return docs.select(*out_cols).filter(F.lit(False))
    hit = F.arrays_overlap(
        tokens_col(text_col, analyzer), F.array(*[F.lit(t) for t in terms])
    )
    return (
        docs.filter(F.col(text_col).isNotNull())
        .filter(hit)
        .select(*out_cols)
        .orderBy("doc_id")
        .limit(k)
    )


# -- prefix ----------------------------------------------------------------
def prefix_topk(
    docs: DataFrame,
    prefix: str,
    k: int = 10,
    *,
    max_expansions: int = MAX_EXPANSIONS,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive prefix query → (doc_id, score=1.0), doc_id asc."""
    terms = _expand_prefix_exhaustive(docs, prefix, max_expansions, text_col, analyzer)
    return _const_score_any(docs, terms, k, id_col, text_col, analyzer)


def prefix_topk_sql(
    prefix: str,
    k: int = 10,
    *,
    max_expansions: int = MAX_EXPANSIONS,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    toks = duckdb_tokens_expr(text_col, analyzer)
    p = prefix.replace("'", "''")
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS tl FROM {table}
  WHERE {text_col} IS NOT NULL
),
vocab AS (SELECT DISTINCT u.t AS term FROM base, unnest(tl) AS u(t)),
exp AS (
  SELECT term FROM vocab
  WHERE term >= '{p}' AND term < '{p}' || chr(65535)
  ORDER BY term LIMIT {max_expansions}
),
el AS (SELECT coalesce(list(term), []) AS ts FROM exp)
SELECT doc_id, 1.0 AS score FROM base, el
WHERE len(list_intersect(tl, ts)) > 0
ORDER BY doc_id ASC LIMIT {k}
""".strip()


def prefix_search(index, prefix: str, k: int = 10,
                  *, max_expansions: int = MAX_EXPANSIONS) -> DataFrame:
    """Engine path: lexicon rewrite → pruned-postings constant-score.

    Requires :func:`sparksearch.index.lexicon.build_lexicon` to have
    run for the index; rank-identical to :func:`prefix_topk`
    (pytest-pinned).
    """
    terms = expand_prefix(index.spark, index.index_dir, prefix, max_expansions)
    return _indexed_const_score(index, terms, k)


# -- fuzzy -----------------------------------------------------------------
def fuzzy_topk(
    docs: DataFrame,
    term: str,
    k: int = 10,
    *,
    max_edits: int | None = None,
    max_expansions: int = MAX_EXPANSIONS,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive fuzzy query → (doc_id, score) BM25 over expansions."""
    edits = auto_fuzziness(term) if max_edits is None else int(max_edits)
    terms = _expand_fuzzy_exhaustive(
        docs, term, edits, max_expansions, text_col, analyzer
    )
    if not terms:
        return docs.select(
            F.col(id_col).cast("long").alias("doc_id"), F.lit(0.0).alias("score")
        ).filter(F.lit(False))
    return bm25_topk_df(
        docs, " ".join(terms), k,
        id_col=id_col, text_col=text_col, k1=k1, b=b, analyzer=analyzer,
    )


def fuzzy_topk_sql(
    term: str,
    k: int = 10,
    *,
    max_edits: int | None = None,
    max_expansions: int = MAX_EXPANSIONS,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin — derives the expansion in SQL, then OR-BM25 over it."""
    edits = auto_fuzziness(term) if max_edits is None else int(max_edits)
    toks = duckdb_tokens_expr(text_col, analyzer)
    t = term.replace("'", "''")
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS tl FROM {table}
  WHERE {text_col} IS NOT NULL
),
vocab AS (SELECT DISTINCT u.t AS term FROM base, unnest(tl) AS u(t)),
exp AS (
  SELECT term FROM vocab WHERE levenshtein(term, '{t}') <= {edits}
  ORDER BY levenshtein(term, '{t}') ASC, term ASC LIMIT {max_expansions}
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


def fuzzy_search(index, term: str, k: int = 10,
                 *, max_edits: int | None = None,
                 max_expansions: int = MAX_EXPANSIONS) -> DataFrame:
    """Engine path: lexicon rewrite → packed-index OR match (MaxScore).

    Expansion terms re-tokenize to themselves (they ARE analyzer
    output), so handing them to ``index.search`` as a joined query
    string runs the standard pruned multi-term kernel unchanged.
    """
    terms = expand_fuzzy(
        index.spark, index.index_dir, term,
        max_edits=max_edits, max_expansions=max_expansions,
    )
    if not terms:
        return index.search("", k)  # canonical empty frame
    out = index.search(" ".join(terms), k)
    # the kernel emits raw float64; exhaustive twins round on output
    return out.select("doc_id", F.round("score", SCORE_ROUND).alias("score"))


def _indexed_const_score(index, terms: list[str], k: int) -> DataFrame:
    from sparksearch.query.matchset import match_ids_for_terms

    ids = match_ids_for_terms(index, terms, mode="any")
    return (
        ids.select("doc_id", F.lit(1.0).alias("score"))
        .orderBy("doc_id")
        .limit(k)
    )


# -- wildcard ----------------------------------------------------------------
def wildcard_regex(pattern: str) -> str:
    """Lucene wildcard → anchored regex: ``*`` any run, ``?`` one char.

    Everything else is escaped literally.  The produced regex uses only
    ``^ $ . .*`` and escaped literals — the exact subset on which Java
    regex (Spark ``rlike``) and RE2 (DuckDB ``regexp_matches``) agree.
    """
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch.isalnum():
            out.append(ch)
        else:
            out.append("\\" + ch)
    return "^" + "".join(out) + "$"


def _literal_prefix(pattern: str) -> str:
    """The pattern's literal head before the first wildcard (Lucene's
    prefix optimization: prunes the dictionary scan to a term range)."""
    for i, ch in enumerate(pattern):
        if ch in "*?":
            return pattern[:i]
    return pattern


def expand_wildcard(index, pattern: str, max_expansions: int) -> list[str]:
    """Wildcard rewrite through the lexicon, range-pruned to the
    pattern's literal head."""
    return rewrite(
        index.spark, index.index_dir, head=_literal_prefix(pattern),
        where=F.col("term").rlike(wildcard_regex(pattern)),
        max_expansions=max_expansions,
    )


def _expand_wildcard_exhaustive(
    docs: DataFrame, pattern: str, max_expansions: int, text_col: str,
    analyzer: str,
) -> list[str]:
    rx = wildcard_regex(pattern)
    rows = (
        _vocab(docs, text_col, analyzer)
        .filter(F.col("term").rlike(rx))
        .orderBy("term")
        .limit(max_expansions)
        .collect()
    )
    return [r["term"] for r in rows]


def wildcard_topk(
    docs: DataFrame,
    pattern: str,
    k: int = 10,
    *,
    max_expansions: int = MAX_EXPANSIONS,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive wildcard query → (doc_id, score=1.0), doc_id asc.

    Lucene MultiTermQuery rewrite: dictionary-order expansions (capped)
    run as a ConstantScore OR — same contract as the prefix query."""
    terms = _expand_wildcard_exhaustive(
        docs, pattern, max_expansions, text_col, analyzer
    )
    return _const_score_any(docs, terms, k, id_col, text_col, analyzer)


def wildcard_topk_sql(
    pattern: str,
    k: int = 10,
    *,
    max_expansions: int = MAX_EXPANSIONS,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    toks = duckdb_tokens_expr(text_col, analyzer)
    rx = wildcard_regex(pattern).replace("'", "''")
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS tl FROM {table}
  WHERE {text_col} IS NOT NULL
),
vocab AS (SELECT DISTINCT u.t AS term FROM base, unnest(tl) AS u(t)),
exp AS (
  SELECT term FROM vocab WHERE regexp_matches(term, '{rx}')
  ORDER BY term LIMIT {max_expansions}
),
el AS (SELECT coalesce(list(term), []) AS ts FROM exp)
SELECT doc_id, 1.0 AS score FROM base, el
WHERE len(list_intersect(tl, ts)) > 0
ORDER BY doc_id ASC LIMIT {k}
""".strip()


def wildcard_search(index, pattern: str, k: int = 10,
                    *, max_expansions: int = MAX_EXPANSIONS) -> DataFrame:
    """Engine path: lexicon rewrite (prefix-range-pruned when the
    pattern has a literal head) → pruned-postings constant score."""
    return _indexed_const_score(
        index, expand_wildcard(index, pattern, max_expansions), k
    )


# -- regexp ------------------------------------------------------------------
# Operators on which Lucene's regexp dialect, Java regex (Spark rlike)
# and RE2 (DuckDB regexp_matches) all agree; anchoring is implicit in
# Lucene and added explicitly for the other two engines.
_REGEXP_SAFE = __import__("re").compile(r"^[a-z0-9.*+?()\[\]|\-]*$")


def _check_regexp(pattern: str) -> str:
    """Validate the pinned three-engine-portable regexp subset.

    Lucene's ``regexp`` query matches the ENTIRE term against its own
    regex dialect.  The pinned subset here — literals, ``.``, ``*``,
    ``+``, ``?``, ``|``, groups, character classes — is exactly where
    that dialect, Java regex and RE2 coincide; escapes, ``{m,n}``
    counts, and Lucene extensions (``~``, ``<>``, ``&``) are rejected
    rather than risking a cross-engine divergence.
    """
    if pattern.count("(") != pattern.count(")"):
        raise ValueError(f"unbalanced groups in regexp {pattern!r}")
    if not _REGEXP_SAFE.match(pattern):
        raise ValueError(
            f"regexp pattern {pattern!r} outside the pinned portable "
            "subset [a-z0-9 . * + ? ( ) [ ] | -]"
        )
    __import__("re").compile(pattern)  # syntax check once, driver-side
    return "^" + pattern + "$"


def _regexp_literal_head(pattern: str) -> str:
    """Literal prefix before the first regex metacharacter (Lucene's
    prefix acceleration for regexp queries — prunes the dictionary
    range scan).  A trailing literal eaten by ``*``/``?``/``{``
    quantifiers must be excluded: ``ab?`` has head ``a``, not ``ab``.
    Any top-level alternation voids the head entirely (``ab|cd`` also
    matches terms outside the ``ab`` range) — detected conservatively
    as a ``|`` anywhere in the pattern."""
    if "|" in pattern:
        return ""
    head = []
    for ch in pattern:
        if not ch.isalnum():
            if ch in "*?+" and head:  # quantifier binds the previous char
                head.pop()
            break
        head.append(ch)
    return "".join(head)


def regexp_topk(
    docs: DataFrame,
    pattern: str,
    k: int = 10,
    *,
    max_expansions: int = MAX_EXPANSIONS,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive regexp query → (doc_id, score=1.0), doc_id asc.

    Same MultiTermQuery rewrite contract as wildcard: whole-term match
    against the dictionary, dictionary-order expansions (capped), run
    as a ConstantScore OR."""
    rx = _check_regexp(pattern)
    rows = (
        _vocab(docs, text_col, analyzer)
        .filter(F.col("term").rlike(rx))
        .orderBy("term")
        .limit(max_expansions)
        .collect()
    )
    terms = [r["term"] for r in rows]
    return _const_score_any(docs, terms, k, id_col, text_col, analyzer)


def regexp_topk_sql(
    pattern: str,
    k: int = 10,
    *,
    max_expansions: int = MAX_EXPANSIONS,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    toks = duckdb_tokens_expr(text_col, analyzer)
    rx = _check_regexp(pattern).replace("'", "''")
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS tl FROM {table}
  WHERE {text_col} IS NOT NULL
),
vocab AS (SELECT DISTINCT u.t AS term FROM base, unnest(tl) AS u(t)),
exp AS (
  SELECT term FROM vocab WHERE regexp_matches(term, '{rx}')
  ORDER BY term LIMIT {max_expansions}
),
el AS (SELECT coalesce(list(term), []) AS ts FROM exp)
SELECT doc_id, 1.0 AS score FROM base, el
WHERE len(list_intersect(tl, ts)) > 0
ORDER BY doc_id ASC LIMIT {k}
""".strip()


def regexp_search(index, pattern: str, k: int = 10,
                  *, max_expansions: int = MAX_EXPANSIONS) -> DataFrame:
    """Engine path: lexicon regexp rewrite (literal-head range-pruned)
    → pruned-postings constant score — rank-identical to
    :func:`regexp_topk` (pytest-pinned)."""
    terms = rewrite(
        index.spark, index.index_dir, head=_regexp_literal_head(pattern),
        where=F.col("term").rlike(_check_regexp(pattern)),
        max_expansions=max_expansions,
    )
    return _indexed_const_score(index, terms, k)

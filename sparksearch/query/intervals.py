"""``intervals`` query — proximity rules over per-slot term ALTERNATIVES.

OpenSearch's ``intervals`` query (Lucene ``IntervalQuery``) matches a
tree of interval rules over one field: ``match`` (the analyzed query's
terms within ``max_gaps``, ``ordered`` or not), ``any_of`` (union of
sub-rules), ``all_of`` (combine sub-rules, again with ``max_gaps`` /
``ordered``).  The reference reaches this surface through the same
`_search` bodies as every other query operator
(`keyword_search/functions/helper_functions.py` builds the query DSL;
the engine behind it is what this module re-implements Spark-first).

Pinned subset — the canonical normal form ``all_of(ordered?, max_gaps,
[any_of(g_1), …, any_of(g_m)])``, i.e. a sequence of m SLOTS, each slot
a set of alternative terms:

* a plain ``match`` rule is the special case of singleton slots (its
  analyzed terms in order), so ``intervals match == match_phrase
  slop=max_gaps`` under the ordered pin and ``span_near`` under the
  unordered one;
* a top-level ``any_of`` of single terms is ``span_or``
  (`query/spans.py`) — both already gated; this module implements the
  genuinely new semantics: alternatives INSIDE a proximity rule.

tf pin (the span family's anchored-window rule — documented deviation
from Lucene's minimal-interval enumeration, whose per-interval
``1/(1+width)`` weights cannot be pinned bit-identically cross-engine):

* slots must be pairwise disjoint, every alternative a single
  analyzer token (validated); ``max_gaps >= 0`` (the unbounded ``-1``
  degenerates to a bool AND of any_ofs — use the bool query);
* ordered — tf = #anchors p with ``toks[p] ∈ slot_0`` and a greedy
  earliest-occurrence chain matching slot_1..slot_{m-1} in order
  within ``p + m-1+max_gaps``.  Greedy is existence-exact: taking
  each slot's earliest in-window occurrence after the previous match
  minimizes the chain's end, so a chain fits iff the greedy one does
  (the sloppy-phrase argument, unchanged by set-valued slots).
* unordered — tf = #anchor positions p where ``toks[p]`` belongs to
  any slot and the window ``toks[p .. p+m-1+max_gaps]`` holds ≥1
  member of EVERY slot (disjointness makes per-slot counting
  unambiguous — one token satisfies exactly one slot).

Scoring: the tf above as one BM25 pseudo-term (``query/bm25.py``:
df = docs with tf > 0, corpus-wide n_docs/avgdl, 4 dp round, doc_id-asc
ties).

Scale shape: the exhaustive tf is the token kernel of
``query/phrase.py`` (``_window_tf``, a pure-Catalyst higher-order
expression); the positional path (:func:`intervals_positional`) is the
position kernel behind the one sidecar front of ``index/positions.py``
(one leg per SLOT — a multi-term slot's lists flatten per doc — joined
on doc_id) and never touches document text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import tokenize_str, tokens_col
from sparksearch.index.positions import _proximity_scores
from sparksearch.query.bm25 import pseudo_term_topk, topk_cut
from sparksearch.query.phrase import _window_tf
from sparksearch.query.spans import _span_bm25_sql, _sql_quote


def _validate_slots(slots: list[list[str]], analyzer: str) -> list[list[str]]:
    """≥2 disjoint slots; each alternative one analyzer token."""
    if not slots or len(slots) < 2:
        raise ValueError("intervals needs >= 2 slots (use match/term otherwise)")
    seen: set[str] = set()
    out = []
    for g in slots:
        if not g:
            raise ValueError("intervals slot must be non-empty")
        alts = sorted(set(g))
        for t in alts:
            if tokenize_str(t, analyzer) != [t]:
                raise ValueError(
                    f"intervals alternative {t!r} is not a single "
                    f"{analyzer!r} analyzer token — pass analyzer-space terms"
                )
            if t in seen:
                raise ValueError(
                    f"intervals slots must be disjoint ({t!r} repeats)"
                )
            seen.add(t)
        out.append(alts)
    return out


def intervals_tf_col(
    toks: Column, slots: list[list[str]], max_gaps: int = 0,
    *, ordered: bool = True,
) -> Column:
    """Column: intervals frequency under the pinned anchored-window
    spec (module docstring).  ``slots`` must be pre-validated."""
    if max_gaps < 0:
        raise ValueError("max_gaps must be >= 0 (use a bool query for -1)")
    return _window_tf(toks, slots, max_gaps, ordered=ordered)


def _intervals_tf_sql(
    toks_expr: str, slots: list[list[str]], max_gaps: int, ordered: bool
) -> str:
    m = len(slots)

    def lits(g):
        return "[" + ", ".join(_sql_quote(t) for t in g) + "]"

    if ordered:
        win = m - 1 + max_gaps
        s = f"({toks_expr})[i + 1 : i + {win}]"
        chain = None
        for j in range(1, m):
            prev = f" AND i{j} > ({chain})" if chain is not None else ""
            chain = (
                f"list_min(list_filter(range(1, len({s}) + 1), "
                f"i{j} -> list_contains({lits(slots[j])}, ({s})[i{j}])"
                f"{prev}))"
            )
        cond = (
            f"list_contains({lits(slots[0])}, ({toks_expr})[i]) "
            f"AND ({chain}) IS NOT NULL"
        )
    else:
        w = m + max_gaps
        every = lits(sorted({t for g in slots for t in g}))
        conds = [f"list_contains({every}, ({toks_expr})[i])"]
        for g in slots:
            conds.append(
                f"len(list_filter(({toks_expr})[i : i + {w} - 1], "
                f"x -> list_contains({lits(g)}, x))) >= 1"
            )
        cond = " AND ".join(conds)
    return (
        f"CASE WHEN len({toks_expr}) >= {m} THEN "
        f"len(list_filter(range(1, len({toks_expr}) + 1), i -> {cond})) "
        f"ELSE 0 END"
    )


def intervals_topk(
    docs: DataFrame,
    slots: list[list[str]],
    k: int = 10,
    *,
    max_gaps: int = 0,
    ordered: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """Exhaustive intervals top-k → (doc_id, score)."""
    slots = _validate_slots(slots, analyzer)
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        tokens_col(text_col, analyzer).alias("toks"),
    )
    stats = base.select(
        "doc_id",
        F.size("toks").alias("dl"),
        intervals_tf_col(
            F.col("toks"), slots, max_gaps, ordered=ordered
        ).alias("tf"),
    )
    return pseudo_term_topk(stats, k, k1, b)


def intervals_sql(
    slots: list[list[str]],
    k: int = 10,
    *,
    max_gaps: int = 0,
    ordered: bool = True,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`intervals_topk` (same tf/df/rounding)."""
    slots = _validate_slots(slots, analyzer)
    if max_gaps < 0:
        raise ValueError("max_gaps must be >= 0 (use a bool query for -1)")
    stf = _intervals_tf_sql("tl", slots, max_gaps, ordered)
    return _span_bm25_sql(stf, k, table, id_col, text_col, k1, b, analyzer)


def intervals_positional(
    index, slots: list[list[str]], k: int = 10, *,
    max_gaps: int = 0, ordered: bool = True,
) -> DataFrame:
    """intervals top-k from the positions sidecar alone — no corpus
    read.  One leg per SLOT (a multi-term slot's position lists
    flattened per doc), joined on doc_id (docs missing any slot can't
    match); the pinned anchored-window tf then evaluates on position
    arrays.  Rank-identical to :func:`intervals_topk` (pytest-pinned).
    A slot with every alternative OOV empties the conjunction; OOV
    alternatives inside a surviving slot just drop."""
    analyzer = index.meta.get("analyzer", "ascii")
    slots = _validate_slots(slots, analyzer)
    if max_gaps < 0:
        raise ValueError("max_gaps must be >= 0 (use a bool query for -1)")
    return topk_cut(
        _proximity_scores(index, slots, max_gaps, ordered=ordered), k
    )

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

Scale shape: the exhaustive tf is a pure-Catalyst higher-order
expression (no UDF, no explode, whole-stage codegen); the positional
path (:func:`intervals_positional`) reads one bucket-pruned positions
slice per SLOT (union of the slot's term-id position lists — an
array-flatten groupBy, slot-count joins on doc_id) and never touches
document text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str, tokens_col
from sparksearch.query.bm25 import (
    indexed_pseudo_term_scores,
    pseudo_term_topk,
    topk_cut,
)
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


def _in(group: list[str]):
    arr = F.array(*[F.lit(t) for t in group])
    return lambda x: F.array_contains(arr, x)


def intervals_tf_col(
    toks: Column, slots: list[list[str]], max_gaps: int = 0,
    *, ordered: bool = True,
) -> Column:
    """Column: intervals frequency under the pinned anchored-window
    spec (module docstring).  ``slots`` must be pre-validated."""
    if max_gaps < 0:
        raise ValueError("max_gaps must be >= 0 (use a bool query for -1)")
    m = len(slots)
    if ordered:
        rest = F.array(
            *[F.array(*[F.lit(t) for t in g]) for g in slots[1:]]
        )
        win = m - 1 + max_gaps
        in0 = _in(slots[0])

        def _anchor_ok(i):
            matched = F.aggregate(
                F.slice(toks, i + 1, win),
                F.lit(0),
                lambda acc, x: F.when(
                    (acc < m - 1)
                    & F.array_contains(F.element_at(rest, acc + 1), x),
                    acc + 1,
                ).otherwise(acc),
            )
            return in0(F.element_at(toks, i)) & (matched == m - 1)

    else:
        w = m + max_gaps  # window length including the anchor
        members = _in(sorted({t for g in slots for t in g}))
        checks = [_in(g) for g in slots]

        def _anchor_ok(i):
            win_sl = F.slice(toks, i, w)
            cond = members(F.element_at(toks, i))
            for chk in checks:
                cond = cond & (F.size(F.filter(win_sl, chk)) >= 1)
            return cond

    starts = F.sequence(F.lit(1), F.size(toks))
    hits = F.size(F.filter(starts, _anchor_ok))
    return F.when(F.size(toks) >= m, hits).otherwise(F.lit(0))


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


def _gt(prev):
    return lambda q: q > prev


def intervals_positional(
    index, slots: list[list[str]], k: int = 10, *,
    max_gaps: int = 0, ordered: bool = True,
) -> DataFrame:
    """intervals top-k from the positions sidecar alone — no corpus
    read.  One bucket-pruned slice per SLOT: the slot's per-term
    position lists union into one sorted array (array-flatten groupBy),
    the slot frames join on doc_id (docs missing any slot can't match),
    then the pinned anchored-window tf evaluates on position arrays
    (0-based sidecar positions; the window arithmetic is
    shift-invariant).  Rank-identical to :func:`intervals_topk`
    (pytest-pinned).  A slot with every alternative OOV empties the
    conjunction; OOV alternatives inside a surviving slot just drop."""
    analyzer = index.meta.get("analyzer", "ascii")
    slots = _validate_slots(slots, analyzer)
    if max_gaps < 0:
        raise ValueError("max_gaps must be >= 0 (use a bool query for -1)")
    info = index.lookup_terms(sorted({t for g in slots for t in g}))
    slot_ids = [sorted({info[t][0] for t in g if t in info}) for g in slots]
    if any(not ids for ids in slot_ids):
        return index.spark.createDataFrame([], "doc_id long, score double")
    meta = index.meta
    pos = index.blocks({tid for ids in slot_ids for tid in ids}, "positions")
    legs = []
    for j, ids in enumerate(slot_ids):
        leg = (
            pos.filter(F.col("term_id").isin(ids))
            .groupBy("doc_id")
            .agg(
                *([F.first("dl").alias("dl")] if j == 0 else []),
                F.array_sort(
                    F.flatten(F.collect_list("positions"))
                ).alias(f"p{j}"),
            )
        )
        legs.append(leg)
    joined = legs[0]
    for leg in legs[1:]:
        joined = joined.join(leg, "doc_id")
    m = len(slots)
    span_end = m - 1 + max_gaps  # window END offset from the anchor

    if ordered:

        def _ok(p):
            prev = p
            for j in range(1, m):
                prev = F.array_min(F.filter(F.col(f"p{j}"), _gt(prev)))
            return prev.isNotNull() & (prev <= p + span_end)

        anchors = F.col("p0")
    else:

        def _count_in(col_name: str, p):
            def inside(q):
                return (q >= p) & (q <= p + span_end)

            return F.size(F.filter(F.col(col_name), inside))

        def _ok(p):
            cond = F.lit(True)
            for j in range(m):
                cond = cond & (_count_in(f"p{j}", p) >= 1)
            return cond

        anchors = F.col("p0")
        for j in range(1, m):
            anchors = F.array_union(anchors, F.col(f"p{j}"))

    tf_col = F.size(F.filter(anchors, _ok))
    tf_frame = joined.select("doc_id", "dl", tf_col.alias("tf"))
    return topk_cut(indexed_pseudo_term_scores(tf_frame, meta), k)

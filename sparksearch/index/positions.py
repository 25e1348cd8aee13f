"""Positional postings sidecar + index-resident phrase verification.

Lucene stores term POSITIONS in the postings (the text-field default,
``IndexOptions.DOCS_AND_FREQS_AND_POSITIONS``), so the ``match_phrase``
queries the reference delegates to OpenSearch
(`keyword_search/functions/helper_functions.py` issues `_search` bodies;
phrase semantics are Lucene `PhraseQuery`) verify adjacency from the
index alone — they never re-read document text.  sparksearch's default
indexed phrase path (`query.phrase.match_phrase_indexed`) verifies on
the candidate docs' re-analyzed text instead: correct, but at 100 TB a
head-term conjunction makes the verification read corpus-proportional
TEXT.  This sidecar restores Lucene's answer: store positions once at
build time, verify phrases against position lists that are orders of
magnitude smaller than the text.

Layout (opt-in, like the lexicon):

    positions/term_bucket=<b>/*.parquet
        (term_id long, doc_id long, dl int, positions array<int>)

``term_bucket = pmod(term_id, n_buckets)`` — the SAME routing as
postings/stats, so a phrase query's scan prunes to the query terms'
buckets (PartitionFilters) and the ``term_id IN`` predicate pushes into
parquet row-group stats (rows are term_id-sorted within files).

Build is row-local, exactly the stage-A shape (`build._tf_rows`): sort
each document's ``(token_hash, position)`` PAIRS, run-length split —
the per-(doc, term) position lists fall out of the runs in ascending
order.  NO corpus-wide exchange; the hive-partitioned write is the only
shuffle-like step, and it is a write-side fan-out, not a groupBy.

Query: every phrase, span and intervals query reads the sidecar through
ONE front, :func:`_position_legs` — the one ``blocks(…, "positions")``
read, one leg per slot (a slot is a list of alternative terms: a
single-term slot selects its rows, a multi-term slot flattens its
lists per doc) — and counts through ONE kernel, :func:`_positions_tf`,
with three rules: exact (a phrase's matches are

    tf(d) = | pos(t0) ∩ (pos(t1) − 1) ∩ ... ∩ (pos(t_{m-1}) − (m−1)) |

— ``array_intersect`` over shifted position arrays; positions are
distinct within a list, so the set-intersect IS the start-position
count, overlaps included), ordered (the greedy ``array_min`` chain) and
unordered (window counts with multiplicity).  :func:`_proximity_scores`
inner-joins the legs on doc_id (the conjunction — no separate postings
decode) and scores the tf; span_or/span_not join the front's legs
their own way.  The token-array twin of the kernel is
``query.phrase._anchor_rule``/``_window_tf``.  Scoring/tie-break/
rounding mirror the exhaustive paths exactly, so results are
rank-identical (pinned in tests/test_positions.py and
tests/test_proximity_differential.py; driver gate `phrase_positional`
runs the engine against the exhaustive DuckDB oracle).

Staleness: ``meta.positions_gen`` stamps the generation the sidecar was
built at; every mutation bumps ``meta.gen``, so a stale sidecar is
detected on first use and refused with a rebuild hint (positions are
derived data — rebuild is always safe).
"""

from __future__ import annotations

import os
from collections import Counter

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparksearch.analyze import tokens_col
from sparksearch.index import manifest as mf
from sparksearch.query.bm25 import indexed_pseudo_term_scores, topk_cut
from sparksearch.query.wand import _tfn, lucene_idf


def positions_path(index_dir: str) -> str:
    return os.path.join(index_dir, "positions")


def build_positions(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One analysis pass over ``docs`` → ``positions/`` sidecar.

    ``docs`` must be the same corpus (and the index meta's analyzer is
    always used) so positions agree with the packed postings.  Single-
    field indexes only — the reference's phrase queries target one text
    field; a multi-field sidecar would salt term ids per namespace.
    """
    meta = mf.read_meta(index_dir)
    analyzer = meta.get("analyzer", "ascii")
    n_buckets = int(meta["n_buckets"])
    base = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            tokens_col(text_col, analyzer).alias("toks"),
        )
        .filter(F.size("toks") > 0)  # zero-token docs hold no positions
        .select(
            "doc_id",
            F.size("toks").alias("dl"),
            # sort (hash, position) PAIRS: runs are per-term with
            # ascending positions — same row-local RLE as stage A
            F.array_sort(
                F.zip_with(
                    F.transform("toks", lambda t: F.xxhash64(t)),
                    F.sequence(F.lit(0), F.size("toks") - 1),
                    lambda h, p: F.struct(h.alias("h"), p.alias("p")),
                )
            ).alias("zp"),
        )
    )
    with_runs = base.select(
        "doc_id",
        "dl",
        "zp",
        F.transform("zp", lambda z: z["h"]).alias("srt"),
    ).select(
        "doc_id",
        "dl",
        "zp",
        "srt",
        F.filter(
            F.sequence(F.lit(0), F.col("dl") - 1),
            lambda i: (i == F.lit(0))
            | (F.get("srt", i) != F.get("srt", i - 1)),
        ).alias("starts"),
    )
    rows = (
        with_runs.select(
            "doc_id",
            "dl",
            F.explode(
                F.transform(
                    "starts",
                    lambda s, j: F.struct(
                        F.get("srt", s).alias("term_id"),
                        F.transform(
                            F.slice(
                                "zp",
                                s + 1,
                                F.coalesce(F.get("starts", j + 1), F.col("dl"))
                                - s,
                            ),
                            lambda z: z["p"],
                        ).alias("positions"),
                    ),
                )
            ).alias("e"),
        )
        .select(
            F.col("e.term_id").alias("term_id"),
            "doc_id",
            "dl",
            F.col("e.positions").cast("array<int>").alias("positions"),
            F.pmod(F.col("e.term_id"), F.lit(n_buckets)).alias("term_bucket"),
        )
        # bucket-then-term sort within tasks ⇒ each written file is
        # term_id-sorted ⇒ parquet row-group min/max prune term_id IN
        .sortWithinPartitions("term_bucket", "term_id")
    )
    out = positions_path(index_dir)
    rows.write.mode("overwrite").partitionBy("term_bucket").parquet(out)
    meta = mf.read_meta(index_dir)  # re-read: build may run concurrently
    meta["has_positions"] = True
    meta["positions_gen"] = int(meta.get("gen", 0))
    mf.write_meta(index_dir, meta)


def _position_legs(index, slots: list[list[str]]) -> list[DataFrame | None]:
    """The positions front: the one sidecar read for ``slots`` (lists of
    alternative terms), resolved once through ``lookup_terms``.

    One (doc_id, dl, p) leg per slot — a single-term slot selects its
    rows; a multi-term slot flattens its terms' lists per doc (distinct
    terms never share a position, so the flatten IS the union).  OOV
    alternatives drop out; a slot with no in-vocabulary term gives
    None, and each caller decides what an empty slot means."""
    info = index.lookup_terms(sorted({t for g in slots for t in g}))
    ids = [sorted({info[t][0] for t in g if t in info}) for g in slots]
    if not any(ids):
        return [None] * len(slots)
    pos = index.blocks({tid for g in ids for tid in g}, "positions")

    def leg(g: list[int]) -> DataFrame:
        if len(g) == 1:
            return pos.filter(F.col("term_id") == g[0]).select(
                "doc_id", "dl", F.col("positions").alias("p")
            )
        return (
            pos.filter(F.col("term_id").isin(g))
            .groupBy("doc_id")
            .agg(
                F.first("dl").alias("dl"),
                F.flatten(F.collect_list("positions")).alias("p"),
            )
        )

    return [leg(g) if g else None for g in ids]


def _count_within(arr: Column, lo: Column, hi: Column) -> Column:
    """Column: elements of the position array ``arr`` in [lo, hi]."""
    return F.size(F.filter(arr, lambda q: (q >= lo) & (q <= hi)))


def _positions_tf(mult: list[int], gaps: int, ordered: bool) -> Column:
    """Column: the anchored-window tf over the legs ``p0..p{n-1}``, leg j
    standing for ``mult[j]`` slots — the one proximity kernel over
    position arrays (0-based; the window arithmetic is shift-invariant,
    so it pins to the token kernel ``query.phrase._anchor_rule``).
    Each lambda runs when its Column is built, so the
    loop variables bind at once (never pass them as default arguments:
    a two-parameter lambda is read by PySpark as the (element, index)
    form).

    * exact (ordered, ``gaps=0``): ``|p0 ∩ (p1 − 1) ∩ … ∩ (p{m-1} −
      (m−1))|`` — positions are distinct within a list, so the
      set-intersect IS the start-position count, overlaps included;
    * ordered: anchors a in p0 whose greedy chain q_j = min{q ∈ p_j :
      q > q_{j-1}} ends within a + m-1+gaps;
    * unordered (legs are the distinct slots): anchors a in any leg with
      at least ``mult[j]`` positions of leg j in [a, a + m-1+gaps].

    ``m = sum(mult)`` counts the slots.
    """
    n, m = len(mult), sum(mult)
    p = [F.col(f"p{j}") for j in range(n)]
    end = m - 1 + gaps
    if ordered and (gaps == 0 or m == 1):
        acc = p[0]
        for j in range(1, n):
            acc = F.array_intersect(acc, F.transform(p[j], lambda x: x - F.lit(j)))
        return F.size(acc)
    if ordered:

        def _ok(a):
            q = a
            for j in range(1, n):
                q = F.array_min(F.filter(p[j], lambda x: x > q))
            return F.coalesce(q - a <= end, F.lit(False))

        return F.size(F.filter(p[0], _ok))
    anchors = p[0]
    for j in range(1, n):
        anchors = F.array_union(anchors, p[j])

    def _ok(a):
        cond = F.lit(True)
        for j, c in enumerate(mult):
            cond = cond & (_count_within(p[j], a, a + end) >= c)
        return cond

    return F.size(F.filter(anchors, _ok))


def _proximity_scores(index, slots: list[list[str]], gaps: int = 0, *,
                      ordered: bool = True) -> DataFrame:
    """(doc_id, raw) for EVERY doc whose anchored-window tf over
    ``slots`` is > 0: the inner-joined legs of :func:`_position_legs`
    (the conjunction; an empty slot empties it) through
    :func:`_positions_tf`, scored as one BM25 pseudo-term with the
    index's corpus stats.  Reads position lists only, never text."""
    mult = [1] * len(slots)
    if not ordered:
        counts = Counter(tuple(sorted(set(g))) for g in slots)
        slots = [list(g) for g in sorted(counts)]
        mult = [counts[tuple(g)] for g in slots]
    legs = _position_legs(index, slots)
    if any(leg is None for leg in legs):
        return index.spark.createDataFrame([], "doc_id long, raw double")
    joined = legs[0].select("doc_id", "dl", F.col("p").alias("p0"))
    for j, leg in enumerate(legs[1:], 1):
        joined = joined.join(leg.select("doc_id", F.col("p").alias(f"p{j}")), "doc_id")
    tf = _positions_tf(mult, gaps, ordered)
    return indexed_pseudo_term_scores(
        joined.select("doc_id", "dl", tf.alias("tf")), index.meta
    )


def phrase_scores_all(index, terms: list[str], slop: int = 0) -> DataFrame:
    """(doc_id, raw) for EVERY doc matching the phrase ``terms`` — the
    full match set a bool conjunction needs, unrounded and unsorted.
    Same tf semantics / BM25 globals as :func:`match_phrase_positional`
    (which is the top-k over this frame); ``slop>0`` applies the pinned
    ordered-window rule (``query.phrase.phrase_tf_col``)."""
    if not terms:
        return index.spark.createDataFrame([], "doc_id long, raw double")
    return _proximity_scores(index, [[t] for t in terms], slop)


def match_phrase_positional(
    index, phrase: str, k: int = 10, *, slop: int = 0
) -> DataFrame:
    """Phrase top-k from the positions sidecar alone — no corpus read.

    Rank-identical to ``query.phrase.match_phrase_topk`` (same tf
    semantics: start positions, overlaps counted; same BM25 globals
    from meta; same rounding/tie-break).  The plan reads m bucket-pruned
    parquet slices (one per phrase term, term_id row-group-pruned),
    inner-joins them on doc_id (the conjunction), and counts adjacency
    via ``array_intersect`` of shifted position arrays — verification
    touches position lists only, never document text.
    """
    return topk_cut(phrase_scores_all(index, index._tokenize(phrase), slop), k)


def match_phrase_prefix_positional(
    index, phrase: str, k: int = 10, *, max_expansions: int | None = None
) -> DataFrame:
    """match_phrase_prefix from the positions + lexicon sidecars alone.

    The last analyzed term expands through the term dictionary
    (dictionary order, capped — Lucene MatchPhrasePrefixQuery) into the
    last slot's alternatives; adjacency then counts exactly like
    :func:`match_phrase_positional`.  Rank-identical to
    ``query.phrase.match_phrase_prefix_topk`` (pytest) — no corpus read.
    """
    from sparksearch.index.lexicon import MAX_EXPANSIONS, expand_prefix

    if max_expansions is None:
        max_expansions = MAX_EXPANSIONS
    index._refresh_if_stale()
    terms = index._tokenize(phrase)
    expansions = (
        expand_prefix(index.spark, index.index_dir, terms[-1], max_expansions)
        if terms else []
    )
    if not expansions:
        return index.spark.createDataFrame([], "doc_id long, score double")
    slots = [[t] for t in terms[:-1]] + [expansions]
    return topk_cut(_proximity_scores(index, slots), k)


# Driver-path phrase budget: positions volume (Σ collection-frequency
# of the phrase terms) the coordinator is willing to read directly —
# the phrase twin of InvertedIndex.driver_path_max_postings.
PHRASE_LOCAL_MAX_POSITIONS = 5_000_000


def _round_half_up4(x: float) -> float:
    """Spark's round(col, 4) on doubles: BigDecimal.valueOf (shortest
    decimal repr — Python's repr agrees) then HALF_UP at scale 4."""
    import decimal

    return float(
        decimal.Decimal(repr(float(x))).quantize(
            decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def phrase_local(
    index,
    phrase: str,
    k: int = 10,
    *,
    max_positions: int = PHRASE_LOCAL_MAX_POSITIONS,
):
    """Driver-native positional phrase: pandas out, NO Spark job on the
    common path — the phrase twin of ``InvertedIndex.search_local``.

    The coordinator pyarrow-reads the phrase terms' bucket-pruned
    position rows (term_id predicate pushes into row-group stats) and
    verifies adjacency with one vectorized key-intersect over
    ``(doc_index << 32) | position`` int64 keys — no per-doc Python
    loop.  Result rows/scores are identical to
    :func:`match_phrase_positional` (pinned in tests): same tf/df
    semantics, same BM25 globals, same HALF_UP 4-dp rounding, same
    (score desc, doc_id asc) order.  Phrases whose positions volume
    (Σ cf of the terms, from the stats sidecar) exceeds
    ``max_positions`` transparently run the Spark plan and collect.
    """
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                          "score": pd.Series([], dtype="float64")})
    terms = index._tokenize(phrase)
    if not terms:
        return empty
    distinct = sorted(set(terms))
    info = index.lookup_terms(distinct)
    if len(info) < len(distinct):
        return empty
    meta = index.meta
    tids = [tid for tid, _, _ in info.values()]
    # budget from the stats sidecar: Σ cf == total positions to read
    st = index._driver_scan(tids, "stats", ["term_id", "cf"])
    if int(st["cf"].to_pandas().sum()) > max_positions:
        return match_phrase_positional(index, phrase, k).toPandas()
    tb = index._driver_scan(
        tids, "positions", ["term_id", "doc_id", "dl", "positions"]
    )
    tid_np = tb["term_id"].to_numpy()
    doc_np = tb["doc_id"].to_numpy()
    dl_np = tb["dl"].to_numpy()
    pos_col = tb.column("positions").combine_chunks()
    flat = pos_col.values.to_numpy().astype(np.int64, copy=False)
    offs = pos_col.offsets.to_numpy()
    lens = np.diff(offs)

    def leg(tid: int):
        """(sorted doc ids, flat (doc_row_index, pos) pairs) for a term."""
        mask = tid_np == tid
        rows = np.flatnonzero(mask)
        docs = doc_np[rows]
        order = np.argsort(docs, kind="quicksort")  # doc ids unique/term
        return docs[order], rows[order]

    tid_list = [info[t][0] for t in terms]
    docs0, rows0 = leg(tid_list[0])
    if len(docs0) == 0:
        return empty
    conj = docs0
    per_leg = [(docs0, rows0)]
    for tid in tid_list[1:]:
        dI, rI = leg(tid)
        per_leg.append((dI, rI))
        conj = np.intersect1d(conj, dI, assume_unique=True)
    if len(conj) == 0:
        return empty

    m = len(terms)

    def keys_for(docs_i, rows_i, shift: int):
        """int64 (conj_index << 32) + (position − shift + m) keys, conj
        docs only.  The +m bias keeps the low word non-negative for
        every shift in [0, m), so keys never wrap."""
        idx = np.searchsorted(conj, docs_i)
        ok = (idx < len(conj)) & (conj[np.minimum(idx, len(conj) - 1)] == docs_i)
        rows_c, idx_c = rows_i[ok], idx[ok]
        n_pos = lens[rows_c]
        didx = np.repeat(idx_c.astype(np.int64), n_pos)
        starts = offs[rows_c]
        # gather each row's positions without a Python loop
        take = np.repeat(starts, n_pos) + (
            np.arange(n_pos.sum()) - np.repeat(np.cumsum(n_pos) - n_pos, n_pos)
        )
        return (didx << 32) + (flat[take] - shift + m)

    if len(terms) == 1:
        mask = np.isin(docs0, conj)
        tf = lens[rows0[mask]].astype(np.int64)
        tf_docs = docs0[mask]
        dl = dl_np[rows0[mask]]
    else:
        acc = keys_for(*per_leg[0], 0)
        for i in range(1, len(terms)):
            acc = np.intersect1d(
                acc, keys_for(*per_leg[i], i), assume_unique=True
            )
        counts = np.bincount((acc >> 32).astype(np.int64), minlength=len(conj))
        hit = counts > 0
        tf = counts[hit]
        tf_docs = conj[hit]
        # dl from leg0 rows of the surviving docs
        idx0 = np.searchsorted(docs0, tf_docs)
        dl = dl_np[rows0[idx0]]
    if len(tf_docs) == 0:
        return empty
    raw = lucene_idf(meta["n_docs"], len(tf_docs)) * _tfn(
        tf, dl, meta["k1"], meta["b"], meta["avgdl"]
    )
    order = np.lexsort((tf_docs, -raw))[:k]
    return pd.DataFrame(
        {
            "doc_id": tf_docs[order],
            "score": [_round_half_up4(x) for x in raw[order]],
        }
    )

"""Document-at-a-time BM25 scoring over packed posting blocks.

Runs inside ``applyInPandas`` grouped by ``segment_id``: each call gets
every posting block of the query's terms within one doc_id-range segment
and returns at most k candidates; the global winner set is a tiny
``orderBy(score desc, doc_id asc).limit(k)`` merge — the Spark
restatement of OpenSearch's per-shard top-k + coordinator merge
(SURVEY §3.3; reference query body ``test_keyword_search.py:29-36``).

Format v3: blocks carry dense **ordinal** gaps (``index/ordmap.py``) and
no per-posting dl; the kernel scores in ordinal space (dl gathered from
the segment's ordinal sidecar) and converts the surviving candidate set
to doc_ids at the very end, so tie-breaks stay doc_id-ascending exactly
like the oracle regardless of ordinal assignment history.  ``lookup`` is
either a preloaded :class:`~sparksearch.index.ordmap.OrdinalMap` (driver
path — one map covers all segments) or a ``{"index_dir", "gen"}`` spec
resolved per segment inside the executor task with process-level
caching.

Scoring formula (Lucene 9 / OpenSearch 2.x BM25, the reference's default
similarity — no (k1+1) factor):

    idf  = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn  = tf / (tf + k1 · (1 - b + b · dl / avgdl))
    score(d) = Σ_{t ∈ q} idf_t · tfn(t, d)

Pruning — both paths are EXACT (tie-aware, ties by doc_id asc):

* single-term: blocks visited in descending block-bound order (bound =
  ``idf·tfn(max_tf, min_dl)`` computed with the current corpus avgdl —
  valid because tfn is monotone in tf and dl), early exit once the next
  block's bound is strictly below the kth score (block-max pruning).
* multi-term: vectorized **MaxScore** (Turtle & Flood 1995, as used by
  Lucene's WAND family).  Terms are processed in descending upper-bound
  order; once the summed bound of the remaining terms falls strictly
  below the running kth partial score θ, those terms become
  *non-essential*: they can no longer introduce a new top-k doc, so
  only blocks whose doc-id range overlaps a surviving candidate are
  decoded (``first_doc_id`` binary search), and candidates whose
  partial + remaining bound is below θ are dropped.  A head term
  ("the") in a query with any selective term therefore decodes at most
  one block per candidate instead of its whole posting list.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from sparksearch.index.codec import segmented_undelta, varint_decode
from sparksearch.index.ordmap import OrdinalMap, cached_map, cached_tombstones

SCORE_SCHEMA = "doc_id long, score double"

# how many highest-bound blocks to decode per pruning round (vector width)
_PRUNE_CHUNK = 64


def lucene_idf(n_docs: int, df: np.ndarray | float) -> np.ndarray | float:
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _decode_term(
    sub: pd.DataFrame, tombs: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Decode a set of blocks of one term → ordinals, tfs.

    Each row is a self-contained block (own first_ord + buffers), so
    any subset of rows in any order decodes correctly.  ``tombs``
    (sorted retired ordinals — generational upserts) masks dead
    postings right at the decode boundary, so every scorer sees exactly
    the live posting lists a rebuild would contain.
    """
    lens = sub["n_docs"].to_numpy(np.int64)
    firsts = sub["first_ord"].to_numpy(np.int64)
    gaps = varint_decode(b"".join(sub["ord_gaps"]), int(lens.sum() - len(lens)))
    ords = segmented_undelta(firsts, gaps, lens)
    tfs = varint_decode(b"".join(sub["tfs"]), int(lens.sum())).astype(np.float64)
    if tombs is not None and len(tombs) and len(ords):
        pos = np.searchsorted(tombs, ords)
        pos[pos == len(tombs)] = len(tombs) - 1
        keep = tombs[pos] != ords
        if not keep.all():
            ords, tfs = ords[keep], tfs[keep]
    return ords, tfs


def _sort_blocks(sub: pd.DataFrame) -> pd.DataFrame:
    """Canonical block order — (gen, segment_id, block_id) when the
    frame spans delta generations, else (segment_id, block_id)."""
    keys = ["segment_id", "block_id"]
    if "gen" in sub.columns:
        keys = ["gen"] + keys
    return sub.sort_values(keys, kind="stable").reset_index(drop=True)


def resolve_lookup(
    lookup: OrdinalMap | dict, pdf: pd.DataFrame, tombs: np.ndarray | None = None
) -> tuple[OrdinalMap, np.ndarray | None]:
    """(ordinal map, retired ordinals) for one segment group's blocks.

    A driver-side :class:`OrdinalMap` is used as is, with the caller's
    ``tombs`` (the handle caches them).  A picklable ``{"index_dir",
    "gen"}`` spec loads the group's segment sidecars and, unless
    ``tombs`` is given, the generation's tombstones — both
    process-cached inside the executor task."""
    if isinstance(lookup, OrdinalMap):
        return lookup, tombs
    segs = sorted(int(s) for s in pdf["segment_id"].unique())
    omap = cached_map(lookup["index_dir"], lookup["gen"], segs)
    if tombs is None:
        tombs = cached_tombstones(lookup["index_dir"], lookup["gen"])
    return omap, tombs


def _tfn(tfs: np.ndarray, dls: np.ndarray, k1: float, b: float, avgdl: float) -> np.ndarray:
    return tfs / (tfs + k1 * (1.0 - b + b * dls / avgdl))


def _topk(docs: np.ndarray, scores: np.ndarray, k: int) -> pd.DataFrame:
    """Exact top-k by (score desc, doc_id asc) — tie-aware.

    argpartition alone picks arbitrarily among docs tied at the kth
    score; keep the whole tie plateau, then let lexsort break ties by
    doc_id so the selected SET is deterministic (ADVICE r1).
    """
    if len(docs) > k:
        kth = scores[np.argpartition(-scores, k - 1)[k - 1]]
        keep = scores >= kth
        docs, scores = docs[keep], scores[keep]
    order = np.lexsort((docs, -scores))[:k]
    return pd.DataFrame({"doc_id": docs[order], "score": scores[order]})


def _trim_ties(docs: np.ndarray, scores: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray, float]:
    """Shrink a candidate set to the top-k plateau; returns kth score.

    Keeps every doc tied with the kth score so no tie-break-relevant doc
    is dropped before the final lexsort.
    """
    if len(docs) > k:
        kth = scores[np.argpartition(-scores, k - 1)[k - 1]]
        keep = scores >= kth
        return docs[keep], scores[keep], float(kth)
    kth = float(scores.min()) if len(docs) >= k else -math.inf
    return docs, scores, kth


def _overlap_rows(sub: pd.DataFrame, cand_ords: np.ndarray) -> np.ndarray:
    """Positional row indices of blocks that may contain any candidate.

    ``sub`` is one term's blocks sorted by (gen?, segment_id, block_id);
    within a (generation, segment) run ``first_ord`` is strictly
    increasing, so a binary search maps each candidate to the single
    block whose range could hold it.  Cost: O(runs · log blocks) instead
    of a full decode.
    """
    seg = sub["segment_id"].to_numpy()
    fd = sub["first_ord"].to_numpy(np.int64)
    new_run = seg[1:] != seg[:-1]
    if "gen" in sub.columns:
        g = sub["gen"].to_numpy()
        new_run = new_run | (g[1:] != g[:-1])
    run_starts = np.flatnonzero(np.concatenate(([True], new_run)))
    run_ends = np.append(run_starts[1:], len(seg))
    picked = []
    for a, e in zip(run_starts, run_ends):
        idx = np.searchsorted(fd[a:e], cand_ords, side="right") - 1
        idx = np.unique(idx[idx >= 0])
        if len(idx):
            picked.append(a + idx)
    if not picked:
        return np.zeros(0, np.int64)
    return np.concatenate(picked)


def make_segment_scorer(
    term_idf: dict[int, float], k1: float, b: float, avgdl: float, k: int,
    lookup: OrdinalMap | dict,
    counters: dict | None = None,
    tombs: np.ndarray | None = None,
):
    """Build the per-segment ``applyInPandas`` scoring function.

    ``lookup``: ordinal → (doc_id, dl) source — an :class:`OrdinalMap`
    (driver path / tests) or a picklable ``{"index_dir", "gen"}`` spec
    loaded per segment inside the task (executor path, process-cached;
    the spec also resolves the tombstone set).  ``tombs``: sorted
    retired ordinals masked out of every decode (driver path — the
    handle caches them).  ``counters`` (optional, driver-path/tests
    only): incremented with ``blocks_decoded`` / ``blocks_total`` for
    pruning microbenchmarks.
    """
    term_ids = sorted(term_idf)  # fixed order ⇒ deterministic float sums

    def _count(decoded: int, total: int) -> None:
        if counters is not None:
            counters["blocks_decoded"] = counters.get("blocks_decoded", 0) + decoded
            counters["blocks_total"] = counters.get("blocks_total", 0) + total

    def _block_bounds(pdf: pd.DataFrame) -> np.ndarray:
        """Per-block tfn upper bound from (max_tf, min_dl) — avgdl applied
        at query time so bounds stay valid after upserts shift avgdl."""
        return _tfn(
            pdf["max_tf"].to_numpy(np.float64),
            pdf["min_dl"].to_numpy(np.float64),
            k1, b, avgdl,
        )

    def score_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame({"doc_id": np.zeros(0, np.int64), "score": np.zeros(0)})
        omap, tb = resolve_lookup(lookup, pdf, tombs)
        if len(term_ids) == 1:
            # pdf may carry OTHER queries' term rows (search_many hands
            # every scorer the batch-union block frame) — restrict to
            # this query's term before scoring
            tid = term_ids[0]
            sub = pdf[pdf["term_id"] == tid]
            if len(sub) != len(pdf):
                sub = sub.reset_index(drop=True)
            if len(sub) == 0:
                return pd.DataFrame(
                    {"doc_id": np.zeros(0, np.int64), "score": np.zeros(0)}
                )
            return _score_single(sub, term_idf[tid], omap, tb)
        return _score_multi(pdf, omap, tb)

    def _score_multi(
        pdf: pd.DataFrame, omap: OrdinalMap, tb: np.ndarray | None
    ) -> pd.DataFrame:
        """MaxScore: essential terms decode fully; non-essential terms
        decode only candidate-overlapping blocks (exact, tie-aware).

        Float discipline: candidate scores are recomputed from per-term
        contributions in ascending term_id order after every step, so
        partial and final sums are bit-identical to an exhaustive pass
        (same addition order) — pruning bounds therefore act on the true
        score values and exact ties resolve like the oracle's.
        """
        subs: dict[int, pd.DataFrame] = {}
        ub: dict[int, float] = {}
        for tid in term_ids:
            sub = pdf[pdf["term_id"] == tid]
            if len(sub) == 0:
                continue
            subs[tid] = _sort_blocks(sub)
            ub[tid] = term_idf[tid] * float(_block_bounds(subs[tid]).max())
        if not subs:
            return pd.DataFrame({"doc_id": np.zeros(0, np.int64), "score": np.zeros(0)})
        order = sorted(subs, key=lambda t: (-ub[t], t))
        # suffix[i] = Σ upper bounds of terms i.. — the most a doc first
        # seen at term i can still score
        suffix = np.zeros(len(order) + 1)
        for i in range(len(order) - 1, -1, -1):
            suffix[i] = suffix[i + 1] + ub[order[i]]
        contribs: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        cand_docs = np.zeros(0, np.int64)
        cand_scores = np.zeros(0, np.float64)
        theta = -math.inf  # kth-largest partial score: lower bound on kth final
        for i, tid in enumerate(order):
            sub = subs[tid]
            idf = term_idf[tid]
            if len(cand_docs) >= k:
                theta = float(
                    np.partition(cand_scores, len(cand_scores) - k)[len(cand_scores) - k]
                )
            if len(cand_docs) < k or suffix[i] >= theta:
                # essential: a new doc could still reach the top-k
                # (>= not >: a doc scoring exactly theta can win ties on
                # doc_id) — decode the whole list
                docs, tfs = _decode_term(sub, tb)
                scores = idf * _tfn(tfs, omap.dls_of(docs), k1, b, avgdl)
                _count(len(sub), len(sub))
            else:
                # non-essential: no new doc can enter; drop dead
                # candidates, decode only blocks overlapping survivors
                keep = cand_scores + suffix[i] >= theta
                if not keep.all():
                    cand_docs, cand_scores = cand_docs[keep], cand_scores[keep]
                    for t2, (cd, cs) in contribs.items():
                        m2 = np.isin(cd, cand_docs, assume_unique=True)
                        contribs[t2] = (cd[m2], cs[m2])
                rows = _overlap_rows(sub, cand_docs)
                _count(len(rows), len(sub))
                if len(rows) == 0:
                    continue
                docs, tfs = _decode_term(sub.iloc[rows], tb)
                scores = idf * _tfn(tfs, omap.dls_of(docs), k1, b, avgdl)
                m = np.isin(docs, cand_docs, assume_unique=True)
                docs, scores = docs[m], scores[m]
                if len(docs) == 0:
                    continue
            contribs[tid] = (docs, scores)
            # canonical recompute: concat in ascending term_id order so
            # bincount's accumulation order matches the exhaustive pass
            tids_sorted = sorted(contribs)
            all_docs = np.concatenate([contribs[t][0] for t in tids_sorted])
            all_scores = np.concatenate([contribs[t][1] for t in tids_sorted])
            uniq, inv = np.unique(all_docs, return_inverse=True)
            cand_scores = np.bincount(inv, weights=all_scores, minlength=len(uniq))
            cand_docs = uniq
        # ordinal space → doc_id space only for the survivors; _topk's
        # (score desc, doc_id asc) tie-break then matches the oracle
        return _topk(omap.docs_of(cand_docs), cand_scores, k)

    def _score_single(
        pdf: pd.DataFrame, idf: float, omap: OrdinalMap, tb: np.ndarray | None
    ) -> pd.DataFrame:
        """Block-max pruned single-term top-k (exact, tie-aware)."""
        bounds = _block_bounds(pdf)
        order = np.argsort(-bounds, kind="stable")
        pdf = pdf.iloc[order]
        ubs = idf * bounds[order]
        best_docs = np.zeros(0, np.int64)
        best_scores = np.zeros(0, np.float64)
        kth = -math.inf
        for start in range(0, len(pdf), _PRUNE_CHUNK):
            if len(best_docs) >= k and ubs[start] < kth:
                # strict <: a block whose bound EQUALS kth can still tie
                # into the top-k on doc_id order
                _count(0, len(pdf) - start)
                break
            chunk = _sort_blocks(pdf.iloc[start : start + _PRUNE_CHUNK])
            docs, tfs = _decode_term(chunk, tb)
            _count(len(chunk), len(chunk))
            scores = idf * _tfn(tfs, omap.dls_of(docs), k1, b, avgdl)
            best_docs = np.concatenate([best_docs, docs])
            best_scores = np.concatenate([best_scores, scores])
            best_docs, best_scores, kth = _trim_ties(best_docs, best_scores, k)
        return _topk(omap.docs_of(best_docs), best_scores, k)

    return score_segment


def make_batch_scorer(
    per_query: dict[str, dict[int, float]], k1: float, b: float, avgdl: float,
    k: int, lookup: OrdinalMap | dict,
    tombs: np.ndarray | None = None,
):
    """Score MANY queries against one block frame, decoding each term's
    posting blocks EXACTLY ONCE (VERDICT r3 ask #8 — the per-query-scorer
    loop re-decoded every shared term per query).

    Per query the accumulation is the exhaustive canonical form —
    per-term contribution vectors concatenated in ascending term_id
    order, ``bincount`` summed — which is bit-identical to
    ``make_segment_scorer``'s pruned result (its canonical recompute
    uses the same order), so ``search_many`` ≡ per-query ``search``
    exactly.  The (idf · tfn) contribution vector is also shared: idf is
    a function of (term, corpus), so queries sharing a term share its
    contributions, not just its decode.
    """
    all_tids = sorted({t for tids in per_query.values() for t in tids})
    idf_of: dict[int, float] = {}
    for tids in per_query.values():
        idf_of.update(tids)

    def score_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        omap, tb = resolve_lookup(lookup, pdf, tombs)
        contrib: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for tid in all_tids:
            sub = pdf[pdf["term_id"] == tid]
            if len(sub) == 0:
                continue
            docs, tfs = _decode_term(_sort_blocks(sub), tb)
            contrib[tid] = (
                docs, idf_of[tid] * _tfn(tfs, omap.dls_of(docs), k1, b, avgdl)
            )
        outs = []
        for qid in sorted(per_query):
            tids = [t for t in sorted(per_query[qid]) if t in contrib]
            if not tids:
                continue
            all_docs = np.concatenate([contrib[t][0] for t in tids])
            all_scores = np.concatenate([contrib[t][1] for t in tids])
            uniq, inv = np.unique(all_docs, return_inverse=True)
            agg = np.bincount(inv, weights=all_scores, minlength=len(uniq))
            r = _topk(omap.docs_of(uniq), agg, k)
            r.insert(0, "query_id", qid)
            outs.append(r)
        if not outs:
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="str"),
                 "doc_id": np.zeros(0, np.int64), "score": np.zeros(0)}
            )
        return pd.concat(outs, ignore_index=True)

    return score_batch


def make_exhaustive_scorer(
    term_idf: dict[int, float], k1: float, b: float, avgdl: float, k: int,
    lookup: OrdinalMap | dict,
    tombs: np.ndarray | None = None,
):
    """Decode-everything DAAT scorer: no early termination.  It is the
    test oracle for the pruned kernel, and ``InvertedIndex.score_all``
    runs it with ``k`` = n_docs + 1 to emit a clause's FULL scored match
    set (bool, query_string, boosting and minimum_should_match legs;
    dis_max with a tie_breaker)."""
    term_ids = sorted(term_idf)

    def score_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        omap, tb = resolve_lookup(lookup, pdf, tombs)
        parts_d, parts_s = [], []
        for tid in term_ids:
            sub = pdf[pdf["term_id"] == tid]
            if len(sub) == 0:
                continue
            docs, tfs = _decode_term(_sort_blocks(sub), tb)
            parts_d.append(docs)
            parts_s.append(term_idf[tid] * _tfn(tfs, omap.dls_of(docs), k1, b, avgdl))
        if not parts_d:
            return pd.DataFrame({"doc_id": np.zeros(0, np.int64), "score": np.zeros(0)})
        all_docs = np.concatenate(parts_d)
        all_scores = np.concatenate(parts_s)
        uniq, inv = np.unique(all_docs, return_inverse=True)
        agg = np.bincount(inv, weights=all_scores, minlength=len(uniq))
        return _topk(omap.docs_of(uniq), agg, k)

    return score_segment

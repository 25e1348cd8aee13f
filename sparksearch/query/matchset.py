"""Match-set extraction from the packed index (no scoring).

Aggregations, phrase verification, and constant-score queries
(prefix / fuzzy) need the SET of matching doc ids, not a scored top-k.
This module decodes the query terms' pruned posting blocks per segment
and emits doc ids:

* ``mode="any"`` — docs holding at least one query term (OpenSearch
  ``match`` OR-semantics; feeds aggregations).
* ``mode="all"`` — docs holding EVERY query term (conjunction; the
  candidate superset for phrase verification — a doc can only contain
  the phrase if it contains each phrase term).

Scale shape: terms resolve through ``InvertedIndex.lookup_terms`` and
the kernels run through ``InvertedIndex.map_segments`` — the
postings-access layer in `query/topk.py` that owns the bucket- and
``term_id``-pruned read — grouped by ``segment_id`` so each task decodes
one segment's blocks and resolves ordinals through the per-segment
sidecar: the read of ``InvertedIndex.search``, minus the scoring kernel.
The corpus table is never read.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from sparksearch.index.ordmap import OrdinalMap
from sparksearch.query.wand import _decode_term, _sort_blocks, resolve_lookup

IDS_SCHEMA = StructType([StructField("doc_id", LongType(), False)])
COUNTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_matched", LongType(), False),
    ]
)
PAIRS_SCHEMA = StructType(
    [
        StructField("term_id", LongType(), False),
        StructField("doc_id", LongType(), False),
    ]
)


def _term_ords(
    pdf: pd.DataFrame, tids: list[int], lookup
) -> tuple[OrdinalMap, dict[int, np.ndarray]]:
    """One segment group's blocks → (ordinal map, {term_id: distinct
    live ordinals}) for the ``tids`` present in it — the decode loop the
    match, count and pairs kernels share."""
    omap, tb = resolve_lookup(lookup, pdf)
    hits: dict[int, np.ndarray] = {}
    for tid in tids:
        sub = pdf[pdf["term_id"] == tid]
        if len(sub):
            hits[tid] = np.unique(_decode_term(_sort_blocks(sub), tb)[0])
    return omap, hits


def make_match_kernel(term_ids: list[int], n_terms_required: int, lookup):
    """Per-segment ``applyInPandas`` kernel → doc ids with ≥ required terms.

    ``n_terms_required`` = 1 is the OR match; ``len(term_ids)`` is the
    conjunction.  ``lookup`` is the same picklable ``{"index_dir",
    "gen"}`` spec (or a driver-side :class:`OrdinalMap`) the scoring
    kernel uses.
    """
    tids = sorted(term_ids)
    need = int(n_terms_required)

    def match_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": np.zeros(0, np.int64)})
        if len(pdf) == 0:
            return empty
        omap, hits = _term_ords(pdf, tids, lookup)
        if not hits or (need == len(tids) and len(hits) < len(tids)):
            return empty
        if need <= 1:
            ords = np.unique(np.concatenate(list(hits.values())))
        elif need == len(tids):
            ords = reduce(
                lambda a, h: np.intersect1d(a, h, assume_unique=True), hits.values()
            )
        else:  # generic ≥-need counting (minimum_should_match analog)
            uniq, cnt = np.unique(np.concatenate(list(hits.values())), return_counts=True)
            ords = uniq[cnt >= need]
        if len(ords) == 0:
            return empty
        docs, _ = omap.resolve(ords)
        return pd.DataFrame({"doc_id": docs.astype(np.int64)})

    return match_segment


def make_count_kernel(term_ids: list[int], lookup):
    """Per-segment kernel → (doc_id, n_matched distinct query terms).

    The per-doc-requirement queries (``terms_set``: need read from a
    document FIELD) can't use :func:`make_match_kernel`'s fixed ``need``
    — they join this counts frame against the per-doc requirement
    instead.  Same decode, pruning, and ordinal resolution."""
    tids = sorted(term_ids)

    def count_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"doc_id": np.zeros(0, np.int64), "n_matched": np.zeros(0, np.int64)}
        )
        if len(pdf) == 0:
            return empty
        omap, hits = _term_ords(pdf, tids, lookup)
        if not hits:
            return empty
        uniq, cnt = np.unique(np.concatenate(list(hits.values())), return_counts=True)
        docs, _ = omap.resolve(uniq)
        return pd.DataFrame(
            {"doc_id": docs.astype(np.int64), "n_matched": cnt.astype(np.int64)}
        )

    return count_segment


def match_counts_for_terms(index, terms: list[str]) -> DataFrame:
    """DataFrame(doc_id, n_matched) over the pruned postings — how many
    of ``terms`` (distinct) each matching doc holds.  OOV terms simply
    never contribute; docs matching zero terms are absent."""
    terms = sorted(set(terms))
    info = index.lookup_terms(terms) if terms else {}
    if not info:
        return index.spark.createDataFrame([], COUNTS_SCHEMA)
    tids = sorted(tid for tid, _, _ in info.values())
    kernel = make_count_kernel(tids, index._lookup_spec())
    return index.map_segments(tids, kernel, COUNTS_SCHEMA)


def make_pairs_kernel(term_ids: list[int], lookup):
    """Per-segment kernel → (term_id, doc_id) PAIRS from the pruned
    postings — the raw membership relation (percolation joins stored
    queries against it).  Same decode, pruning, and ordinal resolution
    as the match/count kernels."""
    tids = sorted(term_ids)

    def pairs_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"term_id": np.zeros(0, np.int64), "doc_id": np.zeros(0, np.int64)}
        )
        if len(pdf) == 0:
            return empty
        omap, hits = _term_ords(pdf, tids, lookup)
        out_t: list[np.ndarray] = []
        out_d: list[np.ndarray] = []
        for tid, ords in hits.items():
            if len(ords) == 0:
                continue
            docs, _ = omap.resolve(ords)
            out_t.append(np.full(len(docs), tid, np.int64))
            out_d.append(docs.astype(np.int64))
        if not out_t:
            return empty
        return pd.DataFrame(
            {
                "term_id": np.concatenate(out_t),
                "doc_id": np.concatenate(out_d),
            }
        )

    return pairs_segment


def term_doc_pairs_for_ids(index, term_ids: list[int]) -> DataFrame:
    """DataFrame(term_id, doc_id) for the given term ids, decoded from
    the bucket-pruned postings (cost = Σ df over the ids)."""
    index._refresh_if_stale()
    tids = sorted(set(int(t) for t in term_ids))
    if not tids:
        return index.spark.createDataFrame([], PAIRS_SCHEMA)
    kernel = make_pairs_kernel(tids, index._lookup_spec())
    return index.map_segments(tids, kernel, PAIRS_SCHEMA)


def match_ids_df(index, query_text: str, *, mode: str = "any") -> DataFrame:
    """DataFrame(doc_id) of docs matching the query via the packed index.

    ``index`` is an ``InvertedIndex`` handle; ``mode`` is ``"any"``
    (OR) or ``"all"`` (conjunction).  OOV terms: dropped under
    ``"any"``; under ``"all"`` an OOV term means NO doc can match.
    """
    return match_ids_for_terms(
        index, sorted(set(index._tokenize(query_text))), mode=mode
    )


def match_ids_for_terms(index, terms: list[str], *, mode: str = "any",
                        min_match: int | None = None) -> DataFrame:
    """Like :func:`match_ids_df` over an already-analyzed term list
    (multi-term rewrites — prefix/fuzzy expansions — land here).

    ``min_match`` overrides ``mode`` with an explicit ≥-n distinct-term
    requirement (the ``minimum_should_match`` engine leg): OOV terms
    can never be matched, so in-vocab terms < n ⇒ empty.
    """
    empty = index.spark.createDataFrame([], IDS_SCHEMA)
    terms = sorted(set(terms))
    if not terms:
        return empty
    info = index.lookup_terms(terms)
    if mode == "all" and len(info) < len(terms):
        return empty  # an OOV conjunct
    if min_match is not None and len(info) < min_match:
        return empty
    if not info:
        return empty
    tids = sorted(tid for tid, _, _ in info.values())
    need = (
        int(min_match) if min_match is not None
        else (len(tids) if mode == "all" else 1)
    )
    kernel = make_match_kernel(tids, need, index._lookup_spec())
    return index.map_segments(tids, kernel, IDS_SCHEMA)

"""Multi-index federated search — ``GET /idx1,idx2/_search`` with
``dfs_query_then_fetch`` semantics.

OpenSearch lets one request search several indices; with
``search_type=dfs_query_then_fetch`` it first collects GLOBAL term
statistics (df summed across shards/indices, global doc count) so
scores are comparable across indices — without it, per-shard idf makes
the merged ranking layout-dependent.  The reference's three-node
cluster serves exactly this shape (`notes/02`: 3 shards per index).

Spark-first re-expression: each index contributes its pruned-postings
scoring leg (the same per-segment MaxScore kernel as
``InvertedIndex.search``), but every leg scores with the MERGED
statistics — ``df_g = Σ df_i``, ``n_g = Σ n_docs_i``, ``avgdl_g =
Σ total_tokens_i / n_g`` — and the legs union into ONE
TakeOrderedAndProject.  Identity (pytest-pinned): if the indices
partition a corpus, ``search_multi`` over them is rank- and
score-identical to ``search`` over a single index of the whole corpus,
because every BM25 input (tf, dl, df_g, n_g, avgdl_g) is equal.  That
is the multi-node story stated as an equation: shard the corpus into
as many indices as you like, federated scoring is invariant.

Requirements: the indices must share analyzer/k1/b (checked) and hold
disjoint doc_ids (a doc indexed twice would appear twice — same as
OpenSearch searching two indices containing the same _id).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparksearch.query.topk import SCORE_SCHEMA
from sparksearch.query.wand import lucene_idf, make_segment_scorer


def merged_stats(indexes, terms: list[str]) -> tuple[dict, int, float]:
    """Global (term_id → (idf_g, df_g)), n_docs_g, avgdl_g across
    ``indexes`` — the dfs phase."""
    n_g = sum(int(ix.meta["n_docs"]) for ix in indexes)
    tok_g = sum(int(ix.meta["total_tokens"]) for ix in indexes)
    avgdl_g = tok_g / n_g if n_g else 0.0
    df_g: dict[int, int] = {}
    for ix in indexes:
        for tid, _idf, df in ix.lookup_terms(terms).values():
            df_g[tid] = df_g.get(tid, 0) + df
    info = {
        tid: (float(lucene_idf(n_g, float(df))), df)
        for tid, df in df_g.items()
    }
    return info, n_g, avgdl_g


def search_multi(indexes, query_text: str, k: int = 10) -> DataFrame:
    """Federated BM25 top-k across ``indexes`` → (doc_id, score)."""
    if not indexes:
        raise ValueError("need at least one index")
    spark = indexes[0].spark
    for ix in indexes:
        ix._refresh_if_stale()
    m0 = indexes[0].meta
    for ix in indexes[1:]:
        for key in ("analyzer", "k1", "b"):
            if ix.meta.get(key) != m0.get(key):
                raise ValueError(
                    f"indices disagree on {key}: "
                    f"{ix.meta.get(key)!r} != {m0.get(key)!r}"
                )
    terms = sorted(set(indexes[0]._tokenize(query_text)))
    info, _n_g, avgdl_g = merged_stats(indexes, terms)
    if not info:
        return spark.createDataFrame([], SCORE_SCHEMA)
    term_idf = {tid: idf for tid, (idf, _df) in info.items()}
    legs = [
        ix.map_segments(
            term_idf,
            make_segment_scorer(
                term_idf, m0["k1"], m0["b"], avgdl_g, k, ix._lookup_spec()
            ),
            SCORE_SCHEMA,
        )
        for ix in indexes
    ]
    allc = reduce(DataFrame.unionByName, legs)
    return allc.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

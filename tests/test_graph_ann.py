"""Per-shard HNSW graph-ANN: determinism, recall, persisted round-trip.

Recall gate doubles as the validity proof for the driver's ``sim_hnsw``
entry: that gate hashes HNSW output against the EXACT-cosine DuckDB
oracle, which is only honest if recall is exactly 1.0 at gate scale —
asserted here (``test_gate_scale_recall_is_exact``) so a parameter
change that broke it fails pytest before it could silently rely on the
driver."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparksearch.ops.graph_ann import (
    HnswIndex,
    build_hnsw_graph,
    build_hnsw_index,
    hnsw_topk,
)
from sparksearch.ops.similarity import cosine_topk


@pytest.fixture(scope="module")
def emb(spark):
    """Deterministic synthetic embeddings (same generator family as
    /root/testdata)."""
    rng = np.random.default_rng(123)
    n, dim = 600, 32
    mat = rng.normal(size=(n, dim)).astype(np.float32)
    rows = [
        (int(i), [float(x) for x in mat[i]], int(i % 7)) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.persist().count()
    yield df
    df.unpersist()


def _graph_key(df):
    rows = df.select("shard", "vec_id", "node_level", "nbrs").collect()
    return sorted(
        (r["shard"], r["vec_id"], r["node_level"],
         tuple(tuple(layer) for layer in r["nbrs"]))
        for r in rows
    )


def test_build_deterministic_across_parallelism(spark, emb):
    g1 = build_hnsw_graph(emb.repartition(2), n_shards=4)
    g2 = build_hnsw_graph(emb.repartition(16), n_shards=4)
    assert _graph_key(g1) == _graph_key(g2)


def test_recall_at_default_params(spark, emb):
    k, hits, total = 10, 0, 0
    for qid in [5, 77, 201, 404, 598]:
        exact = [r["vec_id"] for r in cosine_topk(emb, qid, k).collect()]
        got = [r["vec_id"] for r in hnsw_topk(emb, qid, k).collect()]
        hits += len(set(exact) & set(got))
        total += k
    assert hits / total >= 0.9


def test_gate_scale_recall_is_exact(spark, emb):
    """At driver-gate scale (≤500 vecs/shard, ef_search=128) HNSW output
    must EQUAL the exact engine — rank, id, and rounded score — for the
    sim_hnsw oracle to be valid."""
    small = emb.filter(F.col("vec_id") < 500)
    for qid in [3, 142, 499]:
        exact = [tuple(r) for r in cosine_topk(small, qid, 10).collect()]
        got = [tuple(r) for r in hnsw_topk(small, qid, 10, ef_search=128).collect()]
        assert got == exact


def test_persisted_index_round_trip(spark, emb, tmp_path):
    d = str(tmp_path / "hnsw_idx")
    build_hnsw_index(spark, emb, d, n_shards=4)
    idx = HnswIndex(spark, d)
    qv = emb.filter(F.col("vec_id") == 42).head()["embedding"]
    got = [tuple(r) for r in idx.topk(qv, 10, ef_search=128,
                                      exclude_vec_id=42).collect()]
    direct = [tuple(r) for r in hnsw_topk(emb, 42, 10, ef_search=128).collect()]
    assert got == direct
    assert len(got) == 10
    assert all(r[0] != 42 for r in got)


def test_clustered_recall_kernel():
    """Tightly clustered vectors are HNSW's hard case: naive closest-m
    neighbor selection spends every link inside the local cluster and
    disconnects the graph (bench measured recall@10 0.8625 pre-fix).
    The diversity heuristic (_select_neighbors, M&Y alg. 4) must hold
    recall ≥ 0.95 on the bench's clustered distribution.  Kernel-level
    (no Spark) so the regression pins the numpy build itself."""
    from sparksearch.ops.graph_ann import (
        DEFAULT_EF_CONSTRUCTION,
        DEFAULT_EF_SEARCH,
        DEFAULT_M,
        _build_graph,
        _graph_entry,
        _search_layer,
    )

    rng = np.random.default_rng(42)
    n, dim, k, n_shards = 2000, 64, 10, 4
    centers = rng.standard_normal((20, dim))
    lab = rng.integers(0, 20, n)
    mat = centers[lab] + 0.15 * rng.standard_normal((n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    ids = np.arange(n, dtype=np.int64)

    graphs = {}
    for s in range(n_shards):
        mask = ids % n_shards == s
        sid, smat = ids[mask], mat[mask]
        levels, links, _ = _build_graph(
            sid, smat, DEFAULT_M, DEFAULT_EF_CONSTRUCTION
        )
        graphs[s] = (sid, smat, levels, links, _graph_entry(sid, levels))

    hits = 0
    qpos = list(range(0, n, n // 8))[:8]
    for p in qpos:
        q = mat[p]
        cos = mat @ q
        cos[p] = -2.0
        exact = set(ids[np.argsort(-cos, kind="stable")[:k]].tolist())
        cand = []
        for sid, smat, levels, links, entry in graphs.values():
            eps = [entry]
            for layer in range(levels[entry], 0, -1):
                eps = [_search_layer(smat, links, q, eps, 1, layer)[0][1]]
            for d, i in _search_layer(smat, links, q, eps, DEFAULT_EF_SEARCH, 0):
                if int(sid[i]) != p:
                    cand.append((d, int(sid[i])))
        cand.sort()
        hits += len(exact & {v for _, v in cand[:k]})
    assert hits / (k * len(qpos)) >= 0.95


def test_scores_match_exact_engine_bitwise(spark, emb):
    """Re-rank uses the identical JVM cosine expression as cosine_topk:
    every (id, score) pair HNSW returns must appear with the same
    rounded score in a wide exact scan."""
    exact = {r["vec_id"]: r["cos"] for r in cosine_topk(emb, 10, 50).collect()}
    for r in hnsw_topk(emb, 10, 10).collect():
        assert exact.get(r["vec_id"]) == r["cos"]


# ---------------------------------------------------------------------------
# filtered kNN (knn query with `filter` — Lucene pre-filter semantics)
# ---------------------------------------------------------------------------

def _flt(emb, mod, rem):
    return emb.filter(F.pmod(F.col("vec_id"), F.lit(mod)) == rem).select("vec_id")


def test_filtered_exact_matches_predicate_scan(spark, emb):
    """cosine_topk(filter_ids=...) ≡ cosine_topk over the pre-filtered
    frame: the filter is applied BEFORE scoring and the k cut."""
    flt = _flt(emb, 3, 1)
    got = [tuple(r) for r in cosine_topk(emb, 0, 10, filter_ids=flt).collect()]
    pre = emb.filter(
        (F.pmod(F.col("vec_id"), F.lit(3)) == 1) | (F.col("vec_id") == 0)
    )
    want = [tuple(r) for r in cosine_topk(pre, 0, 10).collect()]
    assert got == want
    assert len(got) == 10
    assert all(v % 3 == 1 for v, _ in got)


def test_filtered_hnsw_walk_path_recall(spark, emb):
    """ef_search=16 < allowed-per-shard (~50), so the filtered GRAPH WALK
    (not the exact fallback) produces candidates; recall vs the filtered
    exact scan must still be high, and output ⊆ filter always."""
    from sparksearch.ops.graph_ann import filtered_hnsw_topk

    flt = _flt(emb, 3, 1)
    k, hits, total = 10, 0, 0
    for qid in [5, 201, 598]:
        exact = [r["vec_id"] for r in
                 cosine_topk(emb, qid, k, filter_ids=flt).collect()]
        got = [r["vec_id"] for r in
               filtered_hnsw_topk(emb, qid, flt, k, ef_search=16).collect()]
        assert all(v % 3 == 1 for v in got)
        hits += len(set(exact) & set(got))
        total += k
    assert hits / total >= 0.8


def test_filtered_hnsw_exact_fallback_selective_filter(spark, emb):
    """A highly selective filter (~9 passing docs/shard < ef) must take
    the per-shard exact-scan fallback and therefore EQUAL the filtered
    exact engine bit-for-bit (Lucene's visitedLimit cost cutover)."""
    from sparksearch.ops.graph_ann import filtered_hnsw_topk

    flt = _flt(emb, 17, 2)
    got = [tuple(r) for r in
           filtered_hnsw_topk(emb, 0, flt, 10, ef_search=64).collect()]
    want = [tuple(r) for r in
            cosine_topk(emb, 0, 10, filter_ids=flt).collect()]
    assert got == want and len(got) == 10


def test_filtered_visited_limit_kernel():
    """The filtered walk (_search_layer with an allowed set) aborts
    (returns None) when it visits more nodes than visited_limit — the
    exact-scan cutover trigger."""
    from sparksearch.ops.graph_ann import (
        DEFAULT_EF_CONSTRUCTION,
        DEFAULT_M,
        _build_graph,
        _graph_entry,
        _search_layer,
    )

    rng = np.random.default_rng(7)
    n, dim = 300, 16
    mat = rng.standard_normal((n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    ids = np.arange(n, dtype=np.int64)
    levels, links, _ = _build_graph(ids, mat, DEFAULT_M, DEFAULT_EF_CONSTRUCTION)
    entry = _graph_entry(ids, levels)
    q = mat[0]
    allowed = set(range(0, n, 3))
    assert _search_layer(
        mat, links, q, [entry], 32, 0, allowed, visited_limit=5) is None
    found = _search_layer(
        mat, links, q, [entry], 32, 0, allowed, visited_limit=n)
    assert found is not None
    assert all(i in allowed for _, i in found)

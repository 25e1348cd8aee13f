"""Seeded differential test across the vector top-k paths.

With ef at least the shard size, every ANN path walks (or scans) its
whole structure, so each must return exactly the exact engine's rows,
rank- and score-identical: ``hnsw_topk``, ``HnswIndex.topk`` and
``filtered_hnsw_topk`` against ``cosine_topk`` (``filter_ids=`` for the
filtered one), ``VectorIndex.topk`` probing every cell and
``PqIndex.topk`` reranking every vector.  The exact engine in turn must
equal its DuckDB twin, ``cosine_topk_sql``.
"""

import duckdb
import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sparksearch.ops.graph_ann import (
    DEFAULT_EF_SEARCH,
    HnswIndex,
    build_hnsw_graph,
    build_hnsw_index,
    filtered_hnsw_topk,
    hnsw_topk,
)
from sparksearch.ops.pq import build_pq_index
from sparksearch.ops.similarity import (
    KM_CELLS,
    VectorIndex,
    build_vector_index,
    cosine_topk,
    cosine_topk_sql,
    query_vector,
)

N, DIM, SHARDS = 600, 32, 4
SHARD_EF = N // SHARDS  # pmod(vec_id, 4) shards hold 150 vectors each


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    rng = np.random.default_rng(2024)
    mat = rng.normal(size=(N, DIM)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(N)],
        "vec_id long, embedding array<float>",
    )
    emb.persist().count()
    d = tmp_path_factory.mktemp("vec")
    graph = build_hnsw_graph(emb, SHARDS).persist()
    graph.count()
    build_hnsw_index(spark, emb, str(d / "hnsw"), n_shards=SHARDS)
    build_vector_index(spark, emb, str(d / "ivf"), n_cells=KM_CELLS,
                       recall_floor=None)
    con = duckdb.connect()
    con.register("embeddings", emb.toPandas())
    yield {
        "emb": emb,
        "graph": graph,
        "hnsw": HnswIndex(spark, str(d / "hnsw")),
        "ivf": VectorIndex(spark, str(d / "ivf")),
        "pq": build_pq_index(spark, emb, str(d / "pq")),
        "con": con,
    }
    graph.unpersist()
    emb.unpersist()


def _rows(df):
    return [(r["vec_id"], r["cos"]) for r in df.collect()]


_filter = st.one_of(
    st.none(),
    st.integers(2, 7).flatmap(lambda m: st.tuples(st.just(m), st.integers(0, m - 1))),
)


@given(
    qid=st.integers(0, N - 1),
    k=st.sampled_from([0, 1, 10, N + 1]),
    flt=_filter,
    ef=st.just(SHARD_EF),
)
# k > ef_search: each shard must still yield k candidates (ef = max(ef, k))
@example(qid=3, k=N + 1, flt=None, ef=DEFAULT_EF_SEARCH)
@example(qid=3, k=N + 1, flt=(2, 1), ef=DEFAULT_EF_SEARCH)
@example(qid=599, k=N + 1, flt=(3, 0), ef=SHARD_EF)
@settings(max_examples=10, deadline=None, derandomize=True)
def test_vector_paths_agree(env, qid, k, flt, ef):
    emb, graph = env["emb"], env["graph"]
    want = _rows(cosine_topk(emb, qid, k))
    assert len(want) == min(k, N - 1)
    assert env["con"].execute(cosine_topk_sql(qid, k)).fetchall() == want
    assert _rows(hnsw_topk(emb, qid, k, ef_search=ef, graph=graph)) == want
    qv = query_vector(emb, qid)
    assert _rows(env["hnsw"].topk(qv, k, ef_search=ef, exclude_vec_id=qid)) == want
    assert _rows(env["ivf"].topk(qv, k, nprobe=KM_CELLS, exclude_vec_id=qid)) == want
    assert _rows(
        env["pq"].topk(qv, k, rerank=N, emb=emb, exclude_vec_id=qid)
    ) == want
    if flt is None:
        return
    m, r = flt
    ids = emb.filter(F.pmod(F.col("vec_id"), F.lit(m)) == r).select("vec_id")
    want = _rows(cosine_topk(emb, qid, k, filter_ids=ids))
    assert all(v % m == r for v, _ in want)
    sql = cosine_topk_sql(qid, k, where_extra=f"e.vec_id % {m} = {r}")
    assert env["con"].execute(sql).fetchall() == want
    got = filtered_hnsw_topk(emb, qid, ids, k, ef_search=ef, graph=graph)
    assert _rows(got) == want


def test_query_vector_by_id_raises_keyerror(env):
    with pytest.raises(KeyError, match="not found"):
        query_vector(env["emb"], N + 5)
    with pytest.raises(KeyError, match="not found"):
        hnsw_topk(env["emb"], N + 5, graph=env["graph"])

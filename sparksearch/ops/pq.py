"""Product quantization (PQ) vector index — the RAM-for-recall ANN layout.

Third persisted ANN layout next to IVF and per-shard HNSW
(``ops/similarity.py`` / ``ops/graph_ann.py``), covering the scale
regime the other two cannot: at 10¹²-vector scale the raw float
vectors (256 GB/10⁹ at 64-dim float32) do not fit the cluster's
memory, but PQ codes (8 B/vector here) do — the Jégou-Douze-Schmid
ADC scheme (TPAMI 2011) every large-scale ANN system builds on
(FAISS IVF-PQ; the reference's OpenSearch delegates the same role to
its Lucene/faiss engines via the knn_vector field type,
``semantic_search/opensearch_setup.ipynb`` mapping).

Design (all deterministic, parallelism-invariant):

* vectors are L2-NORMALIZED at build and query (the engine's vector
  ops are cosine; on the unit sphere cos = 1 − L2²/2, so ascending
  approximate L2² IS descending approximate cosine);
* the 64-dim space splits into ``n_sub`` contiguous subspaces; each
  gets a ``k_codes``-word codebook trained by the same pinned Lloyd's
  recipe as ``kmeans_cells`` (smallest-id init, fixed iterations,
  per-dim means rounded to pin float order) over a bounded sample
  COLLECTED to the driver: the ``PQ_TRAIN_ROWS`` vectors with the
  smallest ``xxhash64(vec_id)``, in vec_id order (below the cap, the
  whole table) — codebooks are n_sub × k_codes × d_sub floats,
  coarse-quantizer-sized, never corpus-sized;
* encoding (vector → n_sub uint8 codes) is an Arrow-batched numpy
  kernel (``mapInPandas``): one argmin over k_codes per subspace,
  vectorized across the batch — the one Python stage, at build time
  only;
* queries never touch Python: the per-subspace distance table
  T[s][c] = L2²(q_s, codebook[s][c]) is computed driver-side (tiny),
  embedded as a LITERAL nested array, and the approximate distance is
  Σ_s T[s][codes[s]] — n_sub ``element_at`` terms, whole-stage
  codegen over the codes column alone (8 B/row read, the raw vectors
  are NOT scanned);
* ``rerank``: the top-C by ADC join their raw vectors back (C-row
  semi-join, :func:`~sparksearch.ops.similarity.rerank_topk` — the
  same exact rerank HNSW uses) for exact cosine ordering — FAISS's
  refine step.  At gate scale C ≥ corpus makes the result EXACTLY the
  brute-force top-k, which is how ``sim_pq`` stays oracle-checkable
  against ``cosine_topk_sql`` (the honest way to gate an
  approximate structure — same pattern as ``sim_hnsw``).

Shared with the other vector paths (``ops/similarity.py``): the
``(vec_id, v)`` build frame ``_vectors``, the query-by-id lookup
``query_vector`` (``KeyError`` for a missing id) and ``rerank_topk``.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparksearch.ops.similarity import _vectors, query_vector, rerank_topk

PQ_ROUND = 6   # codebook float pin (same role as KM_ROUND)
# codebook training sample cap: the driver-side sample is bounded at any
# corpus size (n_sub × k_codes words need ~10⁴–10⁵ training vectors)
PQ_TRAIN_ROWS = 65_536


def _train_codebooks(
    sample, n_sub: int, k_codes: int, n_iters: int
):
    """Pinned Lloyd's per subspace over the driver-side sample (numpy).

    Init = first ``k_codes`` rows (the sample is collected ordered by
    vec_id — content-derived, parallelism-invariant); means round to
    ``PQ_ROUND`` each iteration; empty clusters keep their previous
    word.  → list[n_sub] of (k_codes, d_sub) float64 arrays."""
    n, dim = sample.shape
    if n < k_codes:
        raise ValueError(f"PQ sample ({n}) smaller than k_codes ({k_codes})")
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub
    books = []
    for s in range(n_sub):
        x = sample[:, s * d_sub:(s + 1) * d_sub]
        cb = x[:k_codes].copy()
        for _ in range(n_iters):
            d2 = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_codes):
                m = x[assign == c]
                if len(m):
                    cb[c] = np.round(m.mean(axis=0), PQ_ROUND)
        books.append(cb)
    return books


def build_pq_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    *,
    n_sub: int = 8,
    k_codes: int = 16,
    n_iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "PqIndex":
    """Train codebooks, encode every vector, persist codes + books.

    Training sees the ``PQ_TRAIN_ROWS`` vectors with the smallest
    ``xxhash64(vec_id)`` (content-keyed, parallelism-invariant,
    uncorrelated with id order), sorted by vec_id on the driver."""
    base = _vectors(emb, id_col, vec_col)
    sample_rows = sorted(
        base.orderBy(F.xxhash64(F.col("vec_id")), F.asc("vec_id"))
        .limit(PQ_TRAIN_ROWS)
        .collect(),
        key=lambda r: r["vec_id"],
    )
    sm = np.array([r["v"] for r in sample_rows], dtype=np.float64)
    sm /= np.maximum(np.linalg.norm(sm, axis=1, keepdims=True), 1e-30)
    books = _train_codebooks(sm, n_sub, k_codes, n_iters)
    dim = sm.shape[1]
    d_sub = dim // n_sub

    books_py = [[list(map(float, w)) for w in cb] for cb in books]

    def encode(batches):
        import pandas as pd

        cbs = [np.array(cb, dtype=np.float64) for cb in books_py]
        for pdf in batches:
            v = np.stack(pdf["v"].to_numpy())
            v = v / np.maximum(
                np.linalg.norm(v, axis=1, keepdims=True), 1e-30
            )
            codes = np.empty((len(pdf), len(cbs)), dtype=np.int16)
            for s, cb in enumerate(cbs):
                xs = v[:, s * d_sub:(s + 1) * d_sub]
                d2 = (
                    (xs ** 2).sum(1, keepdims=True)
                    - 2.0 * xs @ cb.T
                    + (cb ** 2).sum(1)[None, :]
                )
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes.tolist())}
            )

    os.makedirs(index_dir, exist_ok=True)
    base.mapInPandas(encode, "vec_id long, codes array<int>").write.mode(
        "overwrite"
    ).parquet(os.path.join(index_dir, "codes"))
    meta = {
        "kind": "pq", "n_sub": n_sub, "k_codes": k_codes, "dim": dim,
        "books": books_py,
    }
    tmp = os.path.join(index_dir, "pq_meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(index_dir, "pq_meta.json"))
    return PqIndex(spark, index_dir)


class PqIndex:
    """Handle over a persisted PQ index (codes parquet + codebooks)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "pq_meta.json")) as f:
            self.meta = json.load(f)

    def codes(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.index_dir, "codes"))

    def topk(
        self,
        query_vec: list[float],
        k: int = 10,
        *,
        rerank: int = 0,
        emb: DataFrame | None = None,
        exclude_vec_id: int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """ADC top-k → (vec_id, score).  ``rerank=0``: score =
        −approx_L2² (approximate cosine order, codes-only scan).
        ``rerank=C > 0``: exact cosine over the top-C ADC candidates
        (requires ``emb``) → (vec_id, cos) with the engine-wide
        rounding/tie rule."""
        m = self.meta
        n_sub, d_sub = m["n_sub"], m["dim"] // m["n_sub"]
        q = np.asarray(query_vec, dtype=np.float64)
        q = q / max(float(np.linalg.norm(q)), 1e-30)
        table = []
        for s in range(n_sub):
            cb = np.array(m["books"][s], dtype=np.float64)
            qs = q[s * d_sub:(s + 1) * d_sub]
            table.append([float(((qs - w) ** 2).sum()) for w in cb])
        tlit = F.array(*[
            F.array(*[F.lit(x) for x in row]) for row in table
        ])
        c = self.codes()
        if exclude_vec_id is not None:
            c = c.filter(F.col("vec_id") != int(exclude_vec_id))
        adc = c.select(
            "vec_id",
            sum(
                F.element_at(
                    F.element_at(tlit, s + 1),
                    F.col("codes")[s] + 1,
                )
                for s in range(n_sub)
            ).alias("adist"),
        )
        if rerank <= 0:
            return (
                adc.orderBy(F.asc("adist"), F.asc("vec_id"))
                .limit(k)
                .select("vec_id", (-F.col("adist")).alias("score"))
            )
        if emb is None:
            raise ValueError("rerank needs emb= (the raw-vector table)")
        cand = (
            adc.orderBy(F.asc("adist"), F.asc("vec_id"))
            .limit(int(rerank))
            .select("vec_id")
        )
        vecs = emb.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        return rerank_topk(vecs, cand, query_vec, k, "v")


def pq_topk_by_id(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    query_vec_id: int,
    k: int = 10,
    *,
    rerank: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Gate-shaped convenience: query by an indexed vector's id,
    excluding itself (the ``sim_*`` convention)."""
    qv = query_vector(emb, query_vec_id, id_col, vec_col)
    return PqIndex(spark, index_dir).topk(
        qv, k, rerank=rerank, emb=emb, exclude_vec_id=query_vec_id,
        id_col=id_col, vec_col=vec_col,
    )

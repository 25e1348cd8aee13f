"""Similarity search over an embedding column (array<float>).

Counterpart of the reference's kNN/neural retrieval (SURVEY §2.6 Q5: the
reference delegates HNSW kNN to OpenSearch,
``semantic_search/functions/opensearch_loader.py:55-67``; query at
``test_semantic_search.py:29-44``).  Two engines:

* **Brute-force cosine top-k** — the exact baseline.  Pure JVM:
  ``zip_with`` products + ``aggregate`` sum, TakeOrderedAndProject for
  the global top-k.  One scan, no shuffle beyond the k-row merge; the
  query vector rides along as a broadcast (one-row cross join).
* **IVF probe top-k** — the scale path.  Coarse centroids (here: per
  ``label`` mean vectors — at production scale a k-means table), probe
  the ``nprobe`` nearest centroids, exact search only within probed
  cells.  The centroid table is tiny and broadcast; the cell restriction
  becomes a partition-prunable filter when the table is written
  partitioned by cell id.

Both have DuckDB SQL twins for the driver's value-hash gate.  Scores are
float64 end-to-end and rounded to 4 decimals on output.

Every vector top-k in the package is built from the shared pieces here:
:func:`cosine` (the one exact cosine Column), :func:`topk_cut` (raw desc,
id asc, round), :func:`rerank_topk` (semi-join candidates → exact cosine
→ cut, the HNSW and PQ refine step), :func:`query_vector` (a query
vector by id), ``_vectors`` (the ``(vec_id, v array<double>)`` build
frame), ``_probe_order`` (IVF cells by centroid L2² asc, cell asc) and
``_default_nprobe``.  The HNSW walk lives in ``ops/graph_ann.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROUND = 4


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(v: Column, q: Column) -> Column:
    """Exact cosine of two array columns, float64 — the one place the
    engine writes it (``tests/test_scoring_guard.py`` pins this)."""
    return _dot(v, q) / (_norm(v) * _norm(q))


def topk_cut(scored: DataFrame, k: int, id_col: str = "vec_id",
             keep: tuple[str, ...] = ()) -> DataFrame:
    """Global top-k of a ``raw`` cosine column: raw desc, ``id_col`` asc,
    output ``(id_col, *keep, cos)`` rounded to ``ROUND``."""
    return (
        scored.orderBy(F.desc("raw"), F.asc(id_col))
        .limit(k)
        .select(id_col, *keep, F.round("raw", ROUND).alias("cos"))
    )


def rerank_topk(vecs: DataFrame, cand: DataFrame, query_vec, k: int,
                vec_col: str) -> DataFrame:
    """Exact rerank of a candidate id set: semi-join ``cand`` (one
    ``vec_id`` column) into ``vecs`` (``vec_id`` + ``vec_col``), score
    the exact cosine against ``query_vec`` (a float64 array literal) and
    cut the top k."""
    qlit = F.lit([float(x) for x in query_vec]).cast("array<double>")
    scored = vecs.join(cand, "vec_id", "leftsemi").select(
        "vec_id", cosine(F.col(vec_col), qlit).alias("raw")
    )
    return topk_cut(scored, k)


def query_vector(emb: DataFrame, query_vec_id: int, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> list[float]:
    """The vector of ``query_vec_id`` as float64s; ``KeyError`` if absent."""
    qrow = (
        emb.filter(F.col(id_col) == query_vec_id)
        .select(F.col(vec_col).cast("array<double>").alias("qv"))
        .head()
    )
    if qrow is None:
        raise KeyError(f"query_vec_id {query_vec_id} not found")
    return list(qrow["qv"])


def _vectors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """``(vec_id long, v array<double>)`` over the non-null vectors."""
    return emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )


def cosine_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k of ``query_vec_id``'s vector vs all other rows.

    ``filter_ids`` (a one-column ``vec_id`` frame) restricts candidates
    to that id set — the exact leg of OpenSearch's filtered kNN (the
    filter is PRE-applied, Lucene semantics: scores and the k cut see
    only passing docs).  Output: (vec_id, cos) rounded, ordered by raw
    cosine desc / vec_id asc.
    """
    q = (
        emb.filter(F.col(id_col) == query_vec_id)
        .select(F.col(vec_col).alias("qv"))
    )
    base = emb.filter(
        F.col(vec_col).isNotNull() & (F.col(id_col) != query_vec_id)
    )
    if filter_ids is not None:
        base = base.join(
            filter_ids.select(F.col("vec_id").cast("long").alias(id_col)),
            id_col,
            "leftsemi",
        )
    scored = base.crossJoin(F.broadcast(q)).select(
        F.col(id_col).alias("vec_id"),
        cosine(F.col(vec_col), F.col("qv")).alias("raw"),
    )
    return topk_cut(scored, k)


def cosine_topk_sql(
    query_vec_id: int,
    k: int = 10,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    where_extra: str | None = None,
) -> str:
    """DuckDB twin of :func:`cosine_topk`.  ``where_extra`` is an extra
    predicate over alias ``e`` — the oracle form of ``filter_ids``
    (filtered kNN pre-filter)."""
    extra = f" AND ({where_extra})" if where_extra else ""
    return f"""
WITH q AS (
  SELECT {vec_col}::DOUBLE[] AS qv FROM {table} WHERE {id_col} = {query_vec_id}
),
scored AS (
  SELECT e.{id_col} AS vec_id,
         list_dot_product(e.{vec_col}::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(e.{vec_col}::DOUBLE[], e.{vec_col}::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS raw
  FROM {table} e CROSS JOIN q
  WHERE e.{vec_col} IS NOT NULL AND e.{id_col} <> {query_vec_id}{extra}
)
SELECT vec_id, round(raw, {ROUND}) AS cos
FROM scored ORDER BY raw DESC, vec_id ASC LIMIT {k}
""".strip()


def centroids_by_label(emb: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding", label_col: str = "label") -> DataFrame:
    """Per-label mean vector — the IVF coarse quantizer's cell table.

    posexplode → groupBy(label, pos) avg → re-assemble sorted by pos.
    At production scale this is a k-means output; the per-label mean here
    keeps the op deterministic and SQL-twinned.
    """
    flat = emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    per_dim = flat.groupBy("label", "pos").agg(
        F.avg(F.col("v").cast("double")).alias("m")
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
    )


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: probe the ``nprobe`` labels whose centroid is most
    cosine-similar to the query, then exact cosine top-k within them.

    Output: (vec_id, label, cos).  Deterministic probe tie-break: centroid
    cosine desc, label asc.
    """
    cents = centroids_by_label(emb, id_col, vec_col, label_col)
    q = emb.filter(F.col(id_col) == query_vec_id).select(F.col(vec_col).alias("qv"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select("label", cosine(F.col("centroid"), F.col("qv")).alias("craw"))
        .orderBy(F.desc("craw"), F.asc("label"))
        .limit(nprobe)
        .select("label")
    )
    scored = (
        emb.filter(F.col(vec_col).isNotNull() & (F.col(id_col) != query_vec_id))
        .join(F.broadcast(probe), "label")
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col).alias("vec_id"),
            F.col(label_col).cast("long").alias("label"),
            cosine(F.col(vec_col), F.col("qv")).alias("raw"),
        )
    )
    return topk_cut(scored, k, keep=("label",))


def ivf_topk_sql(
    query_vec_id: int,
    k: int = 10,
    nprobe: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> str:
    return f"""
WITH q AS (
  SELECT {vec_col}::DOUBLE[] AS qv FROM {table} WHERE {id_col} = {query_vec_id}
),
flat AS (
  SELECT {label_col} AS label, generate_subscripts({vec_col}, 1) AS pos,
         unnest({vec_col}::DOUBLE[]) AS v
  FROM {table} WHERE {vec_col} IS NOT NULL
),
per_dim AS (SELECT label, pos, avg(v) AS m FROM flat GROUP BY 1, 2),
cents AS (
  SELECT label, list(m ORDER BY pos) AS centroid FROM per_dim GROUP BY label
),
probe AS (
  SELECT c.label
  FROM cents c CROSS JOIN q
  ORDER BY list_dot_product(c.centroid, q.qv)
             / (sqrt(list_dot_product(c.centroid, c.centroid)) * sqrt(list_dot_product(q.qv, q.qv))) DESC,
           c.label ASC
  LIMIT {nprobe}
),
scored AS (
  SELECT e.{id_col} AS vec_id, e.{label_col}::BIGINT AS label,
         list_dot_product(e.{vec_col}::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(e.{vec_col}::DOUBLE[], e.{vec_col}::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS raw
  FROM {table} e JOIN probe p ON e.{label_col} = p.label CROSS JOIN q
  WHERE e.{vec_col} IS NOT NULL AND e.{id_col} <> {query_vec_id}
)
SELECT vec_id, label, round(raw, {ROUND}) AS cos
FROM scored ORDER BY raw DESC, vec_id ASC LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# k-means IVF (label-free coarse quantizer) + persisted vector index (K4)
# ---------------------------------------------------------------------------

KM_CELLS = 8
KM_ITERS = 2
KM_ROUND = 6  # per-iteration centroid rounding: makes the means identical
              # across summation orders (Spark partitions vs DuckDB)

# auto_ivf_params bounds (VERDICT r2 #7): cells track sqrt(N) — the
# classic IVF balance between quantizer cost and cell selectivity — and
# nprobe probes ~1/8 of cells, capped so the probed fraction SHRINKS as
# the corpus grows (recall at the cap is what bench.py measures).
AUTO_CELL_CAP = 65536
AUTO_NPROBE_CAP = 64


def auto_ivf_params(n_vecs: int) -> tuple[int, int]:
    """corpus size → (n_cells, nprobe).

    ``n_cells ≈ sqrt(N)`` (floor ``KM_CELLS`` keeps tiny-corpus twin
    parity; cap bounds the driver-resident centroid table to ~32 MB at
    64 dims), ``nprobe = n_cells/8`` capped at ``AUTO_NPROBE_CAP`` —
    beyond the cap the probed fraction falls with corpus size, trading
    recall for a bounded scan, and the measured recall@10 for the
    operating point is reported by bench.py rather than assumed."""
    import math as _math

    n_cells = max(KM_CELLS, min(AUTO_CELL_CAP, round(_math.sqrt(max(n_vecs, 1)))))
    return n_cells, _default_nprobe(n_cells)


def _default_nprobe(n_cells: int) -> int:
    """~1/8 of the cells, at least 2, capped at ``AUTO_NPROBE_CAP``."""
    return max(2, min(AUTO_NPROBE_CAP, -(-n_cells // 8)))


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance via dot products (the reference's kNN space is
    l2, ``opensearch_loader.py:55-67``)."""
    return _dot(a, a) - 2.0 * _dot(a, b) + _dot(b, b)


def kmeans_cells(
    emb: DataFrame,
    n_cells: int = KM_CELLS,
    n_iters: int = KM_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd's k-means → [(cell, centroid)], driver-side.

    Init = the vectors of the ``n_cells`` smallest ids (content-derived,
    parallelism-independent); each iteration assigns by (L2² asc, cell
    asc) and recomputes per-dim means ROUNDED to ``KM_ROUND`` decimals —
    the rounding pins the floats so Spark partition order and the DuckDB
    twin's summation order produce identical centroids.  Assignment is
    one broadcast cross join + hash agg (``min(struct(dist, cell, v))``)
    — no window, scale-clean.  Centroids are tiny (cells × dim) and live
    on the driver between iterations, like any IVF coarse quantizer.
    """
    spark = emb.sparkSession
    base = _vectors(emb, id_col, vec_col)
    init = base.orderBy("vec_id").limit(n_cells).collect()
    cents: list[tuple[int, list[float]]] = [
        (i, [float(x) for x in r["v"]]) for i, r in enumerate(init)
    ]
    for _ in range(n_iters):
        assigned = _assign(base, cents, spark)
        flat = assigned.select("cell", F.posexplode("v").alias("pos", "x"))
        rows = (
            flat.groupBy("cell", "pos")
            .agg(F.round(F.avg("x"), KM_ROUND).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("c")
            )
            .collect()
        )
        new = {int(r["cell"]): [float(x) for x in r["c"]] for r in rows}
        cents = [(cell, new.get(cell, old)) for cell, old in cents]  # empty cell → keep
    return cents


def _cents_df(spark, cents) -> DataFrame:
    return spark.createDataFrame(cents, "cell int, c array<double>")


def _assign(base: DataFrame, cents, spark) -> DataFrame:
    """(vec_id, v) → (vec_id, cell, v): nearest centroid, ties → cell asc.

    (dist, cell) pairs are unique within a vec_id group, so the struct
    min never falls through to comparing ``v``.
    """
    cdf = _cents_df(spark, cents)
    scored = base.crossJoin(F.broadcast(cdf)).select(
        "vec_id", "v", "cell", _l2sq(F.col("v"), F.col("c")).alias("dist")
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cell", "v")).alias("s"))
        .select("vec_id", F.col("s.cell").alias("cell"), F.col("s.v").alias("v"))
    )


def kmeans_ivf_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_cells: int = KM_CELLS,
    n_iters: int = KM_ITERS,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN over k-means cells (no label column needed): probe the
    ``nprobe`` nearest cells (centroid L2² asc, cell asc), exact cosine
    top-k within them.  Output (vec_id, cell, cos)."""
    spark = emb.sparkSession
    cents = kmeans_cells(emb, n_cells, n_iters, id_col, vec_col)
    base = _vectors(emb, id_col, vec_col)
    q = base.filter(F.col("vec_id") == query_vec_id).select(F.col("v").alias("qv"))
    probe = (
        _cents_df(spark, cents)
        .crossJoin(F.broadcast(q))
        .select("cell", _l2sq(F.col("c"), F.col("qv")).alias("d"))
        .orderBy(F.asc("d"), F.asc("cell"))
        .limit(nprobe)
        .select("cell")
    )
    assigned = _assign(base, cents, spark)
    scored = (
        assigned.join(F.broadcast(probe), "cell")
        .filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "cell", cosine(F.col("v"), F.col("qv")).alias("raw"))
    )
    return topk_cut(scored, k, keep=("cell",))


def _duck_kmeans_ctes(
    n_cells: int, n_iters: int, table: str, id_col: str, vec_col: str
) -> str:
    """Unrolled Lloyd's iterations as DuckDB CTEs; final centroids are
    ``cents{n_iters - 1}`` (mirrors :func:`kmeans_cells` exactly,
    including the per-iteration rounding)."""
    l2 = (
        "(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}))"
    )
    parts = [
        f"""base AS (
  SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS v
  FROM {table} WHERE {vec_col} IS NOT NULL
),
init AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
  FROM (SELECT vec_id, v FROM base ORDER BY vec_id LIMIT {n_cells})
)"""
    ]
    prev = "init"
    for it in range(n_iters):
        dist = l2.format(a="e.v", b="i.c")
        parts.append(
            f"""assign{it} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, i.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {dist} ASC, i.cell ASC) AS rn
    FROM base e CROSS JOIN {prev} i
  ) WHERE rn = 1
),
means{it} AS (
  SELECT cell, pos, round(avg(x), {KM_ROUND}) AS m
  FROM (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM assign{it})
  GROUP BY cell, pos
),
cents{it} AS (
  SELECT p.cell, coalesce(n.c, p.c) AS c
  FROM {prev} p
  LEFT JOIN (SELECT cell, list(m ORDER BY pos) AS c FROM means{it} GROUP BY cell) n
    USING (cell)
)"""
        )
        prev = f"cents{it}"
    return ",\n".join(parts)


def kmeans_ivf_topk_sql(
    query_vec_id: int,
    k: int = 10,
    n_cells: int = KM_CELLS,
    n_iters: int = KM_ITERS,
    nprobe: int = 2,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    l2 = (
        "(list_dot_product({a}, {a}) - 2 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b}))"
    )
    last = f"cents{n_iters - 1}"
    ctes = _duck_kmeans_ctes(n_cells, n_iters, table, id_col, vec_col)
    return f"""
WITH {ctes},
q AS (SELECT v AS qv FROM base WHERE vec_id = {query_vec_id}),
probe AS (
  SELECT c.cell FROM {last} c CROSS JOIN q
  ORDER BY {l2.format(a="c.c", b="q.qv")} ASC, c.cell ASC
  LIMIT {nprobe}
),
final_assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, i.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {l2.format(a="e.v", b="i.c")} ASC, i.cell ASC) AS rn
    FROM base e CROSS JOIN {last} i
  ) WHERE rn = 1
),
scored AS (
  SELECT a.vec_id, a.cell,
         list_dot_product(a.v, q.qv)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS raw
  FROM final_assign a JOIN probe USING (cell) CROSS JOIN q
  WHERE a.vec_id <> {query_vec_id}
)
SELECT vec_id, cell, round(raw, {ROUND}) AS cos
FROM scored ORDER BY raw DESC, vec_id ASC LIMIT {k}
""".strip()


# ---------------------------------------------------------------------------
# persisted vector index (K4 sink)
# ---------------------------------------------------------------------------
# Two persisted layouts behind one builder/loader:
#
# * ``hnsw`` (DEFAULT) — per-shard HNSW graphs (ops/graph_ann.py), the
#   reference's actual kNN structure.  Default because its measured
#   recall@10 holds ≥0.9 on BOTH clustered and uniform vector
#   distributions (bench.py: 0.9875 uniform at sf0.1), whereas IVF at
#   auto params cliffs to ~0.5 on uniform vectors (VERDICT r3 wrong #2).
# * ``ivf`` — centroids + cell-partitioned vectors with directory-level
#   partition pruning.  Opt-in via ``kind="ivf"`` or by pinning
#   ``n_cells`` (the driver gates do, for DuckDB-twin parity).  IVF
#   builds tune ``nprobe`` to a MEASURED recall floor on a held-out
#   query sample by default, so the persisted operating point is never
#   an assumed one.

IVF_RECALL_FLOOR = 0.9
# tuning-sample size: per-query recall variance on hard (uniform)
# distributions is large, so the sample must be big enough that the
# recorded operating point generalizes; 16×k=160 hit samples keeps the
# binomial error ~0.02-0.04.  The recorded ``tuned_recall_at_k`` is an
# on-sample estimate — bench.py re-measures on an independent sample.
IVF_TUNE_QUERIES = 16


def tune_ivf_nprobe(
    spark,
    index_dir: str,
    k: int = 10,
    floor: float = IVF_RECALL_FLOOR,
    n_queries: int = IVF_TUNE_QUERIES,
) -> tuple[int, float]:
    """Measure IVF recall@k on a held-out sample and pick the smallest
    ``nprobe`` meeting ``floor``; returns (nprobe, measured recall).

    Cost: ONE scan of the vectors table (true top-k for all sample
    queries in one job — queries broadcast, per-query rank window over
    the k·n_queries candidate rows only), then pure driver arithmetic:
    each true hit's cell has a probe rank (position of that cell in the
    query's centroid-distance ordering), so recall at ANY nprobe is a
    counting exercise — no per-nprobe rescans.  Sample = the
    ``n_queries`` vectors with the smallest ``xxhash64(vec_id)``
    (deterministic but uncorrelated with vec_id order — Lloyd's seeds
    are the SMALLEST vec_ids, so an id-ordered sample would tune on the
    k-means seeds themselves: vectors sitting at cell centers whose
    neighborhoods align with cell boundaries.  That bias measured 0.95
    on-sample vs 0.7125 on an independent sample at the same nprobe)."""
    import json
    import os

    from pyspark.sql import Window

    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    n_cells = int(meta["n_cells"])
    vecs = spark.read.parquet(os.path.join(index_dir, "vectors"))
    qrows = (
        vecs.orderBy(F.xxhash64(F.col("vec_id")), F.asc("vec_id"))
        .limit(n_queries)
        .collect()
    )
    if not qrows:
        return _default_nprobe(n_cells), 1.0
    qdf = spark.createDataFrame(
        [(int(r["vec_id"]), list(r["v"])) for r in qrows],
        "qid long, qv array<double>",
    )
    w = Window.partitionBy("qid").orderBy(F.desc("raw"), F.asc("vec_id"))
    true_hits = (
        vecs.crossJoin(F.broadcast(qdf))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "vec_id", "cell", cosine(F.col("v"), F.col("qv")).alias("raw"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "cell")
        .collect()
    )
    cents = sorted(
        (int(r["cell"]), list(r["c"]))
        for r in spark.read.parquet(os.path.join(index_dir, "centroids")).collect()
    )
    # probe rank of each cell, per query
    rank_of = {
        int(r["vec_id"]): {c: pos for pos, c in enumerate(_probe_order(cents, r["v"]))}
        for r in qrows
    }
    ranks = [rank_of[int(h["qid"])][int(h["cell"])] for h in true_hits]
    total = k * len(qrows)

    def lcb(nprobe: int) -> tuple[float, float]:
        """(recall, 2σ lower confidence bound).  The floor is enforced on
        the LCB, not the point estimate: per-query recall variance on
        hard (uniform) distributions is large enough that an on-sample
        point estimate overfits — on genuinely un-clusterable data this
        correctly drives nprobe toward n_cells (IVF has no shortcut
        there; that is why HNSW is the default layout)."""
        rec = sum(1 for x in ranks if x < nprobe) / total
        return rec, rec - 2.0 * (rec * (1.0 - rec) / total) ** 0.5

    nprobe = _default_nprobe(n_cells)  # start at auto
    while nprobe < n_cells:
        if lcb(nprobe)[1] >= floor:
            break
        nprobe = min(n_cells, nprobe * 2)
    recall = lcb(nprobe)[0]
    meta["nprobe"] = int(nprobe)
    meta["tuned_recall_at_k"] = round(recall, 4)
    meta["tune_k"] = k
    with open(os.path.join(index_dir, "meta.json"), "w") as f:
        json.dump(meta, f)
    return int(nprobe), recall


def build_vector_index(
    spark,
    emb: DataFrame,
    index_dir: str,
    n_cells: int | None = None,
    n_iters: int = KM_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kind: str = "auto",
    recall_floor: float | None = IVF_RECALL_FLOOR,
) -> None:
    """Persist a vector ANN index under ``index_dir``; load with
    :func:`open_vector_index`.

    ``kind="auto"`` builds per-shard HNSW (the recall-safe default, see
    above) unless ``n_cells`` is pinned (→ IVF, gate/legacy behavior);
    ``kind="ivf"``/``kind="hnsw"`` force a layout.  IVF builds then tune
    ``nprobe`` to the measured ``recall_floor`` (None skips tuning —
    the pinned-layout driver gate does, it probes explicitly)."""
    import json
    import os

    if kind == "auto":
        kind = "ivf" if n_cells is not None else "hnsw"
    if kind == "hnsw":
        from sparksearch.ops.graph_ann import auto_hnsw_shards, build_hnsw_index

        n = emb.filter(F.col(vec_col).isNotNull()).count()
        build_hnsw_index(
            spark, emb, index_dir, n_shards=auto_hnsw_shards(n),
            id_col=id_col, vec_col=vec_col,
        )
        return
    if kind != "ivf":
        raise ValueError(f"unknown vector index kind {kind!r}")
    base = _vectors(emb, id_col, vec_col)
    if n_cells is None:
        n_cells = auto_ivf_params(base.count())[0]
    cents = kmeans_cells(emb, n_cells, n_iters, id_col, vec_col)
    _cents_df(spark, cents).write.mode("overwrite").parquet(
        os.path.join(index_dir, "centroids")
    )
    _assign(base, cents, spark).write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(index_dir, "vectors")
    )
    with open(os.path.join(index_dir, "meta.json"), "w") as f:
        json.dump(
            {"kind": "ivf", "n_cells": n_cells, "n_iters": n_iters,
             "dim": len(cents[0][1])}, f)
    if recall_floor is not None:
        tune_ivf_nprobe(spark, index_dir, floor=recall_floor)


def open_vector_index(spark, index_dir: str):
    """Load a persisted vector index — :class:`HnswIndex` or
    :class:`VectorIndex` by the meta.json ``kind`` (legacy IVF metas
    lack the key)."""
    import json
    import os

    with open(os.path.join(index_dir, "meta.json")) as f:
        kind = json.load(f).get("kind", "ivf")
    if kind == "hnsw":
        from sparksearch.ops.graph_ann import HnswIndex

        return HnswIndex(spark, index_dir)
    return VectorIndex(spark, index_dir)


class VectorIndex:
    """Handle to a persisted IVF index; probe-and-scan queries."""

    def __init__(self, spark, index_dir: str):
        import json
        import os

        self.spark = spark
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "meta.json")) as f:
            self.meta = json.load(f)
        rows = spark.read.parquet(os.path.join(index_dir, "centroids")).collect()
        self.cents = sorted((int(r["cell"]), list(r["c"])) for r in rows)
        self.vectors_path = os.path.join(index_dir, "vectors")

    def topk(
        self,
        query_vec,
        k: int = 10,
        nprobe: int | None = None,
        exclude_vec_id: int | None = None,
    ) -> DataFrame:
        """Cosine top-k of ``query_vec`` over the probed cells.

        Probe selection is a driver-side numpy argmin over the (tiny)
        centroid table (``_probe_order``); the scan then prunes to
        ``cell=<id>/`` directories (check ``.explain()``: partition
        filters on cell).  ``nprobe=None`` uses the RECALL-TUNED
        operating point recorded at build time (``meta["nprobe"]`` —
        :func:`tune_ivf_nprobe`), falling back to the
        :func:`auto_ivf_params` formula for indexes built without
        tuning."""
        if nprobe is None:
            nprobe = int(
                self.meta.get("nprobe", _default_nprobe(int(self.meta["n_cells"])))
            )
        probed = _probe_order(self.cents, query_vec)[:nprobe]
        vecs = self.spark.read.parquet(self.vectors_path).filter(
            F.col("cell").isin(probed)
        )
        if exclude_vec_id is not None:
            vecs = vecs.filter(F.col("vec_id") != exclude_vec_id)
        qlit = F.lit([float(x) for x in query_vec]).cast("array<double>")
        scored = vecs.select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            cosine(F.col("v"), qlit).alias("raw"),
        )
        return topk_cut(scored, k, keep=("cell",))


def _probe_order(cents: list[tuple[int, list[float]]], query_vec) -> list[int]:
    """IVF probe order: cells by centroid L2² to ``query_vec`` asc, cell
    asc (numpy over the tiny centroid table)."""
    import numpy as np

    qv = np.asarray(query_vec, dtype=np.float64)
    cmat = np.asarray([c for _, c in cents], dtype=np.float64)
    d = ((cmat - qv) ** 2).sum(axis=1)
    order = np.lexsort((np.array([c for c, _ in cents]), d))
    return [int(cents[i][0]) for i in order]


# ---------------------------------------------------------------------------
# doc-level kNN: max over chunk scores (the reference's nested score_mode)
# ---------------------------------------------------------------------------

def doc_knn_topk(
    emb: DataFrame,
    query_vec_id: int,
    k: int = 10,
    chunks_per_doc: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Doc-level kNN: doc score = MAX over its chunks' cosine scores —
    the reference's nested ``score_mode: max`` query
    (``test_semantic_search.py:29-44``: chunks are nested under the doc
    and the best chunk ranks the doc).

    The synthetic embeddings table has no doc column, so the chunk→doc
    mapping is ``doc_id = vec_id // chunks_per_doc`` (deterministic,
    SQL-twinned); a real chunk table carries doc_id explicitly.  The
    query's own doc is excluded (its sibling chunks would trivially
    win).  Output (doc_id, cos) ordered by (cos desc, doc_id asc)."""
    q = (
        emb.filter(F.col(id_col) == query_vec_id)
        .select(F.col(vec_col).cast("array<double>").alias("qv"))
    )
    qdoc = query_vec_id // chunks_per_doc
    scored = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(
            (F.col(id_col) / chunks_per_doc).cast("long").alias("doc_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .filter(F.col("doc_id") != qdoc)
        .crossJoin(F.broadcast(q))
        .select("doc_id", cosine(F.col("v"), F.col("qv")).alias("raw"))
    )
    return topk_cut(scored.groupBy("doc_id").agg(F.max("raw").alias("raw")), k, "doc_id")


def doc_knn_topk_sql(
    query_vec_id: int,
    k: int = 10,
    chunks_per_doc: int = 4,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    return f"""
WITH q AS (
  SELECT {vec_col}::DOUBLE[] AS qv FROM {table} WHERE {id_col} = {query_vec_id}
),
scored AS (
  SELECT ({id_col} // {chunks_per_doc})::BIGINT AS doc_id,
         list_dot_product({vec_col}::DOUBLE[], q.qv)
           / (sqrt(list_dot_product({vec_col}::DOUBLE[], {vec_col}::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS raw
  FROM {table} CROSS JOIN q
  WHERE {vec_col} IS NOT NULL
    AND ({id_col} // {chunks_per_doc}) <> {query_vec_id // chunks_per_doc}
),
agg AS (SELECT doc_id, max(raw) AS raw FROM scored GROUP BY doc_id)
SELECT doc_id, round(raw, {ROUND}) AS cos
FROM agg ORDER BY raw DESC, doc_id ASC LIMIT {k}
""".strip()

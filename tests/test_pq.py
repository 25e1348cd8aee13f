"""Product-quantization index: determinism, exact-rerank, error paths."""

import pytest
from pyspark.sql import functions as F

from sparksearch.ops.pq import PqIndex, build_pq_index, pq_topk_by_id
from sparksearch.ops.similarity import cosine_topk


@pytest.fixture(scope="module")
def emb(spark):
    import math
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(300):
        v = [rnd.gauss(0, 1) for _ in range(32)]
        n = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / n for x in v]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).cache()


def test_rerank_recovers_exact(spark, emb, tmp_path):
    d = str(tmp_path / "pq")
    build_pq_index(spark, emb, d, n_sub=8, k_codes=16)
    for qid in (0, 17):
        got = [
            (r["vec_id"], r["cos"])
            for r in pq_topk_by_id(spark, emb, d, qid, 10, rerank=300).collect()
        ]
        want = [
            (r["vec_id"], r["cos"])
            for r in cosine_topk(emb, qid, 10).collect()
        ]
        assert got == want and got


def test_build_is_deterministic_across_parallelism(spark, emb, tmp_path):
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    build_pq_index(spark, emb, d1, n_sub=8, k_codes=16)
    build_pq_index(spark, emb.repartition(13), d2, n_sub=8, k_codes=16)
    c1 = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in PqIndex(spark, d1).codes().collect()
    )
    c2 = sorted(
        (r["vec_id"], tuple(r["codes"]))
        for r in PqIndex(spark, d2).codes().collect()
    )
    assert c1 == c2
    assert PqIndex(spark, d1).meta["books"] == PqIndex(spark, d2).meta["books"]


def test_adc_only_is_jvm_and_reasonable(spark, emb, tmp_path):
    d = str(tmp_path / "pq")
    build_pq_index(spark, emb, d, n_sub=16, k_codes=32)
    idx = PqIndex(spark, d)
    qv = [float(x) for x in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    adc = idx.topk(qv, 10, exclude_vec_id=0)
    # no Python stage in the query plan (codes-only JVM scan)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        adc.explain("formatted")
    assert "InPandas" not in buf.getvalue()
    assert "EvalPython" not in buf.getvalue()
    got = {r["vec_id"] for r in adc.collect()}
    want = {r["vec_id"] for r in cosine_topk(emb, 0, 10).collect()}
    assert len(got & want) >= 3  # 64-bit codes: rough order preserved
    assert 0 not in got


def test_pq_validation(spark, emb, tmp_path):
    with pytest.raises(ValueError, match="divisible"):
        build_pq_index(spark, emb, str(tmp_path / "x"), n_sub=5)
    with pytest.raises(ValueError, match="sample"):
        build_pq_index(
            spark, emb.limit(4), str(tmp_path / "y"), n_sub=8, k_codes=16
        )
    d = str(tmp_path / "z")
    build_pq_index(spark, emb, d, n_sub=8, k_codes=16)
    with pytest.raises(ValueError, match="rerank needs emb"):
        PqIndex(spark, d).topk([0.0] * 32, 5, rerank=10)
    with pytest.raises(KeyError, match="not found"):
        pq_topk_by_id(spark, emb, d, 10**6)


def test_training_sample_is_bounded(spark, emb, tmp_path, monkeypatch):
    """Codebooks train on at most ``PQ_TRAIN_ROWS`` vectors (smallest
    xxhash64(vec_id)), a content-keyed sample: codes and books stay
    identical under repartition."""
    from sparksearch.ops import pq

    seen = []
    train = pq._train_codebooks

    def spy(sample, *a):
        seen.append(sample.shape[0])
        return train(sample, *a)

    monkeypatch.setattr(pq, "PQ_TRAIN_ROWS", 100)
    monkeypatch.setattr(pq, "_train_codebooks", spy)
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    build_pq_index(spark, emb, d1, n_sub=8, k_codes=16)
    build_pq_index(spark, emb.repartition(13), d2, n_sub=8, k_codes=16)
    assert seen == [100, 100]
    c1, c2 = (
        sorted((r["vec_id"], tuple(r["codes"]))
               for r in PqIndex(spark, d).codes().collect())
        for d in (d1, d2)
    )
    assert c1 == c2 and len(c1) == 300
    assert PqIndex(spark, d1).meta["books"] == PqIndex(spark, d2).meta["books"]

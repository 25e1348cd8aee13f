"""The benchmark's own tests: deterministic inputs, metric names that
match BENCHMARK.json, and answer checks that fire on wrong answers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def spec() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


# -- inputs --------------------------------------------------------------------
def test_corpus_is_deterministic_per_seed():
    a, b = gen.corpus(300, 7), gen.corpus(300, 7)
    assert a.equals(b)
    assert not a["text"].equals(gen.corpus(300, 8)["text"])
    assert gen.fingerprint(a) == gen.fingerprint(b)


def test_corpus_follows_fixture_spec():
    docs = gen.corpus(3000, 1)
    lens = docs["text"].dropna().str.split().str.len()
    assert 150 <= lens.median() <= 260
    assert 0.01 <= docs["text"].isna().mean() <= 0.03
    assert 0.87 <= (docs["lang"] == "en").mean() <= 0.93
    assert docs["text"].dropna().str.startswith("REDIRECT").any()
    assert docs["url"].is_unique
    assert 0.8 < gen.indexed_mask(docs).mean() < 0.9


def test_request_streams_are_deterministic_per_seed():
    docs = gen.corpus(300, 3)
    ids = np.arange(len(docs), dtype=np.int64)
    assert gen.bm25_queries(500, 3) == gen.bm25_queries(500, 3)
    assert gen.bm25_queries(500, 3) != gen.bm25_queries(500, 4)
    r1 = gen.dsl_requests(2, 3, docs, ids, 100)
    assert r1 == gen.dsl_requests(2, 3, docs, ids, 100)
    assert sorted(r["op"] for r in r1[: len(gen.DSL_OPS)]) == sorted(gen.DSL_OPS)
    v1, v2 = gen.vectors(50, 8, 3), gen.vectors(50, 8, 3)
    assert np.array_equal(np.stack(v1["embedding"]), np.stack(v2["embedding"]))
    assert gen.phrases(4, 3, docs) == gen.phrases(4, 3, docs)


def test_query_mix_follows_fixture_shares():
    n = 4000
    qs, shapes = gen.bm25_queries(n, 5), gen.query_shapes(n, 5)
    total = sum(gen.QUERY_SHAPES.values())
    for shape, w in gen.QUERY_SHAPES.items():
        assert abs(shapes.count(shape) / n - w / total) < 0.02, shape
    vocab = set(gen.vocab())
    for q, shape in zip(qs, shapes):
        words = [w.strip(",!?;:./-").lower() for w in q.split()]
        words = [w for w in words if w]
        if shape == "oov":
            assert not set(words) & vocab
        else:
            assert set(words) <= vocab, q
        if shape == "mixed":
            assert q != q.lower() and len(words) in (2, 3)
        if shape == "long":
            assert gen.LONG_TERMS[0] <= len(words) <= gen.LONG_TERMS[1]


def test_every_block_of_the_stream_holds_the_fixture_shares():
    shapes = gen.query_shapes(400, 8)
    size = sum(gen.QUERY_SHAPES.values())
    blocks = [shapes[i:i + size] for i in range(0, len(shapes), size)]
    for block in blocks:
        assert {k: block.count(k) for k in gen.QUERY_SHAPES} == gen.QUERY_SHAPES
    assert blocks[0] != blocks[1]  # each block is shuffled on its own


def test_update_tokens_are_new_terms():
    toks = gen.update_tokens(300)
    assert len(set(toks)) == 300
    assert not set(toks) & set(gen.vocab())
    assert all(t.isalpha() and t.islower() and not t.startswith("qq") for t in toks)


# -- metric names ------------------------------------------------------------------
def test_printed_metrics_match_benchmark_json():
    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in s["workloads"]] == list(workloads.WORKLOADS)
    assert s["command"] == ["python3", "perfbench/run.py"]


def test_end_to_end_metrics_cover_every_name():
    class R:
        setup_end = run.T_START + 12.5
        diag = {"index_bytes_per_text_byte": 1.1}
        samples = {
            "search_local": [10.0, 11.0, 12.0], "search": [30.0, 40.0],
            "msearch_driver": [300.0], "msearch_driver.queries": [32],
            "dsl.bool_search": [2000.0], "dsl.knn": [500.0],
        }
        cpu = {  # (driver, jvm, workers) CPU ms per op
            "search_local": [(9.0, 10.0, 0.0), (12.0, 0.0, 0.0), (14.0, 0.0, 0.0)],
            "search": [(20.0, 10.0, 0.0), (20.0, 30.0, 0.0)],
            "msearch_driver": [(200.0, 120.0, 0.0)],
            "dsl.bool_search": [(100.0, 3000.0, 900.0)], "dsl.knn": [(50.0, 900.0, 50.0)],
        }

    m = run.end_to_end(R())
    assert set(m) == set(run.END_TO_END)
    assert m["local_cpu_ms"] == pytest.approx(12.0)  # driver CPU only
    assert m["df_cpu_ms"] == pytest.approx(20.0)
    assert m["msearch_cpu_ms_per_q"] == pytest.approx(200 / 32)
    assert m["spark_op_cpu_gmean_ms"] == pytest.approx(2000.0)
    w = run.wall_times(R())
    assert w["spark_op_gmean_ms"] == pytest.approx(1000.0)
    assert w["msearch_qps"] == pytest.approx(32 / 0.3)


# -- answer checks fire on injected wrong answers ------------------------------------
GOOD = [(5, 3.25), (9, 2.5), (2, 2.5)]


def test_topk_check():
    assert checks.topk_matches([(5, 3.250004), (9, 2.5), (2, 2.5)], GOOD) is None
    assert checks.topk_matches([(9, 2.5), (5, 3.25), (2, 2.5)], GOOD)  # rank swap
    assert checks.topk_matches([(5, 3.2502), (9, 2.5), (2, 2.5)], GOOD)  # score
    assert checks.topk_matches(GOOD[:2], GOOD)  # missing row


def test_consistency_check():
    ok = {"a b": [("local", GOOD), ("msearch_driver", GOOD)]}
    assert checks.consistent(ok) is None
    bad = {"a b": [("local", GOOD), ("msearch_dist", GOOD[::-1])]}
    assert "msearch_dist" in checks.consistent(bad)


def test_dsl_rows_check():
    rows = [("site1", 4), ("site2", 3)]
    assert checks.rows_equal(list(rows), rows) is None
    assert checks.rows_equal([("site1", 4), ("site2", 2)], rows)
    assert checks.rows_equal([(1, 0.5)], [(1, 0.5000001)])
    assert checks.rows_equal(rows[:1], rows)


def test_knn_check():
    rng = np.random.default_rng(0)
    mat = rng.standard_normal((40, 6)).astype(np.float32)
    m = mat.astype(np.float64)
    cos = m @ m[3] / (np.linalg.norm(m, axis=1) * np.linalg.norm(m[3]))
    cos[3] = -np.inf
    top = np.argsort(-cos)[:5]
    good = [(int(v), round(float(cos[v]), 4)) for v in top]
    err, recall = checks.knn_check(good, mat, 3, 5)
    assert err is None and recall == 1.0
    assert checks.knn_check([(good[0][0], good[0][1] + 0.01)] + good[1:], mat, 3, 5)[0]
    assert checks.knn_check([(3, 1.0)] + good[1:], mat, 3, 5)[0]  # query itself
    assert checks.knn_check(good[:4], mat, 3, 5)[0]  # too few
    far = int(np.argsort(cos)[1])
    _, low = checks.knn_check(good[:4] + [(far, round(float(cos[far]), 4))], mat, 3, 5)
    assert low == pytest.approx(0.8)


def test_write_path_checks():
    assert checks.found_alone([(7, 9.5)], 7) is None
    assert checks.found_alone([], 7)  # update lost
    assert checks.found_alone([(3, 9.5)], 7)  # wrong doc
    assert checks.found_alone([(7, 9.5), (3, 1.0)], 7)  # token leaked elsewhere
    assert checks.none_deleted(GOOD, {11, 12}) is None
    assert "9" in checks.none_deleted(GOOD, {9, 12})  # a deleted doc came back

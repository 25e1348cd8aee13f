"""Rank-identical top-k vs the independent numpy oracle (SURVEY §5.2 item 2)."""

import pytest

from sparksearch.query.bm25 import bm25_topk_df
from sparksearch.synth import make_vocab, reference_queries
from tests.oracle.bm25_oracle import Bm25Oracle

SCORE_TOL = 1e-6


@pytest.fixture(scope="module")
def oracle(corpus):
    rows = corpus.collect()
    return Bm25Oracle({r["doc_id"]: r["text"] for r in rows})


def _check(result_rows, expected, tol=SCORE_TOL):
    got = [(r["doc_id"], r["score"]) for r in result_rows]
    assert [g[0] for g in got] == [e[0] for e in expected], (got[:5], expected[:5])
    for (_, gs), (_, es) in zip(got, expected):
        assert abs(gs - es) <= max(tol, abs(es) * tol)


def test_reference_query_set_packed_engine(built_index, oracle):
    """Every reference query: packed engine == oracle, ranks and scores."""
    for qid, qtext, k in reference_queries(vocab_size=2000):
        expected = oracle.topk(qtext, k)
        rows = built_index.search(qtext, k).collect()
        _check(rows, expected)


def test_reference_query_set_exhaustive_df(corpus, oracle):
    """Spot-check the DataFrame scorer on a subset (it rounds to 4dp)."""
    for qid, qtext, k in reference_queries(vocab_size=2000)[:12]:
        expected = [(d, round(s, 4)) for d, s in oracle.topk(qtext, k)]
        rows = bm25_topk_df(corpus, qtext, k).collect()
        got = [(r["doc_id"], r["score"]) for r in rows]
        assert [g[0] for g in got] == [e[0] for e in expected]
        for (_, gs), (_, es) in zip(got, expected):
            assert abs(gs - es) <= 1e-3


def test_oov_query_empty(built_index):
    assert built_index.search("zzzqqqoov", 5).count() == 0


def test_analyzer_parity_docs_vs_queries(built_index, oracle):
    """Mixed-case/punctuated query == its clean twin (Q1 applied to queries)."""
    v = make_vocab(100)
    dirty = f"  {v[0].upper()}, {v[3].title()}!! "
    clean = f"{v[0]} {v[3]}"
    a = [(r["doc_id"], r["score"]) for r in built_index.search(dirty, 5).collect()]
    b = [(r["doc_id"], r["score"]) for r in built_index.search(clean, 5).collect()]
    assert a == b


def test_stats_lookup_modes_agree(spark, built_index):
    """Auto mode picks by vocab size; cached and distributed stats
    lookups return identical results (VERDICT r1 item 9)."""
    from sparksearch.query.topk import InvertedIndex

    v = make_vocab(100)
    q = f"{v[2]} {v[40]} {v[77]}"
    d = built_index.index_dir
    cached = InvertedIndex(spark, d, cache_stats=True)
    dist = InvertedIndex(spark, d, cache_stats=False)
    auto_small = InvertedIndex(spark, d)  # tiny vocab → auto-cache
    auto_big = InvertedIndex(spark, d, stats_cache_max_terms=1)  # force distributed
    assert auto_small._stats_pdf is not None
    assert auto_big._stats_pdf is None
    want = [(r["doc_id"], r["score"]) for r in cached.search(q, 7).collect()]
    for idx in (dist, auto_small, auto_big):
        got = [(r["doc_id"], r["score"]) for r in idx.search(q, 7).collect()]
        assert got == want


def test_search_many_matches_single(spark, built_index):
    """Batched multi-query scoring == per-query search(), both paths."""
    from sparksearch.query.topk import InvertedIndex

    v = make_vocab(100)
    qs = {
        "a": v[0],
        "b": f"{v[1]} {v[9]}",
        "c": f"{v[3]} {v[20]} {v[50]}",
        "oov": "zzzqqqoov",
        "mixed": f"{v[5].upper()}, {v[7]}!!",
    }
    dist = InvertedIndex(spark, built_index.index_dir, driver_path_max_postings=0)
    for idx in (built_index, dist):
        got = idx.search_many(qs, k=7).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        assert "oov" not in by_q
        for qid, qtext in qs.items():
            want = [(r["doc_id"], r["score"]) for r in idx.search(qtext, 7).collect()]
            assert by_q.get(qid, []) == want, (qid, idx.driver_path_max_postings)


def test_search_local_matches_search(spark, built_index):
    """Driver-native pandas path == DataFrame path, incl. distributed
    fallback and OOV."""
    from sparksearch.query.topk import InvertedIndex

    v = make_vocab(100)
    queries = [v[0], f"{v[1]} {v[9]}", f"{v[3]} {v[20]} {v[50]}", "zzzoov"]
    dist = InvertedIndex(spark, built_index.index_dir, driver_path_max_postings=0)
    for idx in (built_index, dist):
        for q in queries:
            a = [(r["doc_id"], r["score"]) for r in idx.search(q, 7).collect()]
            pdf = idx.search_local(q, 7)
            b = list(zip(pdf["doc_id"].astype(int), pdf["score"]))
            assert a == b, q


def test_search_many_single_term_not_contaminated(spark, tmp_path_factory):
    """A SINGLE-term query in a batch must not absorb the other queries'
    posting rows (the batch hands every scorer the union block frame;
    regression: _score_single scored it unfiltered, inflating scores)."""
    from sparksearch.pipeline import build_and_load, prepare_corpus
    from sparksearch.synth import generate_docs

    d = str(tmp_path_factory.mktemp("many") / "idx")
    corpus = prepare_corpus(generate_docs(spark, 800, seed=42), lang="en").cache()
    idx = build_and_load(spark, corpus, d, n_units=4)
    v = make_vocab(100)
    qs = {"multi": f"{v[0]} {v[50]}", "single": v[2]}
    got = idx.search_many(qs, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, qtext in qs.items():
        want = [(r["doc_id"], r["score"]) for r in idx.search(qtext, 5).collect()]
        assert by_q.get(qid, []) == want, qid
    corpus.unpersist()


def test_search_resolves_terms_once(spark, built_index):
    """search() and search_local() tokenize and resolve a query once,
    also when the driver budget sends them to the distributed plan."""
    from sparksearch.query.topk import InvertedIndex

    v = make_vocab(100)
    q = f"{v[1]} {v[9]}"
    dist = InvertedIndex(spark, built_index.index_dir, driver_path_max_postings=0)
    calls = []
    lookup = dist.lookup_terms

    def counting(*a, **kw):
        calls.append(a)
        return lookup(*a, **kw)

    dist.lookup_terms = counting
    dist.search(q, 5).collect()
    assert len(calls) == 1
    calls.clear()
    dist.search_local(q, 5)
    assert len(calls) == 1


def test_driver_read_error_raises(spark, built_index):
    """A failing driver-side postings read is a bug: it raises out of
    search_local instead of silently running the distributed plan."""
    from sparksearch.query.topk import InvertedIndex

    class _Unreadable:
        def to_table(self, **kw):
            raise OSError("unreadable posting file")

    idx = InvertedIndex(spark, built_index.index_dir)
    idx._pds = {"postings": _Unreadable()}
    with pytest.raises(OSError, match="unreadable posting file"):
        idx.search_local(make_vocab(100)[0], 5)

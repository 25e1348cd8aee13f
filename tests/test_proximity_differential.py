"""Seeded differential test of the proximity family.

Over generated queries on a small built index with positions, every
exhaustive form (token kernel, ``query/phrase.py``) must return the
same rows as its positional form (position kernel behind the one
sidecar front, ``index/positions.py``), rank- and score-identical:
``match_phrase``, ``match_phrase_prefix``, ``span_near`` in both
orders, ``span_first``, ``span_or``, ``span_not`` and ``intervals``.
Both must equal the DuckDB ``*_sql`` twin, and ``span_containing`` /
``span_within`` (exhaustive only) must equal theirs.  Queries mix
duplicate clauses, multi-term slots and an out-of-vocabulary term over
a five-word vocabulary whose words share prefixes.
"""

import duckdb
import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from sparksearch.index.lexicon import build_lexicon
from sparksearch.index.positions import (
    build_positions,
    match_phrase_positional,
    match_phrase_prefix_positional,
)
from sparksearch.pipeline import build_and_load
from sparksearch.query import intervals as iv
from sparksearch.query import phrase as ph
from sparksearch.query import spans as sn

WORDS = ["ana", "anb", "bob", "bol", "cat"]
OOV = "zzq"
TERMS = WORDS + [OOV]
N_DOCS = 40
KS = st.sampled_from([0, 1, N_DOCS + 1])
GAPS = st.integers(0, 2)
SETTINGS = settings(max_examples=4, deadline=None, derandomize=True)


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    rng = np.random.default_rng(11)
    texts = [
        " ".join(rng.choice(WORDS, size=int(rng.integers(1, 15)),
                            p=[0.3, 0.1, 0.25, 0.1, 0.25]))
        for _ in range(N_DOCS)
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts, 1)), "doc_id long, text string"
    ).cache()  # each exhaustive query reads the corpus twice
    d = str(tmp_path_factory.mktemp("prox") / "index")
    idx = build_and_load(spark, docs, d, n_segments=2, n_buckets=4, n_units=1)
    build_positions(spark, docs, d)
    build_lexicon(spark, docs, d)
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    return idx, docs, con


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _twin(con, rows, sql):
    oq = con.execute(sql).fetchall()
    assert [(d, round(s, 6)) for d, s in rows] == [(d, round(s, 6)) for d, s in oq]


def _same(con, ex, ix, sql):
    assert ix == ex
    _twin(con, ex, sql)


@given(terms=st.lists(st.sampled_from(TERMS), min_size=1, max_size=3),
       slop=GAPS, k=KS)
@example(terms=["bob", "bob"], slop=0, k=N_DOCS + 1)
@example(terms=["ana", "bob", "ana"], slop=2, k=N_DOCS + 1)
@SETTINGS
def test_match_phrase(env, terms, slop, k):
    idx, docs, con = env
    q = " ".join(terms)
    _same(con, _rows(ph.match_phrase_topk(docs, q, k, slop=slop)),
          _rows(match_phrase_positional(idx, q, k, slop=slop)),
          ph.match_phrase_sql(q, k, slop=slop))


@given(lead=st.lists(st.sampled_from(TERMS), max_size=2),
       prefix=st.sampled_from(["an", "bo", "c", "zz", "ana"]), k=KS)
@example(lead=["bob"], prefix="an", k=N_DOCS + 1)
@SETTINGS
def test_match_phrase_prefix(env, lead, prefix, k):
    idx, docs, con = env
    q = " ".join(lead + [prefix])
    _same(con, _rows(ph.match_phrase_prefix_topk(docs, q, k)),
          _rows(match_phrase_prefix_positional(idx, q, k)),
          ph.match_phrase_prefix_sql(q, k))


@given(terms=st.lists(st.sampled_from(TERMS), min_size=2, max_size=3),
       slop=GAPS, in_order=st.booleans(), k=KS)
@example(terms=["bob", "bob", "cat"], slop=1, in_order=False, k=N_DOCS + 1)
@example(terms=["cat", "ana"], slop=2, in_order=True, k=N_DOCS + 1)
@SETTINGS
def test_span_near(env, terms, slop, in_order, k):
    idx, docs, con = env
    kw = dict(slop=slop, in_order=in_order)
    _same(con, _rows(sn.span_near_topk(docs, terms, k, **kw)),
          _rows(sn.span_near_positional(idx, terms, k, **kw)),
          sn.span_near_sql(terms, k, **kw))


@given(first=st.sampled_from(TERMS), end=st.integers(0, 5),
       either=st.lists(st.sampled_from(TERMS), min_size=2, max_size=3,
                       unique=True),
       pair=st.lists(st.sampled_from(TERMS), min_size=2, max_size=2),
       pre=GAPS, post=GAPS, k=KS)
@example(first="bob", end=3, either=["ana", OOV], pair=["bob", OOV], pre=1,
         post=1, k=N_DOCS + 1)
@SETTINGS
def test_span_first_or_not(env, first, end, either, pair, pre, post, k):
    idx, docs, con = env
    _same(con, _rows(sn.span_first_topk(docs, first, end, k)),
          _rows(sn.span_first_positional(idx, first, end, k)),
          sn.span_first_sql(first, end, k))
    _same(con, _rows(sn.span_or_topk(docs, either, k)),
          _rows(sn.span_or_positional(idx, either, k)),
          sn.span_or_sql(either, k))
    inc, exc = pair
    kw = dict(pre=pre, post=post)
    _same(con, _rows(sn.span_not_topk(docs, inc, exc, k, **kw)),
          _rows(sn.span_not_positional(idx, inc, exc, k, **kw)),
          sn.span_not_sql(inc, exc, k, **kw))


_slots = st.tuples(
    st.permutations(TERMS),
    st.lists(st.integers(1, 2), min_size=2, max_size=3),
).map(lambda t: [list(t[0][sum(t[1][:i]):sum(t[1][:i + 1])])
                 for i in range(len(t[1]))])


@given(slots=_slots, max_gaps=GAPS, ordered=st.booleans(), k=KS)
@example(slots=[["ana", "anb"], ["bob", OOV]], max_gaps=1, ordered=True,
         k=N_DOCS + 1)
@example(slots=[["cat"], ["bol", "bob"], [OOV]], max_gaps=2, ordered=False,
         k=N_DOCS + 1)
@SETTINGS
def test_intervals(env, slots, max_gaps, ordered, k):
    idx, docs, con = env
    kw = dict(max_gaps=max_gaps, ordered=ordered)
    _same(con, _rows(iv.intervals_topk(docs, slots, k, **kw)),
          _rows(iv.intervals_positional(idx, slots, k, **kw)),
          iv.intervals_sql(slots, k, **kw))


@given(big=st.lists(st.sampled_from(TERMS), min_size=2, max_size=3),
       little=st.sampled_from(TERMS), slop=GAPS, in_order=st.booleans(),
       k=KS)
@example(big=["bob", "bob"], little="cat", slop=1, in_order=False,
         k=N_DOCS + 1)
@SETTINGS
def test_span_containing_within(env, big, little, slop, in_order, k):
    _, docs, con = env
    kw = dict(slop=slop, in_order=in_order)
    _twin(con, _rows(sn.span_containing_topk(docs, big, little, k, **kw)),
          sn.span_containing_sql(big, little, k, **kw))
    _twin(con, _rows(sn.span_within_topk(docs, little, big, k, **kw)),
          sn.span_within_sql(little, big, k, **kw))


def test_queries_leave_no_cached_frame(spark, env, corpus):
    idx, docs, _ = env
    spark.catalog.clearCache()
    for df in [
        match_phrase_positional(idx, "bob cat", 5),
        sn.span_near_positional(idx, ["bob", "ana"], 5, slop=1),
        iv.intervals_positional(idx, [["ana", "anb"], ["cat"]], 5),
        ph.match_phrase_topk(docs, "bob cat", 5),
        sn.span_near_topk(docs, ["bob", "ana"], 5, slop=1),
        iv.intervals_topk(docs, [["ana", "anb"], ["cat"]], 5),
    ]:
        df.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    corpus.cache()  # the session fixture's cache, dropped above

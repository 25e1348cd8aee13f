"""Seeded differential test of the compound-query tree.

Generated ``query_string`` queries and ``bool`` requests over the
fixture corpus vocabulary must give the same rows from the engine path
(``*_search``, leaves from the index), the exhaustive path (``*_topk``,
leaves from a corpus scan) and the DuckDB twin (``*_sql``), rank- and
score-identical.  Field leaves read two derived columns: ``grp``
(string, as in ``test_qstring_engine``) and ``num`` (integer, for
ranges).
"""

import duckdb
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sparksearch.query.boolq import bool_search, bool_topk, bool_topk_sql
from sparksearch.query.qstring import (
    query_string_search,
    query_string_sql,
    query_string_topk,
)
from sparksearch.synth import make_vocab

_V = make_vocab(2000)
K = 10
HEAD, MID, TAIL, OOV = _V[:6], _V[20:60:8], _V[1500:2000:100], ["zzqqxx"]
WORDS = HEAD + MID + TAIL + OOV


@pytest.fixture(scope="module")
def tree_env(spark, corpus, built_index):
    from sparksearch.index.lexicon import build_lexicon
    from sparksearch.index.positions import build_positions

    if not built_index.meta.get("has_positions"):
        build_positions(spark, corpus, built_index.index_dir)
    build_lexicon(spark, corpus, built_index.index_dir)
    docs = corpus.withColumn(
        "grp", F.pmod(F.col("doc_id"), F.lit(5)).cast("string")
    ).withColumn("num", F.pmod(F.col("doc_id"), F.lit(7)))
    con = duckdb.connect()
    con.register("documents", docs.drop("html").toPandas())
    return built_index, docs, con


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _same(ex, ix, oq):
    assert ix == ex
    assert [(d, round(s, 6)) for d, s in ex] == [(d, round(s, 6)) for d, s in oq]


# -- query_string -------------------------------------------------------------
def _phrase(ws, slop):
    return '"' + " ".join(ws) + '"' + (f"~{slop}" if slop else "")


_atom = st.one_of(
    st.sampled_from(WORDS),
    st.builds(
        _phrase,
        st.lists(st.sampled_from(HEAD + MID[:2]), min_size=2, max_size=3),
        st.integers(0, 2),
    ),
    st.sampled_from(HEAD + MID).map(lambda w: w[:2] + "*"),
    st.integers(0, 4).map(lambda g: f"grp:{g}"),
    st.tuples(
        st.sampled_from(["[", "{"]), st.sampled_from(["1", "*"]),
        st.sampled_from(["4", "*"]), st.sampled_from(["]", "}"]),
    ).map(lambda t: f"num:{t[0]}{t[1]} TO {t[2]}{t[3]}"),
)
_boost = st.sampled_from(["", "", "^2", "^0.5"])
_leaf = st.builds(
    lambda mod, a, bst: mod + a + bst,
    st.sampled_from(["", "", "+", "-", "NOT "]), _atom, _boost,
)


def _level(children):
    clause = st.one_of(
        _leaf,
        st.builds(lambda c, bst: "(" + c + ")" + bst, children, _boost),
    )
    return st.builds(
        lambda first, rest: first + "".join(op + c for op, c in rest),
        clause,
        st.lists(
            st.tuples(st.sampled_from([" ", " AND ", " OR "]), clause),
            max_size=3,
        ),
    )


_qs = st.recursive(_level(_leaf), _level, max_leaves=5)


@given(q=_qs, op=st.sampled_from(["or", "and"]))
@settings(max_examples=5, deadline=None, derandomize=True)
def test_query_string_three_ways(tree_env, q, op):
    index, docs, con = tree_env
    ex = _rows(query_string_topk(docs, q, K, default_operator=op))
    ix = _rows(
        query_string_search(index, q, K, default_operator=op, docs=docs)
    )
    oq = con.execute(query_string_sql(q, K, default_operator=op)).fetchall()
    _same(ex, ix, oq)


# -- bool ---------------------------------------------------------------------
_text = st.lists(st.sampled_from(WORDS), min_size=1, max_size=2).map(" ".join)
_mphrase = st.builds(
    lambda ws, slop: {"match_phrase": {"query": " ".join(ws), "slop": slop}},
    st.lists(st.sampled_from(HEAD + MID[:2]), min_size=2, max_size=2),
    st.integers(0, 2),
)
_struct = st.one_of(
    st.integers(0, 4).map(lambda g: {"term": {"field": "grp", "value": str(g)}}),
    st.lists(st.integers(0, 6), min_size=1, max_size=3).map(
        lambda vs: {"terms": {"field": "num", "values": vs}}
    ),
    st.builds(
        lambda lo, hi: {"range": {"field": "num", "gte": lo, "lt": hi}},
        st.integers(0, 3), st.integers(3, 7),
    ),
    st.just({"exists": {"field": "grp"}}),
)
_scoring = st.lists(st.one_of(_text, _text, _mphrase), max_size=2)
_filtering = st.lists(st.one_of(_text, _mphrase, _struct), max_size=2)


@given(
    must=_scoring, should=_scoring, must_not=_filtering, filter=_filtering,
    msm=st.one_of(st.none(), st.integers(0, 3)),
)
# found by this test: a bool whose only text clause is a must_not
# matches nothing, with or without a structured gate and whatever msm
@example(must=[], should=[], must_not=["da2"], filter=[], msm=0)
@example(
    must=[], should=[], must_not=["da2"],
    filter=[{"exists": {"field": "grp"}}], msm=None,
)
@settings(max_examples=5, deadline=None, derandomize=True)
def test_bool_three_ways(tree_env, must, should, must_not, filter, msm):
    index, docs, con = tree_env
    case = dict(
        must=must, should=should, must_not=must_not, filter=filter,
        minimum_should_match=msm,
    )
    ex = _rows(bool_topk(docs, k=K, **case))
    ix = _rows(bool_search(index, k=K, docs=docs, **case))
    oq = con.execute(bool_topk_sql(k=K, **case)).fetchall()
    _same(ex, ix, oq)

"""Seeded differential test of the aggregation layer.

Over generated requests on a small faceted frame whose facet and metric
fields hold nulls, every Spark aggregation must return the same rows as
its DuckDB ``*_sql`` twin — in order where the agg orders its buckets,
as a set otherwise — and ``terms_agg_indexed`` (match set from the
packed index) must equal ``terms_agg``.  Queries mix a head term, a
tail term, an out-of-vocabulary term, the empty query and a
punctuation-only one; sizes are 0, 1 and more than there are docs;
ranges have open and overlapping ends.

Two regressions are pinned beside it: terms buckets never carry a null
key (so ``top_hits`` does not lose a slot to one), and no aggregation
call leaves a cached frame in the session.
"""

import datetime as dt

import duckdb
import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from sparksearch.analyze import tokenize_str
from sparksearch.pipeline import build_and_load
from sparksearch.query import aggs as A
from sparksearch.query import sigterms as S

# "red" is the head term, "cat" the tail, "zzq" out of vocabulary
WORDS = ["red", "blue", "green", "cat"]
N_DOCS = 36
QUERY_WORDS = ["red", "blue", "cat", "zzq", "?!"]
QUERIES = st.lists(st.sampled_from(QUERY_WORDS), max_size=3).map(" ".join)
SIZES = st.sampled_from([0, 1, N_DOCS + 1])
ENDS = st.sampled_from([None, 0, 4, 9, 15])
RANGES = st.lists(st.tuples(ENDS, ENDS), min_size=1, max_size=3)
PERCENTS = st.lists(st.sampled_from([0.0, 25.0, 50.0, 99.5, 100.0]),
                    min_size=1, max_size=3, unique=True)
SETTINGS = settings(max_examples=3, deadline=None, derandomize=True)


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    rng = np.random.default_rng(5)
    rows = []
    for i in range(1, N_DOCS + 1):
        text = " ".join(rng.choice(WORDS, size=int(rng.integers(1, 6)),
                                   p=[0.5, 0.25, 0.2, 0.05]))
        source = None if i % 4 == 0 else "abc"[int(rng.integers(0, 3))]
        n_chars = None if i % 5 == 0 else int(rng.integers(0, 20))
        rows.append((i, text, source, n_chars, "en" if i % 3 else "de"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long, lang string"
    ).cache()
    t0 = dt.datetime(2024, 1, 1)
    ev = [(i, None if i % 7 == 0 else t0 + dt.timedelta(hours=5 * i),
           ["click", "view", "buy"][i % 3]) for i in range(40)]
    events = spark.createDataFrame(
        ev, "event_id long, ts timestamp, event_type string"
    ).cache()
    d = str(tmp_path_factory.mktemp("aggs_diff") / "index")
    idx = build_and_load(spark, docs.select("doc_id", "text"), d,
                         n_segments=2, n_buckets=4, n_units=1)
    con = duckdb.connect()
    con.register("documents", docs.toArrow())  # Arrow keeps BIGINT nulls
    ev_pdf = events.toPandas()
    ev_pdf["ts"] = ev_pdf["ts"].astype("datetime64[us]")  # DuckDB TIMESTAMP
    con.register("events", ev_pdf)
    return idx, docs, events, con


def _norm(row):
    return tuple(_value(v) for v in row)


def _value(v):
    if isinstance(v, float):
        return round(v, 6)
    # DuckDB's date_trunc to a month or a year gives a DATE; the instant
    # is the same as Spark's midnight timestamp
    if isinstance(v, dt.date) and not isinstance(v, dt.datetime):
        return dt.datetime.combine(v, dt.time())
    return v


def _rows(df):
    return [_norm(r) for r in df.collect()]


def _same(con, df, sql, ordered=True):
    got, want = _rows(df), [_norm(r) for r in con.execute(sql).fetchall()]
    if not ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    assert got == want


@given(q=QUERIES, size=SIZES)
@example(q="red", size=1)
@example(q="?!", size=N_DOCS + 1)
@SETTINGS
def test_bucket_aggs(env, q, size):
    idx, docs, _, con = env
    terms = A.terms_agg(docs, q, "source", size)
    _same(con, terms, A.terms_agg_sql(q, "source", size))
    assert _rows(A.terms_agg_indexed(idx, docs, q, "source", size)) == _rows(terms)
    _same(con, A.terms_stats_agg(docs, q, "source", "n_chars", size),
          A.terms_stats_agg_sql(q, "source", "n_chars", size))
    hits = A.top_hits_agg(docs, q, "source", size, 2)
    if tokenize_str(q, "ascii"):
        _same(con, hits, A.top_hits_agg_sql(q, "source", size, 2))
    else:  # the BM25 twin renders no SQL for a query without terms
        assert _rows(hits) == []
    _same(con, A.multi_terms_agg(docs, q, ["source", "n_chars"], size),
          A.multi_terms_agg_sql(q, ["source", "n_chars"], size))
    _same(con, A.composite_agg(docs, q, ["source", "lang"], size),
          A.composite_agg_sql(q, ["source", "lang"], size))
    _same(con, A.rare_terms_agg(docs, q, "source", 3),
          A.rare_terms_agg_sql(q, "source", 3))


@given(q=QUERIES)
@example(q="cat")
@example(q="")
@SETTINGS
def test_metric_aggs(env, q):
    _, docs, _, con = env
    for f in (A.stats_agg, A.extended_stats_agg, A.cardinality_agg,
              A.missing_agg, A.value_count_agg, A.boxplot_agg, A.mad_agg):
        sql = getattr(A, f.__name__ + "_sql")
        _same(con, f(docs, q, "n_chars"), sql(q, "n_chars"))
    sample = A.sampler_stats_agg(docs, q, "n_chars", 5)
    if tokenize_str(q, "ascii"):
        _same(con, sample, A.sampler_stats_agg_sql(q, "n_chars", 5))
    else:  # the BM25 twin renders no SQL for a query without terms
        assert sample.collect()[0]["count"] == 0
    _same(con, S.significant_text(docs, q, 5, min_doc_count=1),
          S.significant_text_sql(q, 5, min_doc_count=1))
    _same(con, S.significant_terms_agg(docs, q, "source", 5, min_doc_count=1),
          S.significant_terms_agg_sql(q, "source", 5, min_doc_count=1))


@given(q=QUERIES, ranges=RANGES, percents=PERCENTS,
       interval=st.sampled_from([1, 3, 7]), min_doc_count=st.sampled_from([0, 2]))
@example(q="red", ranges=[(None, None), (0, 9), (4, None)],
         percents=[0.0, 99.5], interval=3, min_doc_count=0)
@example(q="zzq", ranges=[(None, 4)], percents=[50.0], interval=1,
         min_doc_count=0)
@SETTINGS
def test_range_percentile_histogram_aggs(env, q, ranges, percents, interval,
                                         min_doc_count):
    _, docs, _, con = env
    # stacked buckets come out in request order (bucket_idx); the twins'
    # UNION ALL legs carry no order, so those compare as sets
    got = A.range_agg(docs, q, "n_chars", ranges)
    assert [r["bucket_idx"] for r in got.collect()] == list(range(len(ranges)))
    _same(con, got, A.range_agg_sql(q, "n_chars", ranges), ordered=False)
    _same(con, A.percentiles_agg(docs, q, "n_chars", tuple(percents)),
          A.percentiles_agg_sql(q, "n_chars", tuple(percents)), ordered=False)
    _same(con, A.percentile_ranks_agg(docs, q, "n_chars", percents),
          A.percentile_ranks_agg_sql(q, "n_chars", percents), ordered=False)
    _same(con, A.histogram_agg(docs, q, "n_chars", interval,
                               min_doc_count=min_doc_count),
          A.histogram_agg_sql(q, "n_chars", interval,
                              min_doc_count=min_doc_count))


NAMED = st.dictionaries(st.sampled_from(["a", "b", "c'q"]), QUERIES,
                        min_size=2, max_size=3)


@given(named=NAMED)
@example(named={"a": "red", "b": "", "c'q": "cat zzq"})
@SETTINGS
def test_named_filter_aggs(env, named):
    _, docs, _, con = env
    _same(con, A.filters_agg(docs, named), A.filters_agg_sql(named),
          ordered=False)
    _same(con, A.adjacency_matrix_agg(docs, named),
          A.adjacency_matrix_agg_sql(named))


@given(event_type=st.sampled_from([None, "click", "nope"]),
       unit=st.sampled_from(["hour", "day", "month"]),
       target=st.sampled_from([1, 5, 50]))
@example(event_type="nope", unit="day", target=5)
@SETTINGS
def test_event_aggs(env, event_type, unit, target):
    _, _, events, con = env
    kw = dict(event_type=event_type)
    _same(con, A.date_histogram_agg(events, unit, **kw),
          A.date_histogram_agg_sql(unit, **kw))
    _same(con, A.auto_date_histogram_agg(events, target, **kw),
          A.auto_date_histogram_agg_sql(target, **kw))
    ranges = [(None, "2024-01-03 00:00:00"), ("2024-01-02 00:00:00", None),
              ("2024-01-02 00:00:00", "2024-01-05 00:00:00")]
    _same(con, A.date_range_agg(events, ranges, **kw),
          A.date_range_agg_sql(ranges, **kw), ordered=False)


def test_terms_buckets_skip_null_keys(spark):
    # two of the three docs matching "red" have no source: OpenSearch's
    # terms agg ignores them, so "a" is the only bucket
    docs = spark.createDataFrame(
        [(1, "red", None, 3), (2, "red", None, 4), (3, "red", "a", 5),
         (4, "blue", "b", 6)],
        "doc_id long, text string, source string, n_chars long",
    )
    assert _rows(A.terms_agg(docs, "red", "source")) == [("a", 1)]
    assert [r["key"] for r in
            A.terms_stats_agg(docs, "red", "source", "n_chars").collect()] == ["a"]
    hits = A.top_hits_agg(docs, "red", "source", size=1, hits=1).collect()
    assert [(r["key"], r["doc_id"]) for r in hits] == [("a", 3)]
    con = duckdb.connect()
    con.register("documents", docs.toArrow())
    for sql in (A.terms_agg_sql("red", "source"),
                A.terms_stats_agg_sql("red", "source", "n_chars"),
                A.top_hits_agg_sql("red", "source", size=1, hits=1)):
        assert [r[0] for r in con.execute(sql).fetchall()] == ["a"]


def test_aggs_leave_no_cached_frame(spark, env, corpus):
    _, docs, _, _ = env
    spark.catalog.clearCache()
    for df in [
        S.significant_text(docs, "red cat", 5, min_doc_count=1),
        S.significant_terms_agg(docs, "cat", "source", 5, min_doc_count=1),
        A.range_agg(docs, "red", "n_chars", [(None, 5), (5, None)]),
        A.terms_agg(docs, "red", "source"),
    ]:
        df.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    corpus.cache()  # the session fixture's cache, dropped above

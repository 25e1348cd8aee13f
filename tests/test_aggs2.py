"""Round-4 second aggregation wave: cardinality, extended_stats,
histogram (gap fill), date_histogram, top_hits, composite (+after_key),
filters.
"""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from sparksearch.analyze import tokenize_str
from sparksearch.query import aggs
from sparksearch.query.bm25 import bm25_scores_df


@pytest.fixture(scope="module")
def tiny(spark):
    """Hand-built corpus with a known histogram gap and field layout."""
    rows = [
        (1, "scan filter", "a", 50),
        (2, "scan scan", "a", 120),
        (3, "scan", "b", 130),
        (4, "scan table", None, 350),
        (5, "other words", "c", 999),  # not in the 'scan' match set
        (6, None, "d", 10),  # null text: never matches
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )


def test_cardinality(tiny):
    # match set = docs 1-4; sources a, a, b, NULL → 2 distinct
    out = aggs.cardinality_agg(tiny, "scan", "source").collect()
    assert out[0]["value"] == 2


def test_extended_stats_matches_numpy(tiny):
    vals = [50, 120, 130, 350]
    r = aggs.extended_stats_agg(tiny, "scan", "n_chars").collect()[0]
    n = len(vals)
    mean = sum(vals) / n
    var = sum((v - mean) ** 2 for v in vals) / n  # population
    sd = math.sqrt(var)
    assert r["count"] == n
    assert r["min"] == min(vals) and r["max"] == max(vals)
    assert r["avg"] == round(mean, 4)
    assert r["sum"] == sum(vals)
    assert r["sum_of_squares"] == sum(v * v for v in vals)
    assert abs(r["variance"] - var) < 1e-3
    assert abs(r["std_deviation"] - sd) < 1e-3
    assert abs(r["std_upper"] - (mean + 2 * sd)) < 1e-3
    assert abs(r["std_lower"] - (mean - 2 * sd)) < 1e-3


def test_histogram_gap_fill(tiny):
    out = aggs.histogram_agg(tiny, "scan", "n_chars", 100).collect()
    got = [(r["key"], r["doc_count"]) for r in out]
    # keys 0(50), 100(120,130), 300(350); 200 is an EMPTY gap bucket
    assert got == [(0, 1), (100, 2), (200, 0), (300, 1)]
    # min_doc_count=1 drops the gap
    out1 = aggs.histogram_agg(tiny, "scan", "n_chars", 100, min_doc_count=1)
    assert [(r["key"], r["doc_count"]) for r in out1.collect()] == [
        (0, 1), (100, 2), (300, 1)
    ]


def test_histogram_empty_match_set(tiny):
    assert aggs.histogram_agg(tiny, "zzz", "n_chars", 100).count() == 0


def test_date_histogram_gap_fill(spark):
    base = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        (1, base, "error"),
        (2, base + dt.timedelta(minutes=10), "error"),
        (3, base + dt.timedelta(hours=3), "error"),
        (4, base + dt.timedelta(hours=1), "click"),  # filtered out
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = aggs.date_histogram_agg(ev, "hour", event_type="error").collect()
    got = [(r["key"], r["doc_count"]) for r in out]
    h0 = dt.datetime(2024, 1, 1, 0)
    assert got == [
        (h0, 2),
        (h0 + dt.timedelta(hours=1), 0),
        (h0 + dt.timedelta(hours=2), 0),
        (h0 + dt.timedelta(hours=3), 1),
    ]


@pytest.fixture(scope="module")
def grouped(corpus):
    """corpus + a deterministic 5-way group column (the shared corpus is
    (doc_id, text) only)."""
    return corpus.withColumn(
        "grp", F.pmod(F.col("doc_id"), F.lit(5)).cast("string")
    )


@pytest.fixture(scope="module")
def q2(corpus):
    """Two corpus terms (query text derived, not assumed)."""
    ts = sorted(tokenize_str(corpus.select("text").first()["text"]))
    return " ".join(ts[:2]) if len(ts) >= 2 else ts[0]


def test_top_hits_brute(grouped, q2):
    q, field, size, hits = q2, "grp", 5, 2
    scored = {
        r["doc_id"]: round(r["raw"], 4)
        for r in bm25_scores_df(grouped, q).collect()
    }
    fields = {
        r["doc_id"]: str(r[field])
        for r in grouped.select("doc_id", field).collect()
    }
    by_key: dict[str, list] = {}
    for d, s in scored.items():
        by_key.setdefault(fields[d], []).append((d, s))
    buckets = sorted(
        ((k, len(v)) for k, v in by_key.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )[:size]
    want = []
    for k, n in buckets:
        top = sorted(by_key[k], key=lambda ds: (-ds[1], ds[0]))[:hits]
        for i, (d, s) in enumerate(top, 1):
            want.append((k, n, i, d, s))
    got = [
        (r["key"], r["doc_count"], r["hit_rank"], r["doc_id"], r["score"])
        for r in aggs.top_hits_agg(grouped, q, field, size, hits).collect()
    ]
    assert got == want


def test_composite_cursor_equals_offset(grouped, q2):
    srcs = ["grp"]
    full = aggs.composite_agg(grouped, q2, srcs, 10_000).collect()
    keys = [tuple(r[s] for s in srcs) for r in full]
    assert keys == sorted(keys)
    p1 = aggs.composite_agg(grouped, q2, srcs, 2).collect()
    if len(p1) < 2:
        pytest.skip("fewer than 2 buckets")
    after = tuple(p1[-1][s] for s in srcs)
    p2 = aggs.composite_agg(grouped, q2, srcs, 2, after=after).collect()
    assert [tuple(r) for r in p2] == [tuple(r) for r in full[2:4]]


def test_composite_arity_check(grouped):
    with pytest.raises(ValueError):
        aggs.composite_agg(grouped, "the", ["grp"], 3, after=("a", "b"))


def test_filters_agg_counts(corpus):
    toksets = {
        r["doc_id"]: set(tokenize_str(r["text"]))
        for r in corpus.select("doc_id", "text").collect()
    }
    vocab = sorted({t for ts in toksets.values() for t in ts})
    named = {"first": vocab[0], "both": f"{vocab[0]} {vocab[-1]}", "none": ""}
    out = {
        r["name"]: r["doc_count"]
        for r in aggs.filters_agg(corpus, named).collect()
    }
    assert out["first"] == sum(1 for ts in toksets.values() if vocab[0] in ts)
    assert out["both"] == sum(
        1 for ts in toksets.values() if {vocab[0], vocab[-1]} & ts
    )
    assert out["none"] == 0


# ---------------------------------------------------------------------------
# round-4 third wave: multi_terms / rare_terms / missing
# ---------------------------------------------------------------------------


def test_multi_terms_golden_and_twin(spark, tiny):
    import duckdb

    rows = tiny.withColumn("lang", F.lit("en"))
    out = aggs.multi_terms_agg(rows, "scan", ["source", "lang"], 10).collect()
    got = [(r["key"], r["doc_count"]) for r in out]
    # match set docs 1-4; doc 4 has NULL source → excluded entirely
    assert got == [("a|en", 2), ("b|en", 1)]
    con = duckdb.connect()
    con.register("documents", rows.toPandas())
    oq = con.execute(
        aggs.multi_terms_agg_sql("scan", ["source", "lang"], 10)
    ).fetchall()
    assert got == oq
    with pytest.raises(ValueError):
        aggs.multi_terms_agg(rows, "scan", ["source"], 10)
    with pytest.raises(ValueError):
        aggs.multi_terms_agg_sql("scan", [], 10)


def test_rare_terms_bound_and_twin(spark, corpus):
    import duckdb

    from sparksearch.synth import make_vocab

    q = make_vocab(10)[0]  # a head term guaranteed in the synth corpus
    docs = corpus.withColumn("bucket", F.pmod("doc_id", F.lit(97)))
    assert aggs.match_set(docs, q).count() > 0
    for mdc in (1, 2):
        out = aggs.rare_terms_agg(docs, q, "bucket", mdc).collect()
        assert all(r["doc_count"] <= mdc for r in out)
        # ordered (doc_count asc, key asc)
        keys = [(r["doc_count"], r["key"]) for r in out]
        assert keys == sorted(keys)
        con = duckdb.connect()
        con.register("documents", docs.toPandas())
        oq = con.execute(aggs.rare_terms_agg_sql(q, "bucket", mdc)).fetchall()
        assert [(r["key"], r["doc_count"]) for r in out] == oq
    # widening max_doc_count only grows the bucket set
    k1 = {r["key"] for r in aggs.rare_terms_agg(docs, q, "bucket", 1).collect()}
    k2 = {r["key"] for r in aggs.rare_terms_agg(docs, q, "bucket", 2).collect()}
    assert k1 <= k2


def test_missing_agg_golden(tiny):
    out = aggs.missing_agg(tiny, "scan", "source").collect()
    assert out[0]["doc_count"] == 1  # doc 4 (in match set, NULL source)
    out2 = aggs.missing_agg(tiny, "zzz_oov", "source").collect()
    assert out2[0]["doc_count"] == 0


# ---------------------------------------------------------------------------
# value_count / weighted_avg / median_absolute_deviation / adjacency_matrix
# ---------------------------------------------------------------------------

class TestAggsWave3:
    def test_value_count_counts_nonnull_values(self, spark):
        rows = [(1, "a x", 5), (2, "a y", None), (3, "b z", 7), (4, None, 9)]
        df = spark.createDataFrame(rows, "doc_id long, text string, v long")
        got = aggs.value_count_agg(df, "a", "v").collect()[0]["value"]
        assert got == 1  # doc1 matches 'a' with v non-null; doc2 null v
        got_all = aggs.value_count_agg(df, "a y x z b", "v").collect()[0]["value"]
        assert got_all == 2

    def test_weighted_avg_manual(self, spark):
        rows = [(1, "a", 10, 1), (2, "a", 20, 3), (3, "a", 30, None),
                (4, "b", 99, 1)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, v long, w long")
        got = aggs.weighted_avg_agg(df, "a", "v", "w").collect()[0]["value"]
        assert got == round((10 * 1 + 20 * 3) / 4.0, 4)

    def test_mad_manual(self, spark):
        rows = [(i, "a", v) for i, v in enumerate([1, 2, 3, 4, 100])]
        df = spark.createDataFrame(rows, "doc_id long, text string, v long")
        # median = 3; deviations [2,1,0,1,97] -> median 1
        got = aggs.mad_agg(df, "a", "v").collect()[0]["value"]
        assert got == 1.0

    def test_adjacency_matrix_manual(self, spark):
        rows = [(1, "x y"), (2, "x"), (3, "y z"), (4, "z")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        named = {"a": "x", "b": "y", "c": "z"}
        got = {r["key"]: r["doc_count"]
               for r in aggs.adjacency_matrix_agg(df, named).collect()}
        assert got == {"a": 2, "b": 2, "c": 2, "a&b": 1, "b&c": 1}
        # empty intersection a&c omitted; keys sorted
        with pytest.raises(ValueError):
            aggs.adjacency_matrix_agg(df, {"a": "x"})

    def test_wave3_duckdb_parity(self, spark, corpus):
        import duckdb

        # documents-shaped frame: the synth corpus lacks n_chars, and
        # its doc_ids are xxhash64 (can be negative) — abs() the weight
        from sparksearch.synth import make_vocab

        docs = corpus.withColumn("n_chars", F.length("text"))
        con = duckdb.connect()
        con.register("documents", docs.toPandas())
        v = make_vocab(100)
        q = f"{v[0]} {v[1]} {v[2]} {v[3]}"
        assert aggs.match_set(docs, q).count() > 0, "query must match"
        w = "abs(doc_id % 7) + 1"
        named = {"ml": v[0], "px": f"{v[1]} {v[2]}", "idx": f"{v[0]} {v[3]}"}
        cases = [
            (aggs.value_count_agg(docs, q, "n_chars"),
             aggs.value_count_agg_sql(q, "n_chars")),
            (aggs.weighted_avg_agg(docs, q, "n_chars", w),
             aggs.weighted_avg_agg_sql(q, "n_chars", w)),
            (aggs.mad_agg(docs, q, "n_chars"), aggs.mad_agg_sql(q, "n_chars")),
            (aggs.adjacency_matrix_agg(docs, named),
             aggs.adjacency_matrix_agg_sql(named)),
        ]
        for ex_df, sql in cases:
            ex = [tuple(r) for r in ex_df.collect()]
            oq = [tuple(r) for r in con.execute(sql).fetchall()]
            assert ex == oq, sql[:100]
            assert ex, "case must be non-vacuous"


class TestSamplerAndSigTerms:
    def test_sampler_is_stats_over_topn(self, spark, corpus):
        """sampler(stats child) ≡ stats over the global top-shard_size
        BM25 sample (the pinned sample rule)."""
        from sparksearch.query.bm25 import SCORE_ROUND, bm25_scores_df
        from sparksearch.synth import make_vocab

        v = make_vocab(100)
        docs = corpus.withColumn("n_chars", F.length("text"))
        q = f"{v[0]} {v[1]}"
        n = 25
        ids = [
            r["doc_id"]
            for r in bm25_scores_df(docs, q)
            .orderBy(F.desc(F.round("raw", SCORE_ROUND)), F.asc("doc_id"))
            .limit(n)
            .collect()
        ]
        import builtins
        sub = docs.filter(F.col("doc_id").isin(ids))
        want = sub.agg(
            F.count("n_chars"), F.min("n_chars"), F.max("n_chars"),
            F.round(F.avg("n_chars"), 4), F.sum("n_chars"),
        ).collect()[0]
        got = aggs.sampler_stats_agg(docs, q, "n_chars", n).collect()[0]
        assert builtins.tuple(got) == (
            want[0], float(want[1]), float(want[2]), want[3], float(want[4])
        )

    def test_sampler_and_sigterms_duckdb_parity(self, spark, corpus):
        import duckdb
        from sparksearch.query.sigterms import (
            significant_terms_agg,
            significant_terms_agg_sql,
        )

        from sparksearch.synth import make_vocab

        v = make_vocab(100)
        docs = corpus.withColumn("n_chars", F.length("text")).withColumn(
            "source", F.concat(F.lit("s"), F.pmod("doc_id", F.lit(7)).cast("string"))
        )
        con = duckdb.connect()
        con.register("documents", docs.toPandas())
        q = f"{v[0]} {v[1]} {v[2]}"
        # sig_terms needs a PROPER-subset match (fg_pct == bg_pct on a
        # match-all ⇒ zero positive-lift keys): use one tail term
        qt = v[97]
        m, n = aggs.match_set(docs, qt).count(), docs.count()
        assert 0 < m < n, (m, n)
        cases = [
            (aggs.sampler_stats_agg(docs, q, "n_chars", 25),
             aggs.sampler_stats_agg_sql(q, "n_chars", 25)),
            (significant_terms_agg(docs, qt, "source", 10, min_doc_count=1),
             significant_terms_agg_sql(qt, "source", 10, min_doc_count=1)),
        ]
        for ex_df, sql in cases:
            ex = [tuple(r) for r in ex_df.collect()]
            oq = [tuple(r) for r in con.execute(sql).fetchall()]
            assert len(ex) == len(oq) and ex, sql[:90]
            for a, b in zip(ex, oq):
                assert a[:-1] == b[:-1] and abs(a[-1] - b[-1]) < 1e-9, (a, b)


class TestWave5:
    def test_string_stats_manual(self, tiny):
        r = aggs.string_stats_agg(tiny, "scan", "text").collect()[0]
        lens = [len("scan filter"), len("scan scan"), len("scan"),
                len("scan table")]
        assert r["count"] == 4
        assert r["min_length"] == min(lens)
        assert r["max_length"] == max(lens)
        assert r["avg_length"] == round(sum(lens) / 4, 4)

    def test_boxplot_manual(self, tiny):
        r = aggs.boxplot_agg(tiny, "scan", "n_chars").collect()[0]
        # vals sorted: 50, 120, 130, 350 (exact linear interpolation)
        assert r["min"] == 50.0 and r["max"] == 350.0
        assert r["q1"] == round(50 + 0.75 * 70, 4)     # 102.5
        assert r["q2"] == 125.0
        assert r["q3"] == round(130 + 0.25 * 220, 4)   # 185.0

    def test_top_metrics_order_and_tie(self, spark):
        rows = [(1, "scan", 10), (2, "scan", 30), (3, "scan", 30),
                (4, "scan", 5)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, n_chars long")
        out = aggs.top_metrics_agg(df, "scan", "n_chars", "doc_id", 3)
        got = [(r["sort_value"], r["metric_value"]) for r in out.collect()]
        # desc by n_chars, tie doc_id asc
        assert got == [(30.0, 2.0), (30.0, 3.0), (10.0, 1.0)]

    def test_auto_date_histogram_picks_smallest_fitting_rung(self, spark):
        base = dt.datetime(2024, 1, 1, 0, 0, 0)
        rows = [(i, "error", base + dt.timedelta(minutes=7 * i))
                for i in range(10)]  # span 63 min
        ev = spark.createDataFrame(
            rows, "event_id long, event_type string, ts timestamp")
        out = aggs.auto_date_histogram_agg(ev, 10).collect()
        # 63-min span: 60s → 64 buckets (>10), 300s → 13 (>10),
        # 900s → 5 (<=10) → rung 900 wins
        assert all(r["interval_sec"] == 900 for r in out)
        assert len(out) == 5
        assert sum(r["doc_count"] for r in out) == 10
        # gap fill: keys are a contiguous 900s grid
        keys = [r["key"] for r in out]
        deltas = {int((b - a).total_seconds()) for a, b in zip(keys, keys[1:])}
        assert deltas == {900}

    def test_diversified_sampler_caps_per_value(self, spark):
        # 4 docs share source 'a' and outscore everything; cap 1 per
        # value forces the sample to diversify into 'b'
        rows = [
            (1, "scan scan scan", "a", 10),
            (2, "scan scan scan", "a", 20),
            (3, "scan scan scan", "a", 30),
            (4, "scan scan scan", "a", 40),
            (5, "scan", "b", 1000),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string, n_chars long")
        r = aggs.diversified_sampler_stats_agg(
            df, "scan", "n_chars", "source", shard_size=2,
            max_docs_per_value=1,
        ).collect()[0]
        # best of 'a' (doc 1 by tie rule among equal scores) + best of 'b'
        assert r["count"] == 2
        assert r["sum"] == 10.0 + 1000.0

    def test_wave5_duckdb_parity(self, spark, corpus):
        import duckdb
        from sparksearch.synth import make_vocab

        v = make_vocab(100)
        q = f"{v[3]} {v[17]}"
        # documents-shaped frame: the synth corpus lacks n_chars/source
        docs = corpus.withColumn("n_chars", F.length("text")).withColumn(
            "source", F.pmod(F.col("doc_id"), F.lit(5)).cast("string")
        )
        assert aggs.match_set(docs, q).count() > 0, "query must match"
        con = duckdb.connect()
        con.register("documents", docs.toPandas())
        cases = [
            (aggs.string_stats_agg(docs, q, "text"),
             aggs.string_stats_agg_sql(q, "text")),
            (aggs.boxplot_agg(docs, q, "n_chars"),
             aggs.boxplot_agg_sql(q, "n_chars")),
            (aggs.top_metrics_agg(docs, q, "n_chars", "doc_id", 5),
             aggs.top_metrics_agg_sql(q, "n_chars", "doc_id", 5)),
            (aggs.diversified_sampler_stats_agg(
                docs, q, "n_chars", "source", 20, 2),
             aggs.diversified_sampler_stats_agg_sql(
                q, "n_chars", "source", 20, 2)),
        ]
        import pandas as pd
        for sdf, sql in cases:
            a = sdf.toPandas()
            b = con.sql(sql).df()
            pd.testing.assert_frame_equal(
                a.reset_index(drop=True),
                b[a.columns].reset_index(drop=True),
                check_dtype=False,
            )


def test_percentile_ranks(tiny):
    # match set n_chars = [50, 120, 130, 350]
    out = aggs.percentile_ranks_agg(tiny, "scan", "n_chars", [100.0, 130.0, 500.0]).collect()
    got = {r["value"]: r["rank"] for r in out}
    assert got == {100.0: 25.0, 130.0: 75.0, 500.0: 100.0}
    with pytest.raises(ValueError):
        aggs.percentile_ranks_agg(tiny, "scan", "n_chars", [])


def test_matrix_stats(tiny, spark):
    import numpy as np

    two = tiny.withColumn("m", (F.col("doc_id") * 3 + F.pmod(F.col("doc_id"), F.lit(2))).cast("double"))
    a = np.array([50.0, 120.0, 130.0, 350.0])
    b = np.array([1 * 3 + 1, 2 * 3 + 0, 3 * 3 + 1, 4 * 3 + 0], dtype=float)
    out = aggs.matrix_stats_agg(two, "scan", "n_chars", "m").collect()
    rows = {r["field"]: r for r in out}
    ra = rows["n_chars"]
    assert ra["count"] == 4
    assert ra["mean"] == pytest.approx(a.mean(), abs=1e-4)
    assert ra["variance"] == pytest.approx(a.var(ddof=1), abs=1e-3)
    m2, m3, m4 = [(np.mean((a - a.mean()) ** p)) for p in (2, 3, 4)]
    assert ra["skewness"] == pytest.approx(m3 / m2**1.5, abs=1e-4)
    assert ra["kurtosis"] == pytest.approx(m4 / m2**2, abs=1e-4)
    cov = np.cov(a, b, ddof=1)[0, 1]
    corr = np.corrcoef(a, b)[0, 1]
    assert ra["covariance"] == pytest.approx(cov, abs=1e-3)
    assert ra["correlation"] == pytest.approx(corr, abs=1e-4)
    rb = rows["m"]
    assert rb["mean"] == pytest.approx(b.mean(), abs=1e-4)
    assert rb["covariance"] == ra["covariance"]  # symmetric
    assert rb["correlation"] == ra["correlation"]


def test_scripted_metric_rms(tiny):
    import warnings

    import numpy as np

    # match set = docs 1-4; null-source doc 4 lands in no bucket
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = {r["source"]: r["rms"] for r in aggs.scripted_metric_rms(
            tiny, "scan", "source", "n_chars").collect()}
    exp_a = round(float(np.sqrt((50.0**2 + 120.0**2) / 2)), 4)
    assert out == {"a": exp_a, "b": 130.0}
    # the reduce runs as a plain grouped map, without a type-hint warning
    assert not [w for w in caught if issubclass(w.category, UserWarning)
                and "eval type" in str(w.message)]


def test_scripted_metric_custom_reduce(tiny, spark):
    import pandas as pd

    # custom metric: per-source range (max - min) of n_chars, via
    # (min, max) partial states — exercises the generic path directly
    def map_combine(pdf):
        g = pdf.groupby("source", sort=False)["n_chars"]
        return g.agg(lo="min", hi="max").reset_index()

    def reduce_states(key, pdf):
        return pd.DataFrame({
            "source": [key[0]],
            "rng": [int(pdf["hi"].max() - pdf["lo"].min())],
        })

    out = {r["source"]: r["rng"] for r in aggs.scripted_metric_agg(
        tiny, "scan", "source", map_combine, reduce_states,
        state_schema="source string, lo long, hi long",
        out_schema="source string, rng long",
    ).collect()}
    assert out == {"a": 70, "b": 0}


def test_scripted_metric_parallelism_invariant(tiny):
    # partial-state shape must not leak into the answer: 1 vs 6 partitions
    one = aggs.scripted_metric_rms(
        tiny.coalesce(1), "scan", "source", "n_chars").collect()
    many = aggs.scripted_metric_rms(
        tiny.repartition(6), "scan", "source", "n_chars").collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, many))


def test_scripted_metric_all_null_bucket_is_null(spark):
    # pinned null semantics (ADVICE r4): null values join neither sum nor
    # count; an all-null bucket emits rms NULL — same as the SQL twin's
    # sqrt(sum(v*v)/count(v))
    rows = [
        (1, "scan", "a", 100),
        (2, "scan", "a", None),  # partial-null: divisor = non-null count
        (3, "scan", "b", None),  # all-null bucket → NULL
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )
    out = {r["source"]: r["rms"] for r in
           aggs.scripted_metric_rms(df, "scan", "source", "n_chars").collect()}
    assert out == {"a": 100.0, "b": None}


def test_scripted_metric_null_key_filtered_generically(spark):
    # the JVM-side isNotNull filter holds even when the user map_combine
    # would happily emit null-key states (ADVICE r4)
    import pandas as pd

    rows = [(1, "scan", None, 5), (2, "scan", "a", 7)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    )

    def map_combine(pdf):
        # deliberately keeps null keys (dropna=False)
        g = pdf.groupby("source", sort=False, dropna=False)["n_chars"]
        return g.agg(s="sum").reset_index()

    def reduce_states(key, pdf):
        return pd.DataFrame({"source": [key[0]], "s": [int(pdf["s"].sum())]})

    out = aggs.scripted_metric_agg(
        df, "scan", "source", map_combine, reduce_states,
        state_schema="source string, s long",
        out_schema="source string, s long",
    ).collect()
    assert [(r["source"], r["s"]) for r in out] == [("a", 7)]

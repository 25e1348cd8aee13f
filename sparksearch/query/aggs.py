"""Search aggregations (facets): terms / stats / range over a match set.

OpenSearch pairs every query with optional ``aggs`` that run over the
FULL set of matching documents, not the top-k page (the reference
drives this engine surface through its `_search` bodies —
``keyword_search/functions/helper_functions.py`` builds match queries;
aggregations are the other half of that `_search` API).  Semantics
pinned here (mirrored by the DuckDB twins):

* **match set** — docs whose analyzed token array contains ANY analyzed
  query term (OpenSearch ``match`` with the default ``operator: or``).
  Expressed as ``arrays_overlap`` so Catalyst keeps it inside
  whole-stage codegen; the indexed path derives the same set from the
  packed postings (same analyzer ⇒ identical set, pytest-pinned).
* **terms agg** — bucket per distinct non-null field value (a doc
  missing the field is in no bucket, OpenSearch's ``terms`` rule),
  ``doc_count`` desc, key asc (OpenSearch tie order), top ``size``
  buckets (default 10).
* **stats agg** — one row: count / min / max / avg / sum (avg rounded
  4 dp — the engine's cross-engine float contract).
* **range agg** — one bucket per requested range, ``from`` inclusive,
  ``to`` exclusive (OpenSearch convention), ranges may overlap, empty
  buckets kept with doc_count 0, bucket order = request order
  (``bucket_idx``); key rendered ``"<from>-<to>"`` with ``*`` for an
  open end.

One aggregation layer: every Spark agg here, in ``geo.py``,
``joinq.py``, ``pipeaggs.py`` and ``sigterms.py`` is a match set
(:func:`match_set`, or :func:`indexed_match_ids` for the indexed form),
a key or a condition list, and a metric set, run through the steps
below, each written once: the keyed buckets (:func:`_buckets`) and
their cut (:func:`_top_buckets`), the one-row aggregate stacked into
bucket rows (:func:`_stacked`, :func:`_count_buckets` over the
conditional count :func:`_count_where`), the stats metric set
(:func:`_stats`), the exact percentile (:func:`_percentile`), the
gap-filled grid (:func:`_gap_filled`), the event context
(:func:`_events`) and the pinned BM25 sample (:func:`_sample_stats`).
The DuckDB ``*_sql`` twins share none of it: an expression shared by
an engine and its oracle would hide the engine's bugs.

Scale: the match set never leaves the JVM — each agg is one
filter → groupBy/aggregate with map-side partial aggregation; the
terms agg ships at most (n_partitions × distinct keys) rows into the
final exchange, the stats/range aggs a single row per partition.  The
indexed variants prune the postings scan to the query's term buckets
first, so the corpus is touched only for the matched doc ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksearch.analyze import duckdb_tokens_expr, tokenize_str, tokens_col

AVG_ROUND = 4


def _match_filter(text_col: str, terms: list[str], analyzer: str):
    return F.arrays_overlap(
        tokens_col(text_col, analyzer), F.array(*[F.lit(t) for t in terms])
    )


def match_set(
    docs: DataFrame,
    query_text: str,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Rows of ``docs`` matching the query (OR-semantics match query)."""
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    if not terms:
        return docs.filter(F.lit(False))
    return docs.filter(F.col(text_col).isNotNull()).filter(
        _match_filter(text_col, terms, analyzer)
    )


def _match_where_sql(query_text: str, analyzer: str, text_col: str = "text") -> str:
    terms = sorted(set(tokenize_str(query_text, analyzer)))
    if not terms:
        return "FALSE"
    lits = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return (
        f"{text_col} IS NOT NULL AND len(list_intersect("
        f"{duckdb_tokens_expr(text_col, analyzer)}, [{lits}])) > 0"
    )


# -- the aggregation layer (Spark side; see the module docstring) -----------
def _buckets(rows: DataFrame, *keys: Column, metrics=()) -> DataFrame:
    """One bucket per distinct key tuple → (keys..., doc_count,
    metrics...).  A row with a null key is in no bucket (OpenSearch
    skips documents missing the field); the filter is on the grouping
    keys, so Catalyst pushes it below the groupBy."""
    out = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("doc_count"), *metrics)
    for k in out.columns[: len(keys)]:
        out = out.filter(F.col(k).isNotNull())
    return out


def _top_buckets(rows: DataFrame, key: Column, size: int, *metrics) -> DataFrame:
    """The bucket cut: ``key`` buckets (:func:`_buckets`) in OpenSearch
    order, doc_count desc then key asc, top ``size``."""
    return (
        _buckets(rows, key, metrics=metrics)
        .orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(size)
    )


def _stats(c: Column, rnd: int = AVG_ROUND) -> list[Column]:
    """The stats metric set: count of values / min / max / avg (rounded
    ``rnd`` dp) / sum; min, max and sum as doubles."""
    return [
        F.count(c).alias("count"),
        F.min(c).cast("double").alias("min"),
        F.max(c).cast("double").alias("max"),
        F.round(F.avg(c), rnd).alias("avg"),
        F.sum(c).cast("double").alias("sum"),
    ]


def _percentile(x: str, q: float) -> Column:
    """EXACT linear-interpolation percentile ``q`` ∈ [0, 1] of the SQL
    expression ``x`` (Spark ``percentile`` ≡ DuckDB ``quantile_cont``)."""
    return F.expr(f"percentile({x}, {q!r})")


def _sql_lit(v) -> str:
    if isinstance(v, float):
        return f"CAST({v!r} AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(int(v))


def _stacked(rows: DataFrame, names: tuple, cells: list) -> DataFrame:
    """One aggregate row over ``rows`` → one output row per cell, in
    request order.  ``cells`` are (labels, metric) pairs; ``names``
    names the label columns, then the metric column.  The match set is
    read once however many cells there are."""
    one = rows.agg(*[m.alias(f"_c{i}") for i, (_, m) in enumerate(cells)])
    body = ", ".join(
        ", ".join(map(_sql_lit, labels)) + f", _c{i}"
        for i, (labels, _) in enumerate(cells)
    )
    return one.selectExpr(f"stack({len(cells)}, {body}) AS ({', '.join(names)})")


def _percentile_rows(rows: DataFrame, x: str, percents, rnd: int) -> DataFrame:
    """(percent, value) rows in request order: :func:`_percentile` of
    the SQL expression ``x`` at each percent, rounded ``rnd`` dp."""
    if not percents:
        raise ValueError("percents must be non-empty")
    return _stacked(rows, ("percent", "value"), [
        ((float(p),), F.round(_percentile(x, p / 100.0), rnd)) for p in percents
    ])


def _count_where(cond: Column) -> Column:
    """The conditional count: rows where ``cond`` holds (NULL over no
    rows, like SQL ``sum``)."""
    return F.sum(F.when(cond, 1).otherwise(0))


def _count_buckets(rows: DataFrame, names: tuple, buckets: list) -> DataFrame:
    """(labels, condition) buckets counted in one pass (:func:`_stacked`);
    an empty match set counts 0 in every bucket."""
    return _stacked(
        rows, names,
        [(labels, F.coalesce(_count_where(c), F.lit(0))) for labels, c in buckets],
    )


def _in_range(v: Column, lo, hi) -> Column:
    """``lo`` inclusive, ``hi`` exclusive, None an open end; a null
    value is in no range."""
    cond = v.isNotNull()
    if lo is not None:
        cond = cond & (v >= lo)
    if hi is not None:
        cond = cond & (v < hi)
    return cond


_RANGE_COLS = ("bucket_idx", "key", "doc_count")


def _gap_filled(counts: DataFrame, span: DataFrame, step: Column, *carry: str):
    """(key, doc_count) buckets with the empty ones filled in: every
    ``step`` from ``span``'s ``lo`` to ``hi`` is a key (``span`` is one
    row, NULL bounds when nothing matched), doc_count 0 where ``counts``
    has none; ``carry`` columns of ``span`` ride along; key asc.  The
    grid is a ``sequence`` over the single span row — bucket-sized,
    never corpus-sized."""
    grid = span.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"), step)).alias("key"), *carry
    )
    return (
        grid.join(counts, "key", "left")
        .select(
            "key", *carry,
            F.coalesce(F.col("doc_count"), F.lit(0)).cast("long").alias("doc_count"),
        )
        .orderBy("key")
    )


def _histogram(keys: DataFrame, step, min_doc_count: int) -> DataFrame:
    """(key) rows → (key, doc_count), key asc: gap-filled every ``step``
    at ``min_doc_count`` 0, else the buckets holding at least that many."""
    counts = _buckets(keys, F.col("key"))
    if min_doc_count >= 1:
        return counts.filter(F.col("doc_count") >= min_doc_count).orderBy("key")
    span = keys.agg(F.min("key").alias("lo"), F.max("key").alias("hi"))
    return _gap_filled(counts, span, step)


def _events(events: DataFrame, ts_col: str, event_type: str | None) -> DataFrame:
    """The event query context: rows with a timestamp, of
    ``event_type`` when one is given (a filtered `_search` with aggs)."""
    m = events.filter(F.col(ts_col).isNotNull())
    if event_type is not None:
        m = m.filter(F.col("event_type") == event_type)
    return m


def _sample_stats(docs: DataFrame, scored: DataFrame, field: str, shard_size: int):
    """:func:`_stats` of ``field`` over the pinned sample: the GLOBAL top
    ``shard_size`` of ``scored`` (rounded BM25 desc, doc_id asc — the
    engine's tie rule), one TakeOrderedAndProject broadcast-semi-joined
    back to ``docs``."""
    from sparksearch.query.bm25 import SCORE_ROUND

    sample = (
        scored.orderBy(F.desc(F.round("raw", SCORE_ROUND)), F.asc("doc_id"))
        .limit(shard_size)
        .select("doc_id")
    )
    return docs.join(F.broadcast(sample), "doc_id", "leftsemi").agg(
        *_stats(F.col(field))
    )


def terms_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    size: int = 10,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Terms facet → (key string, doc_count long), OpenSearch bucket order."""
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    return _top_buckets(m, F.col(field).cast("string").alias("key"), size)


def terms_agg_sql(
    query_text: str,
    field: str,
    size: int = 10,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    return f"""
SELECT CAST({field} AS VARCHAR) AS key, count(*) AS doc_count
FROM {table}
WHERE {_match_where_sql(query_text, analyzer)} AND {field} IS NOT NULL
GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT {size}
""".strip()


def stats_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Stats facet → one row (count, min, max, avg, sum) over ``field``."""
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    return m.agg(*_stats(F.col(field)))


def stats_agg_sql(
    query_text: str,
    field: str,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    return f"""
SELECT count({field}) AS count,
       CAST(min({field}) AS DOUBLE) AS min,
       CAST(max({field}) AS DOUBLE) AS max,
       round(avg({field}), {AVG_ROUND}) AS avg,
       CAST(sum({field}) AS DOUBLE) AS sum
FROM {table} WHERE {_match_where_sql(query_text, analyzer)}
""".strip()


Range = tuple[float | None, float | None]  # (from inclusive, to exclusive)


def _range_key(lo: float | None, hi: float | None) -> str:
    a = "*" if lo is None else f"{lo:g}"
    b = "*" if hi is None else f"{hi:g}"
    return f"{a}-{b}"


def range_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    ranges: list[Range],
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Range facet → (bucket_idx, key, doc_count), request bucket order.

    One pass: every bucket is a conditional count inside a single
    aggregate (no per-range scan), then unpivoted driver-side via a
    literal stack — the match set is read once regardless of the number
    of ranges.
    """
    if not ranges:
        raise ValueError("ranges must be non-empty")
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    return _count_buckets(m, _RANGE_COLS, [
        ((i, _range_key(lo, hi)), _in_range(F.col(field), lo, hi))
        for i, (lo, hi) in enumerate(ranges)
    ])


def range_agg_sql(
    query_text: str,
    field: str,
    ranges: list[Range],
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    where = _match_where_sql(query_text, analyzer)
    parts = []
    for i, (lo, hi) in enumerate(ranges):
        cond = f"{field} IS NOT NULL"
        if lo is not None:
            cond += f" AND {field} >= {lo}"
        if hi is not None:
            cond += f" AND {field} < {hi}"
        parts.append(
            f"SELECT CAST({i} AS INT) AS bucket_idx,"
            f" '{_range_key(lo, hi)}' AS key,"
            f" CAST(coalesce(sum(CASE WHEN {cond} THEN 1 ELSE 0 END), 0) AS BIGINT)"
            f" AS doc_count FROM {table} WHERE {where}"
        )
    return "\nUNION ALL\n".join(parts)


def terms_stats_agg(
    docs: DataFrame,
    query_text: str,
    bucket_field: str,
    metric_field: str,
    size: int = 10,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Terms bucket with a nested stats sub-aggregation (the aggs TREE).

    OpenSearch sub-aggregations run each child inside its parent's
    bucket: ``terms`` on ``bucket_field`` with a ``stats`` child on
    ``metric_field`` → per-bucket count/min/max/avg/sum.  Bucket order
    and ``size`` follow the parent terms agg (doc_count desc, key asc);
    the child never changes parent bucketing (OpenSearch rule).  One
    groupBy computes the parent count and every child metric in a
    single partial-agg exchange — the nested agg costs the same shuffle
    as the flat one.
    """
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    key = F.col(bucket_field).cast("string").alias("key")
    # the bucket's doc_count stands in for the stats value count
    return _top_buckets(m, key, size, *_stats(F.col(metric_field))[1:])


def terms_stats_agg_sql(
    query_text: str,
    bucket_field: str,
    metric_field: str,
    size: int = 10,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    return f"""
SELECT CAST({bucket_field} AS VARCHAR) AS key, count(*) AS doc_count,
       CAST(min({metric_field}) AS DOUBLE) AS min,
       CAST(max({metric_field}) AS DOUBLE) AS max,
       round(avg({metric_field}), {AVG_ROUND}) AS avg,
       CAST(sum({metric_field}) AS DOUBLE) AS sum
FROM {table}
WHERE {_match_where_sql(query_text, analyzer)} AND {bucket_field} IS NOT NULL
GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT {size}
""".strip()


DEFAULT_PERCENTS = (25.0, 50.0, 75.0, 95.0, 99.0)


def percentiles_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    percents: tuple = DEFAULT_PERCENTS,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Percentiles facet → (percent, value), request order.

    Pinned to EXACT linear-interpolation percentiles (Spark's
    ``percentile``; DuckDB's ``quantile_cont`` — the same definition,
    so values match bit-for-bit on integer fields; rounded 4 dp like
    every cross-engine float).  OpenSearch's default is the approximate
    TDigest — a documented deviation: its error bounds are
    implementation-defined and cannot be pinned across engines.  Exact
    percentiles are one sort-based aggregate over the match set; at
    100 TB swap in ``percentile_approx`` when a bounded-error sketch is
    acceptable (same API shape, no oracle).
    """
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    return _percentile_rows(m, field, percents, AVG_ROUND)


def percentiles_agg_sql(
    query_text: str,
    field: str,
    percents: tuple = DEFAULT_PERCENTS,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    where = _match_where_sql(query_text, analyzer)
    parts = [
        f"SELECT CAST({p!r} AS DOUBLE) AS percent,"
        f" round(quantile_cont({field}, {p / 100.0!r}), {AVG_ROUND}) AS value"
        f" FROM {table} WHERE {where}"
        for p in percents
    ]
    return "\nUNION ALL\n".join(parts)


# -- indexed variants ----------------------------------------------------
def indexed_match_ids(index, query_text: str) -> DataFrame:
    """Match-set doc ids straight from the packed index (any-term).

    Prunes the postings scan to the query terms' ``term_bucket=``
    directories, decodes only those blocks per segment, and resolves
    ordinals through the sidecar — the corpus itself is never touched.
    Identical to :func:`match_set`'s ids because postings were built by
    the same analyzer (pytest-pinned).
    """
    from sparksearch.query.matchset import match_ids_df

    return match_ids_df(index, query_text, mode="any")


def terms_agg_indexed(
    index, docs: DataFrame, query_text: str, field: str, size: int = 10,
    *, id_col: str = "doc_id",
) -> DataFrame:
    """Terms facet with the match set from the packed index.

    The ids frame is join-reduced against ``docs`` for the facet field;
    at scale this is a shuffle join on ``doc_id`` that AQE converts to
    a broadcast when the match set is small.
    """
    ids = indexed_match_ids(index, query_text)
    m = docs.join(ids, docs[id_col] == ids["doc_id"], "leftsemi")
    return _top_buckets(m, F.col(field).cast("string").alias("key"), size)


def cardinality_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Cardinality facet → one row (value): distinct ``field`` values in
    the match set (nulls are missing values — not counted).

    Pinned to the EXACT distinct count (DuckDB twin: COUNT(DISTINCT)).
    OpenSearch's cardinality is an HyperLogLog++ approximation whose
    error is seed/threshold-dependent and cannot be pinned cross-engine
    — a documented deviation; at 100 TB swap ``approx_count_distinct``
    (Spark's HLL++, same algorithm family) where a bounded-error sketch
    is acceptable: same one-exchange shape, partial sketches merged
    map-side instead of a distinct shuffle.
    """
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    return m.agg(F.count_distinct(F.col(field)).cast("long").alias("value"))


def cardinality_agg_sql(
    query_text: str,
    field: str,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    return (
        f"SELECT count(DISTINCT {field})::BIGINT AS value FROM {table} "
        f"WHERE {_match_where_sql(query_text, analyzer)}"
    )


def extended_stats_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Extended-stats facet → one row: count / min / max / avg / sum /
    sum_of_squares / variance / std_deviation / std bounds (avg ± 2σ).

    Variance and deviation are POPULATION moments (OpenSearch's
    definition); floats round {AVG_ROUND} dp for cross-engine hashing.
    One partial-agg exchange — every moment rides the same aggregate.
    """
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    c = F.col(field)
    sd = F.stddev_pop(c)
    return m.agg(
        *_stats(c),
        F.sum(c * c).cast("double").alias("sum_of_squares"),
        F.round(F.var_pop(c), AVG_ROUND).alias("variance"),
        F.round(sd, AVG_ROUND).alias("std_deviation"),
        F.round(F.avg(c) + 2 * sd, AVG_ROUND).alias("std_upper"),
        F.round(F.avg(c) - 2 * sd, AVG_ROUND).alias("std_lower"),
    )


def extended_stats_agg_sql(
    query_text: str,
    field: str,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    f, r = field, AVG_ROUND
    return f"""
SELECT count({f}) AS count,
       CAST(min({f}) AS DOUBLE) AS min,
       CAST(max({f}) AS DOUBLE) AS max,
       round(avg({f}), {r}) AS avg,
       CAST(sum({f}) AS DOUBLE) AS sum,
       CAST(sum({f} * {f}) AS DOUBLE) AS sum_of_squares,
       round(var_pop({f}), {r}) AS variance,
       round(stddev_pop({f}), {r}) AS std_deviation,
       round(avg({f}) + 2 * stddev_pop({f}), {r}) AS std_upper,
       round(avg({f}) - 2 * stddev_pop({f}), {r}) AS std_lower
FROM {table} WHERE {_match_where_sql(query_text, analyzer)}
""".strip()


def histogram_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    interval: int,
    *,
    min_doc_count: int = 0,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Histogram facet → (key, doc_count), key asc.

    OpenSearch semantics: bucket key = ``floor(value / interval) ·
    interval``; with the default ``min_doc_count: 0`` EMPTY buckets
    between the min and max observed keys are returned (gap fill);
    ``min_doc_count: 1`` drops them.  Pinned to integer fields/
    intervals (keys are exact BIGINTs — float intervals accumulate
    representation drift that cannot be pinned across engines).

    Scale: one groupBy for the counts; the gap fill is a ``sequence``
    over the SINGLE (min, max) row cross-joined back — bucket-sized,
    never corpus-sized.
    """
    if interval <= 0:
        raise ValueError("interval must be a positive integer")
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    keys = m.filter(F.col(field).isNotNull()).select(
        (F.floor(F.col(field) / interval) * interval).cast("long").alias("key")
    )
    return _histogram(keys, F.lit(int(interval)), min_doc_count)


def histogram_agg_sql(
    query_text: str,
    field: str,
    interval: int,
    *,
    min_doc_count: int = 0,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    where = _match_where_sql(query_text, analyzer)
    base = f"""
keys AS (
  SELECT (floor({field} / {interval}) * {interval})::BIGINT AS key
  FROM {table} WHERE ({where}) AND {field} IS NOT NULL
),
counts AS (SELECT key, count(*)::BIGINT AS doc_count FROM keys GROUP BY key)"""
    if min_doc_count >= 1:
        return (
            f"WITH {base.strip()}\nSELECT key, doc_count FROM counts "
            f"WHERE doc_count >= {min_doc_count} ORDER BY key"
        )
    return f"""
WITH {base.strip()},
grid AS (
  SELECT unnest(range(min(key), max(key) + 1, {interval}))::BIGINT AS key
  FROM keys
)
SELECT grid.key, coalesce(counts.doc_count, 0)::BIGINT AS doc_count
FROM grid LEFT JOIN counts USING (key) ORDER BY key
""".strip()


_DATE_UNITS = ("hour", "day", "week", "month", "year", "minute")
# fixed-width units only: month/year buckets are calendar-irregular
_DATE_STEPS = {"minute": "1 minute", "hour": "1 hour", "day": "1 day",
               "week": "7 days"}


def date_histogram_agg(
    events: DataFrame,
    unit: str = "hour",
    *,
    event_type: str | None = None,
    min_doc_count: int = 0,
    ts_col: str = "ts",
) -> DataFrame:
    """Date-histogram facet over an event stream → (key, doc_count).

    OpenSearch ``date_histogram`` with a calendar interval: bucket key
    = the timestamp truncated to ``unit``; ``min_doc_count: 0`` (the
    default) gap-fills empty calendar buckets between the min and max
    observed keys (for the fixed-width units — minute/hour/day/week —
    via a ``sequence``; month/year buckets are calendar-irregular, so
    gap fill there pins to ``min_doc_count: 1`` semantics).
    ``event_type`` is the query context (a term filter), mirroring a
    filtered `_search` with aggs.

    Scale: identical shape to :func:`histogram_agg` — one partial-agg
    groupBy plus a bucket-sized grid.
    """
    if unit not in _DATE_UNITS:
        raise ValueError(f"unit must be one of {_DATE_UNITS}")
    keys = _events(events, ts_col, event_type).select(
        F.date_trunc(unit, F.col(ts_col)).alias("key")
    )
    if unit not in _DATE_STEPS:
        return _histogram(keys, None, max(1, min_doc_count))
    return _histogram(keys, F.expr(f"interval {_DATE_STEPS[unit]}"), min_doc_count)


def date_histogram_agg_sql(
    unit: str = "hour",
    *,
    event_type: str | None = None,
    min_doc_count: int = 0,
    table: str = "events",
    ts_col: str = "ts",
) -> str:
    if unit not in _DATE_UNITS:
        raise ValueError(f"unit must be one of {_DATE_UNITS}")
    cond = f"{ts_col} IS NOT NULL"
    if event_type is not None:
        cond += f" AND event_type = '{event_type}'"
    base = f"""
keys AS (
  SELECT date_trunc('{unit}', {ts_col}) AS key FROM {table} WHERE {cond}
),
counts AS (SELECT key, count(*)::BIGINT AS doc_count FROM keys GROUP BY key)"""
    if min_doc_count >= 1 or unit in ("month", "year"):
        return (
            f"WITH {base.strip()}\nSELECT key, doc_count FROM counts "
            f"WHERE doc_count >= {max(1, min_doc_count)} ORDER BY key"
        )
    step = {"minute": "1 MINUTE", "hour": "1 HOUR", "day": "1 DAY",
            "week": "7 DAYS"}[unit]
    return f"""
WITH {base.strip()},
grid AS (
  SELECT unnest(generate_series(min(key), max(key), INTERVAL {step})) AS key
  FROM keys
)
SELECT grid.key, coalesce(counts.doc_count, 0)::BIGINT AS doc_count
FROM grid LEFT JOIN counts USING (key) ORDER BY key
""".strip()


def top_hits_agg(
    docs: DataFrame,
    query_text: str,
    bucket_field: str,
    size: int = 10,
    hits: int = 3,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> DataFrame:
    """``top_hits`` sub-aggregation → (key, doc_count, hit_rank, doc_id,
    score): the best ``hits`` docs (BM25 desc, doc_id asc) INSIDE each
    of the top ``size`` terms buckets (doc_count desc, key asc).

    The per-site "best pages per domain" view — field collapsing's
    generalization (collapse ≡ top_hits with hits=1 flattened).  Scale
    shape: the scored match set takes ONE hash-partition window shuffle
    on the bucket key (row_number per bucket — never a global sort);
    bucket selection is the same partial-agg groupBy as the terms agg;
    the two join on the key, bucket-sized × hits rows out.
    """
    from pyspark.sql import Window

    from sparksearch.query.bm25 import SCORE_ROUND, bm25_scores_df

    scored = bm25_scores_df(
        docs, query_text, id_col=id_col, text_col=text_col, k1=k1, b=b,
        analyzer=analyzer,
    )
    flds = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(bucket_field).cast("string").alias("key"),
    )
    sk = scored.join(flds, "doc_id").select(
        "key", "doc_id", F.round("raw", SCORE_ROUND).alias("score")
    )
    buckets = _top_buckets(sk, F.col("key"), size)
    w = Window.partitionBy("key").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = sk.select(
        "key", "doc_id", "score", F.row_number().over(w).alias("hit_rank")
    ).filter(F.col("hit_rank") <= hits)
    return (
        ranked.join(buckets, "key")
        .select(
            "key",
            F.col("doc_count").cast("long"),
            F.col("hit_rank").cast("int"),
            "doc_id",
            "score",
        )
        .orderBy(F.desc("doc_count"), F.asc("key"), F.asc("hit_rank"))
    )


def top_hits_agg_sql(
    query_text: str,
    bucket_field: str,
    size: int = 10,
    hits: int = 3,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer: str = "ascii",
) -> str:
    from sparksearch.query.bm25 import SCORE_ROUND, bm25_scores_cte

    cte = bm25_scores_cte(
        query_text, table=table, id_col=id_col, text_col=text_col,
        k1=k1, b=b, analyzer=analyzer,
    )
    return f"""
WITH {cte},
sk AS (
  SELECT CAST(t.{bucket_field} AS VARCHAR) AS key, scored.doc_id,
         round(scored.raw, {SCORE_ROUND}) AS score
  FROM scored JOIN {table} t ON t.{id_col} = scored.doc_id
  WHERE t.{bucket_field} IS NOT NULL
),
buckets AS (
  SELECT key, count(*)::BIGINT AS doc_count FROM sk GROUP BY key
  ORDER BY doc_count DESC, key ASC LIMIT {size}
),
ranked AS (
  SELECT key, doc_id, score,
         row_number() OVER (PARTITION BY key ORDER BY score DESC, doc_id ASC)
           AS hit_rank
  FROM sk
)
SELECT ranked.key, buckets.doc_count, ranked.hit_rank::INT AS hit_rank,
       ranked.doc_id, ranked.score
FROM ranked JOIN buckets USING (key)
WHERE ranked.hit_rank <= {hits}
ORDER BY buckets.doc_count DESC, ranked.key ASC, ranked.hit_rank ASC
""".strip()


def composite_agg(
    docs: DataFrame,
    query_text: str,
    sources: list[str],
    size: int = 10,
    after: tuple | None = None,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Composite aggregation → (source..., doc_count): ALL buckets of
    the source-field tuple, paged in key order with an ``after_key``
    cursor — OpenSearch's scalable alternative to a giant terms agg
    (terms ranks by doc_count so it must see every bucket; composite
    pages by KEY, so each page is a bounded groupBy + a strictly-after
    filter, the aggs analog of ``search_after``).

    ``after`` is the previous page's last key tuple; the next page is
    the lexicographically-after slice.  Keys are null-free (OpenSearch
    skips missing-value buckets unless asked) and string-cast for a
    stable cross-engine order.
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    if after is not None and len(after) != len(sources):
        raise ValueError("after cursor arity != sources arity")
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    grouped = _buckets(m, *[F.col(s).cast("string").alias(s) for s in sources])
    if after is not None:
        cond = F.lit(False)
        eq = F.lit(True)
        for s, v in zip(sources, after):
            cond = cond | (eq & (F.col(s) > F.lit(str(v))))
            eq = eq & (F.col(s) == F.lit(str(v)))
        grouped = grouped.filter(cond)
    return (
        grouped.orderBy(*[F.asc(s) for s in sources])
        .limit(size)
        .select(*sources, F.col("doc_count").cast("long").alias("doc_count"))
    )


def composite_agg_sql(
    query_text: str,
    sources: list[str],
    size: int = 10,
    after: tuple | None = None,
    *,
    offset: int = 0,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    """Twin of :func:`composite_agg`; ``offset`` renders a cursor page
    as plain OFFSET paging instead (proving after_key ≡ OFFSET over the
    total key order, the same algebra the search_after oracle uses)."""
    keys = ", ".join(f"CAST({s} AS VARCHAR) AS {s}" for s in sources)
    notnull = " AND ".join(f"{s} IS NOT NULL" for s in sources)
    after_sql = ""
    if after is not None:
        ors, eqs = [], []
        for s, v in zip(sources, after):
            lit = "'" + str(v).replace("'", "''") + "'"
            ors.append(
                "(" + " AND ".join(eqs + [f"{s} > {lit}"]) + ")"
            )
            eqs.append(f"{s} = {lit}")
        after_sql = "AND (" + " OR ".join(ors) + ")"
    order = ", ".join(f"{s} ASC" for s in sources)
    return f"""
SELECT {keys}, count(*)::BIGINT AS doc_count
FROM {table}
WHERE {_match_where_sql(query_text, analyzer)} AND {notnull}
GROUP BY {", ".join(sources)}
HAVING TRUE {after_sql}
ORDER BY {order} LIMIT {size} OFFSET {offset}
""".strip()


def filters_agg(
    docs: DataFrame,
    named_queries: dict[str, str],
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``filters`` aggregation → (name, doc_count), name asc: one named
    bucket per sub-query (each an OR-semantics match), counted in ONE
    corpus pass — every bucket is a conditional sum inside a single
    aggregate, the same one-scan shape as the range agg.
    """
    if not named_queries:
        raise ValueError("named_queries must be non-empty")
    conds = _named_conds(named_queries, text_col, analyzer)
    return _count_buckets(
        docs.filter(F.col(text_col).isNotNull()), ("name", "doc_count"),
        [((name,), c) for name, c in conds.items()],
    )


def _named_conds(named_queries: dict[str, str], text_col: str, analyzer: str):
    """name → match condition, names sorted (a query with no terms
    matches nothing)."""
    conds = {}
    for name in sorted(named_queries):
        terms = sorted(set(tokenize_str(named_queries[name], analyzer)))
        conds[name] = (
            _match_filter(text_col, terms, analyzer) if terms else F.lit(False)
        )
    return conds


def filters_agg_sql(
    named_queries: dict[str, str],
    *,
    table: str = "documents",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    parts = []
    for name in sorted(named_queries):
        where = _match_where_sql(named_queries[name], analyzer, text_col)
        n = name.replace("'", "''")
        parts.append(
            f"SELECT '{n}' AS name,"
            f" count(*) FILTER (WHERE {where})::BIGINT AS doc_count"
            f" FROM {table} WHERE {text_col} IS NOT NULL"
        )
    return "\nUNION ALL\n".join(parts)


# -- multi_terms ---------------------------------------------------------------
def multi_terms_agg(
    docs: DataFrame,
    query_text: str,
    fields: list[str],
    size: int = 10,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``multi_terms`` agg: buckets keyed by a TUPLE of fields →
    (key string, doc_count), OpenSearch bucket order (doc_count desc,
    key asc).  The key renders as the fields cast to string joined by
    ``"|"`` (OpenSearch's ``key_as_string``); a doc missing ANY key
    field is excluded from every bucket (the multi_terms rule — unlike
    ``terms``, there is no per-field missing bucket).

    Scale shape: identical to ``terms_agg`` — one filter → one
    partial-agg groupBy on the compound key; the key arity never adds
    an exchange."""
    if not fields or len(fields) < 2:
        raise ValueError("multi_terms needs >= 2 fields")
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    for f in fields:
        m = m.filter(F.col(f).isNotNull())
    key = F.concat_ws("|", *[F.col(f).cast("string") for f in fields])
    return _top_buckets(m, key.alias("key"), size)


def multi_terms_agg_sql(
    query_text: str,
    fields: list[str],
    size: int = 10,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    if not fields or len(fields) < 2:
        raise ValueError("multi_terms needs >= 2 fields")
    not_null = " AND ".join(f"{f} IS NOT NULL" for f in fields)
    key = "concat_ws('|', " + ", ".join(
        f"CAST({f} AS VARCHAR)" for f in fields
    ) + ")"
    return f"""
SELECT {key} AS key, count(*) AS doc_count
FROM {table} WHERE {_match_where_sql(query_text, analyzer)} AND {not_null}
GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT {size}
""".strip()


# -- rare_terms ----------------------------------------------------------------
def rare_terms_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    max_doc_count: int = 1,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``rare_terms`` agg: the long tail — every bucket whose doc_count
    is ≤ ``max_doc_count`` → (key string, doc_count), ordered
    (doc_count asc, key asc).  Pinned deviation: OpenSearch bounds the
    bucket set with a CuckooFilter (approximate, may miss rare terms);
    the exact groupBy+HAVING is cross-engine pinnable and costs the
    same single exchange.  No ``size`` — the result is bounded by
    rarity itself (df ≤ max_doc_count), which at any corpus size is
    the field's near-distinct tail; callers page it."""
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    return (
        _buckets(m, F.col(field).cast("string").alias("key"))
        .filter(F.col("doc_count") <= int(max_doc_count))
        .orderBy(F.asc("doc_count"), F.asc("key"))
    )


def rare_terms_agg_sql(
    query_text: str,
    field: str,
    max_doc_count: int = 1,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    return f"""
SELECT CAST({field} AS VARCHAR) AS key, count(*) AS doc_count
FROM {table}
WHERE {_match_where_sql(query_text, analyzer)} AND {field} IS NOT NULL
GROUP BY 1 HAVING count(*) <= {int(max_doc_count)}
ORDER BY doc_count ASC, key ASC
""".strip()


# -- missing -------------------------------------------------------------------
def missing_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``missing`` agg: docs in the match set with a null ``field`` →
    one row (doc_count) — the complement bucket ``terms`` drops."""
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    return m.filter(F.col(field).isNull()).agg(
        F.count(F.lit(1)).cast("long").alias("doc_count")
    )


def missing_agg_sql(
    query_text: str,
    field: str,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    return f"""
SELECT count(*)::BIGINT AS doc_count
FROM {table}
WHERE {_match_where_sql(query_text, analyzer)} AND {field} IS NULL
""".strip()


# -- value_count / weighted_avg / median_absolute_deviation ---------------------
def value_count_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``value_count`` aggregation → one row (value long): the number
    of non-null ``field`` values over the match set (OpenSearch counts
    values, so a null field contributes 0; the synth tables are
    single-valued, so values ≡ non-null docs — the multi-valued case
    would explode the array first)."""
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    return m.agg(F.count(F.expr(field)).alias("value"))


def value_count_agg_sql(
    query_text: str,
    field: str,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    return (
        f"SELECT count({field}) AS value FROM {table} "
        f"WHERE {_match_where_sql(query_text, analyzer)}"
    )


def weighted_avg_agg(
    docs: DataFrame,
    query_text: str,
    value_field: str,
    weight_field: str,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``weighted_avg`` aggregation → one row (value double):
    ``Σ(v·w) / Σ(w)`` over match-set rows where BOTH value and weight
    are non-null (the OpenSearch skip rule without `missing`), rounded
    like every cross-engine float.  Fields accept expressions (both
    engines parse the same arithmetic on non-negative integers)."""
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    v, w = F.expr(value_field), F.expr(weight_field)
    ok = m.filter(v.isNotNull() & w.isNotNull())
    return ok.agg(
        F.round(
            F.sum(v * w).cast("double") / F.sum(w).cast("double"), AVG_ROUND
        ).alias("value")
    )


def weighted_avg_agg_sql(
    query_text: str,
    value_field: str,
    weight_field: str,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    where = _match_where_sql(query_text, analyzer)
    return (
        f"SELECT round(CAST(sum(({value_field}) * ({weight_field})) AS DOUBLE)"
        f" / CAST(sum({weight_field}) AS DOUBLE), {AVG_ROUND}) AS value"
        f" FROM {table} WHERE {where}"
        f" AND ({value_field}) IS NOT NULL AND ({weight_field}) IS NOT NULL"
    )


def mad_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``median_absolute_deviation`` aggregation → one row (value
    double): ``median(|x − median(x)|)`` with EXACT linear-interpolation
    medians (the percentiles-agg pin; documented deviation from
    OpenSearch's TDigest approximation, whose error cannot be pinned
    cross-engine).  Two bounded single-column aggregates — the inner
    median broadcast into the deviation pass."""
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    med = m.agg(_percentile(field, 0.5).alias("_med"))
    return m.crossJoin(F.broadcast(med)).agg(
        F.round(_percentile(f"abs({field} - _med)", 0.5), AVG_ROUND).alias("value")
    )


def mad_agg_sql(
    query_text: str,
    field: str,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    where = _match_where_sql(query_text, analyzer)
    return f"""
WITH m AS (SELECT * FROM {table} WHERE {where}),
med AS (SELECT quantile_cont({field}, 0.5) AS _med FROM m)
SELECT round(quantile_cont(abs({field} - med._med), 0.5), {AVG_ROUND}) AS value
FROM m CROSS JOIN med
""".strip()


# -- adjacency_matrix ------------------------------------------------------------
def adjacency_matrix_agg(
    docs: DataFrame,
    named_queries: dict[str, str],
    *,
    separator: str = "&",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``adjacency_matrix`` aggregation → (key, doc_count), key asc:
    one bucket per named filter plus one per PAIR intersection
    (``a&b``, names in sorted order — the OpenSearch key rule), empty
    buckets omitted (OpenSearch emits only non-zero intersections).
    ONE corpus pass: every singleton and pair is a conditional sum in
    a single aggregate — n + n(n−1)/2 counters, never a self-join."""
    if len(named_queries) < 2:
        raise ValueError("adjacency_matrix needs >= 2 named filters")
    conds = _named_conds(named_queries, text_col, analyzer)
    names = list(conds)
    buckets = []
    for i, a in enumerate(names):
        buckets.append(((a,), conds[a]))
        for b_ in names[i + 1:]:
            buckets.append(((f"{a}{separator}{b_}",), conds[a] & conds[b_]))
    return (
        _count_buckets(
            docs.filter(F.col(text_col).isNotNull()), ("key", "doc_count"), buckets
        )
        .filter(F.col("doc_count") > 0)
        .orderBy("key")
    )


def adjacency_matrix_agg_sql(
    named_queries: dict[str, str],
    *,
    separator: str = "&",
    table: str = "documents",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    names = sorted(named_queries)
    wheres = {
        n: _match_where_sql(named_queries[n], analyzer, text_col)
        for n in names
    }
    parts = []
    for i, a in enumerate(names):
        ka = a.replace("'", "''")
        parts.append(
            f"SELECT '{ka}' AS key, count(*) FILTER (WHERE {wheres[a]})::BIGINT"
            f" AS doc_count FROM {table} WHERE {text_col} IS NOT NULL"
        )
        for b_ in names[i + 1:]:
            kp = f"{a}{separator}{b_}".replace("'", "''")
            parts.append(
                f"SELECT '{kp}' AS key, count(*) FILTER (WHERE ({wheres[a]})"
                f" AND ({wheres[b_]}))::BIGINT AS doc_count"
                f" FROM {table} WHERE {text_col} IS NOT NULL"
            )
    u = "\nUNION ALL\n".join(parts)
    return (
        f"SELECT key, doc_count FROM (\n{u}\n) "
        "WHERE doc_count > 0 ORDER BY key ASC"
    )


# -- sampler ---------------------------------------------------------------------
def sampler_stats_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    shard_size: int = 100,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``sampler`` aggregation with a ``stats`` child → one row
    (count/min/max/avg/sum) over the best-matching sample.

    Pinned sample: the GLOBAL top ``shard_size`` docs by BM25
    (rounded score desc, doc_id asc — the engine's deterministic tie
    rule).  Documented deviation: OpenSearch samples the top
    ``shard_size`` PER SHARD, which depends on the shard layout and
    cannot be pinned cross-engine; the global pin is the
    one-shard-equivalent and strictly better-scoring sample.  Cost
    shape: the full scored match set already exists (`bm25_scores_df`,
    every scoring operator's shared front) → one TakeOrderedAndProject
    → a sample-sized join back for the child field."""
    from sparksearch.query.bm25 import bm25_scores_df

    scored = bm25_scores_df(docs, query_text, text_col=text_col,
                            analyzer=analyzer)
    return _sample_stats(docs, scored, field, shard_size)


def sampler_stats_agg_sql(
    query_text: str,
    field: str,
    shard_size: int = 100,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`sampler_stats_agg`."""
    from sparksearch.query.bm25 import SCORE_ROUND, bm25_scores_cte

    cte = bm25_scores_cte(query_text, table=table, analyzer=analyzer)
    return f"""
WITH {cte},
sample AS (
  SELECT doc_id FROM scored
  ORDER BY round(raw, {SCORE_ROUND}) DESC, doc_id ASC LIMIT {shard_size}
)
SELECT count({field}) AS count,
       CAST(min({field}) AS DOUBLE) AS min,
       CAST(max({field}) AS DOUBLE) AS max,
       round(avg({field}), {AVG_ROUND}) AS avg,
       CAST(sum({field}) AS DOUBLE) AS sum
FROM {table} WHERE doc_id IN (SELECT doc_id FROM sample)
""".strip()


def string_stats_agg(
    docs: DataFrame,
    query_text: str,
    field: str = "text",
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``string_stats`` aggregation → one row (count, min_length,
    max_length, avg_length) over the match set's ``field`` values.

    Pinned subset: OpenSearch additionally returns a Shannon
    ``entropy`` over the character distribution; a float sum over an
    engine-unspecified character order cannot be pinned bit-identically
    cross-engine, so entropy is omitted — documented deviation.
    Lengths are codepoint counts (Spark ``length`` ≡ DuckDB
    ``length`` on VARCHAR).  One partial-agg pass, single output row.
    """
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    ln = F.length(F.col(field))
    return m.filter(F.col(field).isNotNull()).agg(
        F.count(F.lit(1)).alias("count"),
        F.min(ln).cast("long").alias("min_length"),
        F.max(ln).cast("long").alias("max_length"),
        F.round(F.avg(ln), AVG_ROUND).alias("avg_length"),
    )


def string_stats_agg_sql(
    query_text: str,
    field: str = "text",
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    where = _match_where_sql(query_text, analyzer)
    return (
        f"SELECT count(*) AS count, "
        f"CAST(min(length({field})) AS BIGINT) AS min_length, "
        f"CAST(max(length({field})) AS BIGINT) AS max_length, "
        f"round(avg(length({field})), {AVG_ROUND}) AS avg_length "
        f"FROM {table} WHERE {where} AND {field} IS NOT NULL"
    )


def boxplot_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``boxplot`` aggregation → one row (min, max, q1, q2, q3).

    Quartiles pinned to EXACT linear interpolation (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``) — the same documented
    deviation from OpenSearch's TDigest as :func:`percentiles_agg`;
    rounded 4 dp per the cross-engine float contract.  One sort-based
    aggregate over the match set."""
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    c = F.col(field)
    return m.filter(c.isNotNull()).agg(
        F.min(c).cast("double").alias("min"),
        F.max(c).cast("double").alias("max"),
        *[
            F.round(_percentile(field, q), AVG_ROUND).alias(f"q{i}")
            for i, q in enumerate((0.25, 0.5, 0.75), 1)
        ],
    )


def boxplot_agg_sql(
    query_text: str,
    field: str,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    where = _match_where_sql(query_text, analyzer)
    return (
        f"SELECT CAST(min({field}) AS DOUBLE) AS min, "
        f"CAST(max({field}) AS DOUBLE) AS max, "
        f"round(quantile_cont({field}, 0.25), {AVG_ROUND}) AS q1, "
        f"round(quantile_cont({field}, 0.5), {AVG_ROUND}) AS q2, "
        f"round(quantile_cont({field}, 0.75), {AVG_ROUND}) AS q3 "
        f"FROM {table} WHERE {where} AND {field} IS NOT NULL"
    )


def top_metrics_agg(
    docs: DataFrame,
    query_text: str,
    sort_field: str,
    metric_field: str,
    size: int = 3,
    *,
    asc: bool = False,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``top_metrics`` aggregation → ``size`` rows (sort_value,
    metric_value): the metric read off the docs at the extreme of the
    sort, OpenSearch's cheaper cousin of ``top_hits`` (it keeps one
    value pair per doc instead of the whole hit).  Tie pin: doc_id asc
    (the engine's deterministic tie rule).  One
    TakeOrderedAndProject — no global sort materializes."""
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    s = F.col(sort_field)
    m = m.filter(s.isNotNull())
    order = [s.asc() if asc else s.desc(), F.col("doc_id").asc()]
    return (
        m.orderBy(*order)
        .limit(size)
        .select(
            s.cast("double").alias("sort_value"),
            F.col(metric_field).cast("double").alias("metric_value"),
        )
    )


def top_metrics_agg_sql(
    query_text: str,
    sort_field: str,
    metric_field: str,
    size: int = 3,
    *,
    asc: bool = False,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    where = _match_where_sql(query_text, analyzer)
    d = "ASC" if asc else "DESC"
    return (
        f"SELECT CAST({sort_field} AS DOUBLE) AS sort_value, "
        f"CAST({metric_field} AS DOUBLE) AS metric_value FROM {table} "
        f"WHERE {where} AND {sort_field} IS NOT NULL "
        f"ORDER BY {sort_field} {d}, doc_id ASC LIMIT {size}"
    )


# auto_date_histogram's fixed-interval ladder (seconds).  OpenSearch
# rounds to calendar-aware intervals from a similar ladder; fixed
# epoch-second widths are pinned here because calendar arithmetic
# (variable month lengths) cannot be made bit-identical across engines
# without reimplementing a calendar in SQL — documented deviation.
AUTO_DH_LADDER = (
    60, 300, 900, 1800, 3600, 10800, 43200, 86400, 604800, 2592000,
    31536000,
)


def auto_date_histogram_agg(
    events: DataFrame,
    target_buckets: int = 10,
    *,
    event_type: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """``auto_date_histogram`` → (key timestamp, doc_count) plus the
    chosen ``interval_sec`` on every row (OpenSearch reports the chosen
    interval alongside the buckets; a per-row column keeps the frame
    single-schema).

    Pinned: the SMALLEST ladder interval whose bucket count
    ``floor(mx/iv) − floor(mn/iv) + 1`` is ≤ ``target_buckets`` (the
    largest ladder rung as a fallback); empty buckets gap-filled like
    :func:`date_histogram_agg`.  The interval choice derives from the
    match set's min/max epoch — a scalar aggregate cross-joined onto
    the bucketing, so the two-phase plan stays one partial-agg groupBy
    plus a 1-row broadcast."""
    if target_buckets < 1:
        raise ValueError("target_buckets must be >= 1")
    m = _events(events, ts_col, event_type)
    ep = m.select(F.unix_timestamp(F.col(ts_col)).alias("ep"))
    span = ep.agg(F.min("ep").alias("mn"), F.max("ep").alias("mx")).filter(
        F.col("mn").isNotNull()
    )

    def _nbuck(iv: int):
        return (
            F.floor(F.col("mx") / iv) - F.floor(F.col("mn") / iv) + 1
        )

    iv_expr = F.lit(AUTO_DH_LADDER[-1])
    for iv in reversed(AUTO_DH_LADDER[:-1]):
        iv_expr = F.when(_nbuck(iv) <= target_buckets, F.lit(iv)).otherwise(
            iv_expr
        )
    chosen = span.select(
        F.col("mn"), F.col("mx"), iv_expr.cast("long").alias("iv")
    )

    def _key(c: str):
        return F.floor(F.col(c) / F.col("iv")) * F.col("iv")

    counts = _buckets(ep.crossJoin(F.broadcast(chosen)), _key("ep").alias("key"))
    bounds = chosen.select(_key("mn").alias("lo"), _key("mx").alias("hi"), "iv")
    return _gap_filled(counts, bounds, F.col("iv"), "iv").select(
        F.timestamp_seconds(F.col("key")).alias("key"),
        "doc_count",
        F.col("iv").alias("interval_sec"),
    )


def auto_date_histogram_agg_sql(
    target_buckets: int = 10,
    *,
    event_type: str | None = None,
    table: str = "events",
    ts_col: str = "ts",
) -> str:
    if target_buckets < 1:
        raise ValueError("target_buckets must be >= 1")
    cond = f"{ts_col} IS NOT NULL"
    if event_type is not None:
        cond += f" AND event_type = '{event_type}'"
    case = "CASE "
    for iv in AUTO_DH_LADDER[:-1]:
        case += (
            f"WHEN (mx // {iv}) - (mn // {iv}) + 1 <= {target_buckets} "
            f"THEN {iv} "
        )
    case += f"ELSE {AUTO_DH_LADDER[-1]} END"
    return f"""
WITH ep AS (
  SELECT epoch({ts_col})::BIGINT AS ep FROM {table} WHERE {cond}
),
span AS (
  SELECT min(ep) AS mn, max(ep) AS mx, ({case})::BIGINT AS iv FROM ep
  HAVING min(ep) IS NOT NULL
),
counts AS (
  SELECT (ep // iv) * iv AS kep, count(*)::BIGINT AS doc_count
  FROM ep, span GROUP BY 1
),
grid AS (
  SELECT unnest(generate_series((mn // iv) * iv, (mx // iv) * iv, iv)) AS kep,
         iv
  FROM span
)
SELECT to_timestamp(grid.kep)::TIMESTAMP AS key,
       coalesce(counts.doc_count, 0)::BIGINT AS doc_count,
       grid.iv AS interval_sec
FROM grid LEFT JOIN counts USING (kep) ORDER BY key
""".strip()


def diversified_sampler_stats_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    dedup_field: str,
    shard_size: int = 100,
    max_docs_per_value: int = 1,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``diversified_sampler`` with a ``stats`` child → one row.

    Like :func:`sampler_stats_agg` (same pinned GLOBAL top-shard_size
    deviation) but with the diversity constraint applied FIRST: at most
    ``max_docs_per_value`` docs per distinct ``dedup_field`` value
    (best-scoring kept — rounded score desc, doc_id asc), then the top
    ``shard_size`` of the survivors feed the stats child.  The window
    partitions by ``dedup_field``, so the sort is per-value-group;
    the sample stays sample-sized before the broadcast semi-join."""
    from pyspark.sql import Window
    from sparksearch.query.bm25 import SCORE_ROUND, bm25_scores_df

    scored = bm25_scores_df(docs, query_text, text_col=text_col,
                            analyzer=analyzer)
    keyed = scored.join(
        docs.select("doc_id", F.col(dedup_field).alias("_dv")), "doc_id"
    )
    w = Window.partitionBy("_dv").orderBy(
        F.desc(F.round("raw", SCORE_ROUND)), F.asc("doc_id")
    )
    diverse = keyed.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= max_docs_per_value
    )
    return _sample_stats(docs, diverse, field, shard_size)


def diversified_sampler_stats_agg_sql(
    query_text: str,
    field: str,
    dedup_field: str,
    shard_size: int = 100,
    max_docs_per_value: int = 1,
    *,
    table: str = "documents",
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`diversified_sampler_stats_agg`."""
    from sparksearch.query.bm25 import SCORE_ROUND, bm25_scores_cte

    cte = bm25_scores_cte(query_text, table=table, analyzer=analyzer)
    return f"""
WITH {cte},
keyed AS (
  SELECT s.doc_id, s.raw, d.{dedup_field} AS _dv
  FROM scored s JOIN {table} d USING (doc_id)
),
dived AS (
  SELECT doc_id, raw FROM keyed
  QUALIFY row_number() OVER (
    PARTITION BY _dv ORDER BY round(raw, {SCORE_ROUND}) DESC, doc_id ASC
  ) <= {max_docs_per_value}
),
sample AS (
  SELECT doc_id FROM dived
  ORDER BY round(raw, {SCORE_ROUND}) DESC, doc_id ASC LIMIT {shard_size}
)
SELECT count({field}) AS count,
       CAST(min({field}) AS DOUBLE) AS min,
       CAST(max({field}) AS DOUBLE) AS max,
       round(avg({field}), {AVG_ROUND}) AS avg,
       CAST(sum({field}) AS DOUBLE) AS sum
FROM {table} WHERE doc_id IN (SELECT doc_id FROM sample)
""".strip()


def percentile_ranks_agg(
    docs: DataFrame,
    query_text: str,
    field: str,
    values: list[float],
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``percentile_ranks`` over the match set → one row per requested
    value (value double, rank double): the percentage of observed
    ``field`` values ≤ value (exact, not TDigest — this engine computes
    the true rank; OpenSearch's sketch approximates it)."""
    if not values:
        raise ValueError("values must be non-empty")
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    c = F.col(field)
    return _stacked(m.filter(c.isNotNull()), ("value", "rank"), [
        ((float(v),), F.round(
            100.0 * F.avg(F.when(c <= F.lit(float(v)), 1.0).otherwise(0.0)),
            AVG_ROUND,
        ))
        for v in values
    ])


def percentile_ranks_agg_sql(
    query_text: str,
    field: str,
    values: list[float],
    *,
    table: str = "documents",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`percentile_ranks_agg`."""
    where = _match_where_sql(query_text, analyzer, text_col)
    rows = " UNION ALL ".join(
        f"SELECT CAST({float(v)!r} AS DOUBLE) AS value, "
        f"round(100.0 * avg(CASE WHEN {field} <= {float(v)!r} "
        f"THEN 1.0 ELSE 0.0 END), {AVG_ROUND}) AS rank FROM m"
        for v in values
    )
    return f"""
WITH m AS (
  SELECT {field} FROM {table}
  WHERE ({where}) AND {field} IS NOT NULL
)
{rows}
""".strip()


def matrix_stats_agg(
    docs: DataFrame,
    query_text: str,
    field_a: str,
    field_b: str,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``matrix_stats`` over two numeric fields → one row per field
    (field, count, mean, variance, skewness, kurtosis, covariance,
    correlation).

    Pinned definitions (documented deviation from OpenSearch's
    streaming estimator, which is itself order-dependent): variance and
    covariance are SAMPLE (n-1); skewness and kurtosis are population
    central-moment ratios m3/m2^1.5 and m4/m2² computed against the
    match-set mean — deterministic and expressible identically in both
    engines."""
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    m = m.filter(F.col(field_a).isNotNull() & F.col(field_b).isNotNull())
    mu = m.agg(
        F.avg(field_a).alias("_mua"), F.avg(field_b).alias("_mub")
    )
    j = m.crossJoin(F.broadcast(mu))
    rows = []
    for fld, mucol in ((field_a, "_mua"), (field_b, "_mub")):
        d = F.col(fld) - F.col(mucol)
        rows.append(
            j.agg(
                F.lit(fld).alias("field"),
                F.count(F.lit(1)).cast("long").alias("count"),
                F.round(F.avg(fld), AVG_ROUND).alias("mean"),
                F.round(F.var_samp(fld), AVG_ROUND).alias("variance"),
                F.round(
                    F.avg(F.pow(d, 3)) / F.pow(F.avg(F.pow(d, 2)), 1.5),
                    AVG_ROUND,
                ).alias("skewness"),
                F.round(
                    F.avg(F.pow(d, 4)) / F.pow(F.avg(F.pow(d, 2)), 2.0),
                    AVG_ROUND,
                ).alias("kurtosis"),
                F.round(F.covar_samp(field_a, field_b), AVG_ROUND).alias(
                    "covariance"
                ),
                F.round(F.corr(field_a, field_b), AVG_ROUND).alias(
                    "correlation"
                ),
            )
        )
    return rows[0].unionAll(rows[1])


def matrix_stats_agg_sql(
    query_text: str,
    field_a: str,
    field_b: str,
    *,
    table: str = "documents",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    """DuckDB twin of :func:`matrix_stats_agg`."""
    where = _match_where_sql(query_text, analyzer, text_col)
    parts = []
    for fld, mucol in ((field_a, "_mua"), (field_b, "_mub")):
        d = f"({fld} - {mucol})"
        parts.append(
            f"""SELECT '{fld}' AS field,
       CAST(count(*) AS BIGINT) AS count,
       round(avg({fld}), {AVG_ROUND}) AS mean,
       round(var_samp({fld}), {AVG_ROUND}) AS variance,
       round(avg(pow({d}, 3)) / pow(avg(pow({d}, 2)), 1.5), {AVG_ROUND}) AS skewness,
       round(avg(pow({d}, 4)) / pow(avg(pow({d}, 2)), 2.0), {AVG_ROUND}) AS kurtosis,
       round(covar_samp({field_a}, {field_b}), {AVG_ROUND}) AS covariance,
       round(corr({field_a}, {field_b}), {AVG_ROUND}) AS correlation
FROM j"""
        )
    body = " UNION ALL ".join(parts)
    return f"""
WITH m AS (
  SELECT {field_a}, {field_b} FROM {table}
  WHERE ({where}) AND {field_a} IS NOT NULL AND {field_b} IS NOT NULL
),
mu AS (SELECT avg({field_a}) AS _mua, avg({field_b}) AS _mub FROM m),
j AS (SELECT * FROM m CROSS JOIN mu)
{body}
""".strip()


# ---------------------------------------------------------------------------
# scripted_metric: user-programmable map/combine/reduce aggregation
# ---------------------------------------------------------------------------

def scripted_metric_agg(
    docs: DataFrame,
    query_text: str,
    key_col: str,
    map_combine,
    reduce_states,
    state_schema: str,
    out_schema: str,
    *,
    combine_states=None,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``scripted_metric`` aggregation: arbitrary per-bucket metrics via
    user map/combine/reduce callables (OpenSearch's ``init_script`` /
    ``map_script`` / ``combine_script`` / ``reduce_script`` — the
    reference drives this engine surface through its ``_search`` bodies,
    ``keyword_search/functions/helper_functions.py``).

    Spark-first mapping of the four scripts:

    * ``map_script`` + ``combine_script`` → ``map_combine(pdf) -> pdf``:
      one pandas call per Arrow batch
      (``spark.sql.execution.arrow.maxRecordsPerBatch`` rows),
      returning ONE partial-state row per ``key_col`` value present in
      the batch (``state_schema`` columns).  Runs via ``mapInPandas`` —
      raw rows never leave their input partition, like OpenSearch's
      per-shard map+combine.
    * ``combine_states(pdf) -> pdf`` (optional): a state→state fold —
      given the concatenated batch partials of ONE PARTITION, return
      one state row per key.  When provided, the partition's batch
      partials fold locally before the exchange, so shuffle volume is
      O(n_partitions × distinct keys), independent of corpus size — a
      100 TB corpus with 1 k buckets and 10 k partitions ships ≤10 M
      tiny state rows.  When omitted, each Arrow batch ships its own
      partials and shuffle volume is O(n_batches × keys) — still
      row-count/10k, fine at test scale, linear at 100 TB; pass
      ``combine_states`` for anything big.
    * ``reduce_script`` → ``reduce_states(key_tuple, pdf) -> pdf``: one
      pandas call per bucket over its partial states (``out_schema``
      columns).  Runs via ``groupBy(key).applyInPandas``.

    The match-set filter is JVM-side (``arrays_overlap``) and applied
    before any Python runs, and rows with a null ``key_col`` are
    dropped JVM-side too (OpenSearch missing-field semantics — the
    contract holds regardless of what the user callable emits, matching
    the SQL twin's ``key IS NOT NULL``).  For metrics expressible as
    built-in SQL aggregates, prefer those (whole-stage codegen); this
    is the escape hatch for genuinely custom state machines, with the
    OpenSearch contract that ``map_combine`` must be order-insensitive
    within a batch and ``combine_states``/``reduce_states`` associative
    over states.
    """
    import pandas as pd  # noqa: F401 (Arrow path dependency)

    m = match_set(
        docs, query_text, text_col=text_col, analyzer=analyzer
    ).filter(F.col(key_col).isNotNull())
    if combine_states is None:
        partials = m.mapInPandas(
            lambda it: (map_combine(pdf) for pdf in it), schema=state_schema
        )
    else:
        def _fold(it):
            import pandas as pd

            parts = [p for p in (map_combine(pdf) for pdf in it) if len(p)]
            if parts:
                yield combine_states(pd.concat(parts, ignore_index=True))

        partials = m.mapInPandas(_fold, schema=state_schema)
    return partials.groupBy(key_col).applyInPandas(
        reduce_states, schema=out_schema
    )


def scripted_metric_rms(
    docs: DataFrame,
    query_text: str,
    key_col: str,
    value_col: str,
    *,
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """Canonical scripted_metric instance: per-``key_col`` root-mean-
    square of ``value_col`` → (key, rms).  Exercises the full
    map/combine/reduce path (including the per-partition
    ``combine_states`` fold) with a metric DuckDB can cross-check.
    Pinned null semantics, identical to the SQL twin's
    ``sqrt(sum(v*v)/count(v))``: null values contribute to neither the
    sum nor the count (``n`` counts NON-NULL values), and a bucket
    whose values are all null emits rms NULL (not 0.0)."""
    import numpy as np
    import pandas as pd

    def map_combine(pdf: "pd.DataFrame") -> "pd.DataFrame":
        v = pdf[value_col].astype("float64")
        # pandas .count() skips NaN → n = non-null count, the divisor
        g = pdf.assign(_sq=v * v).groupby(key_col, sort=False)
        out = g.agg(sum_sq=("_sq", "sum"), n=("_sq", "count")).reset_index()
        out["n"] = out["n"].astype("int64")
        return out[[key_col, "sum_sq", "n"]]

    def combine_states(pdf: "pd.DataFrame") -> "pd.DataFrame":
        g = pdf.groupby(key_col, sort=False)
        out = g.agg(sum_sq=("sum_sq", "sum"), n=("n", "sum")).reset_index()
        out["n"] = out["n"].astype("int64")
        return out[[key_col, "sum_sq", "n"]]

    # no type hints: a grouped map takes (key, pdf), which PySpark's
    # hint inference does not cover — partial hints make it warn
    def reduce_states(key, pdf):
        n = int(pdf["n"].sum())
        rms = (
            round(float(np.sqrt(pdf["sum_sq"].sum() / n)), AVG_ROUND)
            if n else None
        )
        return pd.DataFrame({key_col: [key[0]], "rms": [rms]})

    out = scripted_metric_agg(
        docs, query_text, key_col, map_combine, reduce_states,
        state_schema=f"{key_col} string, sum_sq double, n long",
        out_schema=f"{key_col} string, rms double",
        combine_states=combine_states,
        text_col=text_col, analyzer=analyzer,
    )
    return out.orderBy(key_col)


def scripted_metric_rms_sql(
    query_text: str,
    key_col: str,
    value_col: str,
    *,
    analyzer: str = "ascii",
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`scripted_metric_rms` — ``count({value_col})``
    (non-null divisor) so a partially-null bucket divides by its
    non-null count and an all-null bucket yields NULL, the pinned
    semantics on both engines."""
    where = _match_where_sql(query_text, analyzer, text_col)
    return f"""
SELECT {key_col},
       round(sqrt(sum(CAST({value_col} AS DOUBLE) * {value_col})
                  / count({value_col})), {AVG_ROUND}) AS rms
FROM {table}
WHERE ({where}) AND {key_col} IS NOT NULL
GROUP BY {key_col}
ORDER BY {key_col}
""".strip()


# ---------------------------------------------------------------------------
# date_range: calendar range facet (A20)
# ---------------------------------------------------------------------------


def date_range_agg(
    events: DataFrame,
    ranges: list[tuple[str | None, str | None]],
    *,
    event_type: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """OpenSearch ``date_range`` agg → (bucket_idx, key, doc_count),
    request bucket order.  Endpoints are ISO timestamp strings
    (``from`` inclusive, ``to`` exclusive — the numeric ``range``
    rule); ``None`` = open end; buckets may overlap.  Same one-pass
    conditional-count shape as :func:`range_agg` — one scan, no
    per-range jobs."""
    if not ranges:
        raise ValueError("ranges must be non-empty")

    def ts(x):
        return None if x is None else F.to_timestamp(F.lit(x))

    return _count_buckets(_events(events, ts_col, event_type), _RANGE_COLS, [
        ((i, f"{lo or '*'}-{hi or '*'}"), _in_range(F.col(ts_col), ts(lo), ts(hi)))
        for i, (lo, hi) in enumerate(ranges)
    ])


def date_range_agg_sql(
    ranges: list[tuple[str | None, str | None]],
    *,
    event_type: str | None = None,
    table: str = "events",
    ts_col: str = "ts",
) -> str:
    if not ranges:
        raise ValueError("ranges must be non-empty")
    where = f"{ts_col} IS NOT NULL"
    if event_type is not None:
        where += f" AND event_type = '{event_type}'"
    parts = []
    for i, (lo, hi) in enumerate(ranges):
        cond = "TRUE"
        if lo is not None:
            cond += f" AND {ts_col} >= TIMESTAMP '{lo}'"
        if hi is not None:
            cond += f" AND {ts_col} < TIMESTAMP '{hi}'"
        key = f"{lo or '*'}-{hi or '*'}"
        parts.append(
            f"SELECT CAST({i} AS INT) AS bucket_idx, '{key}' AS key,"
            f" CAST(coalesce(sum(CASE WHEN {cond} THEN 1 ELSE 0 END), 0)"
            f" AS BIGINT) AS doc_count FROM {table} WHERE {where}"
        )
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------------------
# rate: per-unit rate inside a date_histogram (A21)
# ---------------------------------------------------------------------------

_RATE_SECONDS = {"minute": 60, "hour": 3600, "day": 86400, "week": 604800}


def rate_agg(
    events: DataFrame,
    unit: str = "day",
    rate_unit: str = "hour",
    *,
    value_col: str | None = None,
    event_type: str | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """OpenSearch ``rate`` sub-agg inside a date_histogram →
    (key, rate), key asc.

    Each ``unit`` bucket's count (or ``value_col`` sum) is rescaled to
    a per-``rate_unit`` rate: rate = value · s(rate_unit) / s(unit).
    Calendar-irregular units (month/year) are rejected — their bucket
    width varies, so a fixed factor would lie; OpenSearch's own rate
    agg has the same fixed-interval restriction in reverse.  Plan: the
    date_histogram groupBy plus one literal multiply — nothing new
    shuffles."""
    for u in (unit, rate_unit):
        if u not in _RATE_SECONDS:
            raise ValueError(f"unit must be one of {sorted(_RATE_SECONDS)}")
    m = _events(events, ts_col, event_type)
    val = (
        F.count(F.lit(1)).cast("double")
        if value_col is None
        else F.sum(value_col)
    )
    factor = _RATE_SECONDS[rate_unit] / _RATE_SECONDS[unit]
    return (
        m.select(F.date_trunc(unit, F.col(ts_col)).alias("key"),
                 *( [F.col(value_col)] if value_col else [] ))
        .groupBy("key")
        .agg(F.round(val * F.lit(factor), AVG_ROUND).alias("rate"))
        .orderBy("key")
    )


def rate_agg_sql(
    unit: str = "day",
    rate_unit: str = "hour",
    *,
    value_col: str | None = None,
    event_type: str | None = None,
    table: str = "events",
    ts_col: str = "ts",
) -> str:
    for u in (unit, rate_unit):
        if u not in _RATE_SECONDS:
            raise ValueError(f"unit must be one of {sorted(_RATE_SECONDS)}")
    where = f"{ts_col} IS NOT NULL"
    if event_type is not None:
        where += f" AND event_type = '{event_type}'"
    val = "count(*)::DOUBLE" if value_col is None else f"sum({value_col})"
    factor = _RATE_SECONDS[rate_unit] / _RATE_SECONDS[unit]
    return f"""
SELECT date_trunc('{unit}', {ts_col}) AS key,
       round({val} * {factor!r}, {AVG_ROUND}) AS rate
FROM {table} WHERE {where}
GROUP BY 1 ORDER BY key ASC
""".strip()


# ---------------------------------------------------------------------------
# t_test: Welch's two-sample t statistic between two filters (A22)
# ---------------------------------------------------------------------------


def t_test_agg(
    events: DataFrame,
    field: str,
    filter_a: str,
    filter_b: str,
    *,
    type_col: str = "event_type",
) -> DataFrame:
    """OpenSearch ``t_test`` (heteroscedastic) → ONE row
    (t_stat, df) — Welch's t between ``field`` under two populations
    (``type_col`` = filter_a vs filter_b).

    t = (m_a − m_b) / √(s²_a/n_a + s²_b/n_b); df by Welch-Satterthwaite.
    OpenSearch reports the two-sided p-value; inverting the
    t-distribution CDF needs the incomplete beta function, which
    neither engine exposes as SQL — the pinned output is the statistic
    + df (a documented deviation; p = 2·(1 − CDF_t(|t|, df)) for any
    stats library downstream).  One conditional aggregate over one
    scan; null fields drop out per OpenSearch's missing-value rule."""
    c = F.col(field)
    ga = F.when((F.col(type_col) == filter_a) & c.isNotNull(), c)
    gb = F.when((F.col(type_col) == filter_b) & c.isNotNull(), c)
    one = events.agg(
        F.avg(ga).alias("ma"), F.var_samp(ga).alias("va"),
        F.count(ga).cast("double").alias("na"),
        F.avg(gb).alias("mb"), F.var_samp(gb).alias("vb"),
        F.count(gb).cast("double").alias("nb"),
    )
    se2a = F.col("va") / F.col("na")
    se2b = F.col("vb") / F.col("nb")
    t = (F.col("ma") - F.col("mb")) / F.sqrt(se2a + se2b)
    dfw = (
        (se2a + se2b) ** 2
        / (se2a ** 2 / (F.col("na") - 1) + se2b ** 2 / (F.col("nb") - 1))
    )
    return one.select(
        F.round(t, AVG_ROUND).alias("t_stat"),
        F.round(dfw, AVG_ROUND).alias("df"),
    )


def t_test_agg_sql(
    field: str,
    filter_a: str,
    filter_b: str,
    *,
    table: str = "events",
    type_col: str = "event_type",
) -> str:
    a = f"CASE WHEN {type_col} = '{filter_a}' THEN {field} END"
    b = f"CASE WHEN {type_col} = '{filter_b}' THEN {field} END"
    return f"""
WITH s AS (
  SELECT avg({a}) AS ma, var_samp({a}) AS va,
         count({a})::DOUBLE AS na,
         avg({b}) AS mb, var_samp({b}) AS vb,
         count({b})::DOUBLE AS nb
  FROM {table}
)
SELECT round((ma - mb) / sqrt(va / na + vb / nb), {AVG_ROUND}) AS t_stat,
       round(pow(va / na + vb / nb, 2)
             / (pow(va / na, 2) / (na - 1) + pow(vb / nb, 2) / (nb - 1)),
             {AVG_ROUND}) AS df
FROM s
""".strip()


# ---------------------------------------------------------------------------
# cumulative_cardinality: running distinct count over a date_histogram (A23)
# ---------------------------------------------------------------------------


def cumulative_cardinality_agg(
    events: DataFrame,
    unit: str = "day",
    *,
    of_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """OpenSearch ``cumulative_cardinality`` pipeline agg →
    (key, cumulative_cardinality), key asc — how many DISTINCT
    ``of_col`` values have been seen up to (and including) each
    date_histogram bucket.

    Exact, via the first-seen identity: cum_card(bucket) = |{v :
    first_seen(v) ≤ bucket}| — one groupBy(of_col) for first-seen
    (map-side combined), one bucket-sized window cumsum.  This
    sidesteps the naive per-bucket re-count (O(buckets × corpus));
    the exactness matches the engine's ``cardinality`` pin (exact
    count-distinct; OpenSearch's HLL is approximate — same documented
    deviation)."""
    from pyspark.sql import Window

    if unit not in _RATE_SECONDS:
        raise ValueError(f"unit must be one of {sorted(_RATE_SECONDS)}")
    base = events.filter(
        F.col(ts_col).isNotNull() & F.col(of_col).isNotNull()
    ).select(
        F.col(of_col).alias("v"),
        F.date_trunc(unit, F.col(ts_col)).alias("key"),
    )
    first = (
        base.groupBy("v")
        .agg(F.min("key").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("new_values"))
    )
    # one row per OBSERVED histogram bucket (OpenSearch emits the
    # running total in every parent bucket, not only change points)
    grid = base.select("key").distinct()
    w = (
        Window.orderBy("key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(first, "key", "left")
        .select(
            "key",
            F.sum(F.coalesce("new_values", F.lit(0))).over(w).cast("long")
            .alias("cumulative_cardinality"),
        )
        .orderBy("key")
    )


def cumulative_cardinality_agg_sql(
    unit: str = "day",
    *,
    of_col: str = "user_id",
    table: str = "events",
    ts_col: str = "ts",
) -> str:
    if unit not in _RATE_SECONDS:
        raise ValueError(f"unit must be one of {sorted(_RATE_SECONDS)}")
    return f"""
WITH base AS (
  SELECT {of_col} AS v, date_trunc('{unit}', {ts_col}) AS key
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {of_col} IS NOT NULL
),
first_seen AS (SELECT v, min(key) AS key FROM base GROUP BY v),
per_bucket AS (
  SELECT key, count(*) AS new_values FROM first_seen GROUP BY key
),
grid AS (SELECT DISTINCT key FROM base)
SELECT grid.key,
       CAST(sum(coalesce(per_bucket.new_values, 0)) OVER (ORDER BY grid.key
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cumulative_cardinality
FROM grid LEFT JOIN per_bucket USING (key) ORDER BY grid.key ASC
""".strip()

"""Pipeline aggregations — second-pass aggs over a parent agg's buckets.

The reference delegates search to OpenSearch, whose pipeline
aggregations (`cumulative_sum`, `derivative`, `serial_diff`,
`moving_fn`, `*_bucket` siblings, `bucket_sort`, `bucket_selector`)
run on the COORDINATOR over the already-reduced bucket list of a
multi-bucket parent (histogram / date_histogram / terms).  That is
exactly the model here: every function below transforms the parent
agg's DataFrame — a frame with one row per bucket, bucket-count-sized
regardless of corpus size — so the single-partition window sorts they
use are coordinator-sized by construction, never a scale concern.
The corpus-sized work happened in the parent agg (`query/aggs.py`),
which keeps its partial-agg shuffle shape.

Pinned semantics (cross-engine bit-identical, deviations documented):

* ``cumulative_sum`` — running sum of the metric in key order.
* ``derivative`` — metric minus the previous bucket's metric.
  OpenSearch returns the first bucket WITHOUT a derivative value; we
  pin that as "first bucket omitted from the output" (emitting a null
  would hash engine-dependently).
* ``serial_diff`` — metric minus the metric ``lag`` buckets back;
  the first ``lag`` buckets are omitted (same pin).
* ``moving_fn`` — avg/sum/min/max over the trailing window of
  ``window`` buckets INCLUDING the current one (OpenSearch's
  ``shift=0`` positions the window just before the current bucket;
  the trailing-inclusive form is pinned here because it is the common
  analytics reading and identical across all three engines —
  documented deviation).
* ``avg/sum/min/max/stats_bucket`` — sibling aggs: one row over all
  parent buckets' metric values.
* ``bucket_sort`` — reorder/truncate buckets by metric (sort +
  from/size, OpenSearch defaults); ties break by bucket key asc so
  pagination is total.
* ``bucket_selector`` — keep buckets where ``metric <op> literal``
  (the pinned subset of its script parameter: OpenSearch evaluates a
  Painless predicate per bucket; a comparison against a constant is
  the overwhelmingly common form and the one expressible identically
  in Spark, DuckDB, and Python).
* ``normalize`` — rescale the metric across all buckets; methods
  ``percent_of_sum`` (v/Σv), ``mean`` ((v−μ)/(max−min)) and
  ``rescale_0_1`` ((v−min)/(max−min)), per the OpenSearch normalize
  pipeline agg; output rounded 6 dp (cross-engine float contract).
  Degenerate spans (max==min) yield 0.0 — pinned (OpenSearch emits
  NaN/0 engine-dependently; a constant is hashable identically).
* ``bucket_script`` — per-bucket arithmetic over the parent's metric
  columns (the pinned expression subset of its Painless script: an
  arithmetic expression over column names and literals, which Spark
  ``F.expr`` and DuckDB parse identically on double-cast inputs);
  buckets where any referenced metric is null are omitted
  (OpenSearch's skip gap policy), output rounded 6 dp.

The sibling aggs that reduce bucket metrics to one row or a stacked row
set (``stats_bucket``, ``percentiles_bucket``) use the stats metric set
and the exact percentile rows of the one aggregation layer in
``query/aggs.py``; the windowed ones are bucket-frame transforms of
their own.

Every function has a ``*_sql`` twin that wraps the PARENT agg's SQL
(`aggs.py` ``*_sql`` output) in a window-function outer query, so the
DuckDB oracle reduces the same buckets the Spark path does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparksearch.query.aggs import _percentile_rows, _stats

_MOVING_FNS = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max}
_SEL_OPS = (">", ">=", "<", "<=", "==", "!=")
NORM_ROUND = 6  # the pipeline aggs' cross-engine float contract


def _w(key: str) -> Window:
    # bucket frames are coordinator-sized (see module docstring): a
    # global ordered window over them is the OpenSearch reducer itself
    return Window.orderBy(F.col(key).asc())


def cumulative_sum(
    buckets: DataFrame, metric: str = "doc_count", *, key: str = "key",
    out: str = "cumsum",
) -> DataFrame:
    """Running sum of ``metric`` in ``key`` order → parent cols + out."""
    w = _w(key).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return buckets.withColumn(
        out, F.sum(F.col(metric).cast("double")).over(w)
    ).orderBy(key)


def cumulative_sum_sql(
    parent_sql: str, metric: str = "doc_count", *, key: str = "key",
    out: str = "cumsum",
) -> str:
    return (
        f"WITH parent AS ({parent_sql})\n"
        f"SELECT *, sum({metric}::DOUBLE) OVER "
        f"(ORDER BY {key} ROWS UNBOUNDED PRECEDING) AS {out} "
        f"FROM parent ORDER BY {key}"
    )


def derivative(
    buckets: DataFrame, metric: str = "doc_count", *, key: str = "key",
    out: str = "deriv", lag: int = 1,
) -> DataFrame:
    """metric − metric[lag buckets back]; the first ``lag`` buckets are
    omitted (OpenSearch leaves them valueless).  ``lag > 1`` IS the
    ``serial_diff`` pipeline agg; ``lag=1`` is ``derivative``."""
    if lag < 1:
        raise ValueError("lag must be >= 1")
    prev = F.lag(F.col(metric).cast("double"), lag).over(_w(key))
    return (
        buckets.withColumn(out, F.col(metric).cast("double") - prev)
        .filter(F.col(out).isNotNull())
        .orderBy(key)
    )


def derivative_sql(
    parent_sql: str, metric: str = "doc_count", *, key: str = "key",
    out: str = "deriv", lag: int = 1,
) -> str:
    if lag < 1:
        raise ValueError("lag must be >= 1")
    return (
        f"WITH parent AS ({parent_sql}),\n"
        f"d AS (SELECT *, {metric}::DOUBLE - lag({metric}::DOUBLE, {lag}) "
        f"OVER (ORDER BY {key}) AS {out} FROM parent)\n"
        f"SELECT * FROM d WHERE {out} IS NOT NULL ORDER BY {key}"
    )


def moving_fn(
    buckets: DataFrame, metric: str = "doc_count", *, window: int = 3,
    fn: str = "avg", key: str = "key", out: str = "moving",
) -> DataFrame:
    """Trailing-window reduce over the last ``window`` buckets
    (current included — pinned; see module docstring)."""
    if window < 1:
        raise ValueError("window must be >= 1")
    if fn not in _MOVING_FNS:
        raise ValueError(f"fn must be one of {sorted(_MOVING_FNS)}")
    w = _w(key).rowsBetween(-(window - 1), Window.currentRow)
    return buckets.withColumn(
        out, _MOVING_FNS[fn](F.col(metric).cast("double")).over(w)
    ).orderBy(key)


def moving_fn_sql(
    parent_sql: str, metric: str = "doc_count", *, window: int = 3,
    fn: str = "avg", key: str = "key", out: str = "moving",
) -> str:
    if fn not in _MOVING_FNS:
        raise ValueError(f"fn must be one of {sorted(_MOVING_FNS)}")
    return (
        f"WITH parent AS ({parent_sql})\n"
        f"SELECT *, {fn}({metric}::DOUBLE) OVER (ORDER BY {key} "
        f"ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW) AS {out} "
        f"FROM parent ORDER BY {key}"
    )


def stats_bucket(
    buckets: DataFrame, metric: str = "doc_count",
) -> DataFrame:
    """Sibling pipeline agg: count/min/max/avg/sum over the parent's
    metric values in ONE row (``avg_bucket`` … are its projections)."""
    return buckets.agg(*_stats(F.col(metric).cast("double"), NORM_ROUND))


def stats_bucket_sql(parent_sql: str, metric: str = "doc_count") -> str:
    return (
        f"WITH parent AS ({parent_sql})\n"
        f"SELECT count({metric}::DOUBLE)::BIGINT AS count, "
        f"min({metric}::DOUBLE) AS min, max({metric}::DOUBLE) AS max, "
        f"round(avg({metric}::DOUBLE), 6) AS avg, "
        f"sum({metric}::DOUBLE) AS sum FROM parent"
    )


def bucket_sort(
    buckets: DataFrame, metric: str = "doc_count", *, size: int = 10,
    from_: int = 0, asc: bool = False, key: str = "key",
) -> DataFrame:
    """Reorder + truncate the parent's buckets by ``metric`` (tie →
    key asc, a total order so from/size paging is deterministic)."""
    m = F.col(metric).asc() if asc else F.col(metric).desc()
    ordered = buckets.orderBy(m, F.col(key).asc())
    if from_ > 0:
        # coordinator-sized frame: offset via a row_number filter
        w = Window.orderBy(m, F.col(key).asc())
        ordered = (
            buckets.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > from_)
            .drop("_rn")
            .orderBy(m, F.col(key).asc())
        )
    return ordered.limit(size)


def bucket_sort_sql(
    parent_sql: str, metric: str = "doc_count", *, size: int = 10,
    from_: int = 0, asc: bool = False, key: str = "key",
) -> str:
    d = "ASC" if asc else "DESC"
    return (
        f"WITH parent AS ({parent_sql})\n"
        f"SELECT * FROM parent ORDER BY {metric} {d}, {key} ASC "
        f"LIMIT {size} OFFSET {from_}"
    )


def bucket_selector(
    buckets: DataFrame, metric: str = "doc_count", *, op: str = ">=",
    value: float = 0.0, key: str = "key",
) -> DataFrame:
    """Keep buckets where ``metric <op> value`` (pinned comparison
    subset of the script parameter; see module docstring)."""
    if op not in _SEL_OPS:
        raise ValueError(f"op must be one of {_SEL_OPS}")
    m = F.col(metric).cast("double")
    cond = {
        ">": m > value, ">=": m >= value, "<": m < value,
        "<=": m <= value, "==": m == value, "!=": m != value,
    }[op]
    return buckets.filter(cond).orderBy(key)


_NORM_METHODS = ("percent_of_sum", "mean", "rescale_0_1")


def normalize(
    buckets: DataFrame, metric: str = "doc_count", *,
    method: str = "percent_of_sum", key: str = "key", out: str = "norm",
) -> DataFrame:
    """Rescale ``metric`` across the parent's buckets (see module
    docstring for the pinned method formulas)."""
    if method not in _NORM_METHODS:
        raise ValueError(f"method must be one of {_NORM_METHODS}")
    m = F.col(metric).cast("double")
    w = Window.orderBy(F.col(key).asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    if method == "percent_of_sum":
        expr = m / F.sum(m).over(w)
    else:
        span = F.max(m).over(w) - F.min(m).over(w)
        num = m - (F.avg(m).over(w) if method == "mean" else F.min(m).over(w))
        expr = F.when(span == 0.0, F.lit(0.0)).otherwise(num / span)
    return buckets.withColumn(out, F.round(expr, NORM_ROUND)).orderBy(key)


def normalize_sql(
    parent_sql: str, metric: str = "doc_count", *,
    method: str = "percent_of_sum", key: str = "key", out: str = "norm",
) -> str:
    if method not in _NORM_METHODS:
        raise ValueError(f"method must be one of {_NORM_METHODS}")
    m = f"{metric}::DOUBLE"
    ov = "OVER ()"
    if method == "percent_of_sum":
        expr = f"{m} / sum({m}) {ov}"
    else:
        center = f"avg({m}) {ov}" if method == "mean" else f"min({m}) {ov}"
        expr = (
            f"CASE WHEN max({m}) {ov} = min({m}) {ov} THEN 0.0 "
            f"ELSE ({m} - {center}) / (max({m}) {ov} - min({m}) {ov}) END"
        )
    return (
        f"WITH parent AS ({parent_sql})\n"
        f"SELECT *, round({expr}, {NORM_ROUND}) AS {out} "
        f"FROM parent ORDER BY {key}"
    )


def bucket_script(
    buckets: DataFrame, expr: str, *, refs: list[str] | None = None,
    key: str = "key", out: str = "value",
) -> DataFrame:
    """Per-bucket arithmetic over the parent's metric columns.  ``expr``
    is a SQL arithmetic expression over the parent's column names
    (e.g. ``"sum / doc_count"``); ``refs`` lists the referenced metric
    columns for the null-skip gap policy (defaults to none skipped)."""
    cond = F.lit(True)
    for r in refs or []:
        cond = cond & F.col(r).isNotNull()
    return (
        buckets.filter(cond)
        .withColumn(out, F.round(F.expr(expr).cast("double"), NORM_ROUND))
        .orderBy(key)
    )


def bucket_script_sql(
    parent_sql: str, expr: str, *, refs: list[str] | None = None,
    key: str = "key", out: str = "value",
) -> str:
    where = (
        "WHERE " + " AND ".join(f"{r} IS NOT NULL" for r in refs)
        if refs else ""
    )
    return (
        f"WITH parent AS ({parent_sql})\n"
        f"SELECT *, round(({expr})::DOUBLE, {NORM_ROUND}) AS {out} "
        f"FROM parent {where} ORDER BY {key}"
    )


def bucket_selector_sql(
    parent_sql: str, metric: str = "doc_count", *, op: str = ">=",
    value: float = 0.0, key: str = "key",
) -> str:
    if op not in _SEL_OPS:
        raise ValueError(f"op must be one of {_SEL_OPS}")
    sqlop = {"==": "=", "!=": "<>"}.get(op, op)
    return (
        f"WITH parent AS ({parent_sql})\n"
        f"SELECT * FROM parent WHERE {metric}::DOUBLE {sqlop} {value} "
        f"ORDER BY {key}"
    )


def percentiles_bucket(
    buckets: DataFrame, percents: tuple = (25.0, 50.0, 75.0),
    metric: str = "doc_count",
) -> DataFrame:
    """Sibling pipeline agg: exact linear-interpolation percentiles of
    the parent buckets' metric → (percent, value), request order — the
    ``percentiles`` pin of ``query.aggs`` applied at the bucket level
    (OpenSearch's percentiles_bucket is likewise exact, since the
    coordinator holds every bucket value)."""
    return _percentile_rows(
        buckets, f"CAST({metric} AS DOUBLE)", percents, NORM_ROUND
    )


def percentiles_bucket_sql(
    parent_sql: str, percents: tuple = (25.0, 50.0, 75.0),
    metric: str = "doc_count",
) -> str:
    if not percents:
        raise ValueError("percents must be non-empty")
    cols = ", ".join(
        f"round(quantile_cont({metric}::DOUBLE, {p / 100.0!r}), 6) AS _p{i}"
        for i, p in enumerate(percents)
    )
    legs = "\nUNION ALL\n".join(
        f"SELECT CAST({p!r} AS DOUBLE) AS percent, _p{i} AS value FROM one"
        for i, p in enumerate(percents)
    )
    return (
        f"WITH parent AS ({parent_sql}),\n"
        f"one AS (SELECT {cols} FROM parent)\n{legs}"
    )

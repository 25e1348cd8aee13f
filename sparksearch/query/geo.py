"""Geo queries and aggregations over a ``geo_point``-analog column pair.

OpenSearch models ``geo_point`` fields and serves ``geo_distance`` /
``geo_bounding_box`` queries plus the ``geotile_grid`` / ``geo_bounds``
/ ``geo_centroid`` / ``geo_distance`` aggregations against them; the
reference delegates every ``_search`` body to that engine
(`keyword_search/functions/helper_functions.py` builds the bodies), so
the geo surface is part of the queryable contract its users hold.
Spark-first re-expression: a geo point is two double columns
(``lat``, ``lon``); every operator below is pure Catalyst math
(haversine, Web-Mercator tiling) — whole-stage-codegen'd, no UDFs, and
the distance predicate/sort and tile key push straight into the scan's
column pruning.  At 100 TB the distance filter is a map-local predicate
and every agg is one map-side-partial aggregation; nothing here
shuffles more than the bucket keys.  The aggs run on the one
aggregation layer of ``query/aggs.py``: ``geotile_grid`` is its bucket
cut over a tile key, ``geo_distance`` its stacked range buckets over
the rounded distance.

Cross-engine float discipline: distances round to ``DIST_ROUND``
(meter-ish) decimals BEFORE they are compared, bucketed, or sorted, in
both the Spark and DuckDB expressions, so engine ulp differences in
``sin``/``cos`` cannot flip an ordering or a bucket edge; centroid
averages round to ``aggs.AVG_ROUND`` like every other metric agg.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparksearch.query.aggs import (
    _RANGE_COLS,
    AVG_ROUND,
    _count_where,
    _in_range,
    _match_where_sql,
    _range_key,
    _stacked,
    _top_buckets,
    match_set,
)

EARTH_RADIUS_KM = 6371.0
DIST_ROUND = 3  # ~meter precision in km
_PI = repr(math.pi)


# --- haversine ---------------------------------------------------------


def haversine_km(
    lat_col: Column, lon_col: Column, olat: float, olon: float
) -> Column:
    """Great-circle distance (km) from (olat, olon), Catalyst-side."""
    rad = math.pi / 180.0
    dphi = (lat_col - F.lit(olat)) * F.lit(rad) / 2
    dlmb = (lon_col - F.lit(olon)) * F.lit(rad) / 2
    a = F.pow(F.sin(dphi), 2) + F.cos(lat_col * F.lit(rad)) * F.lit(
        math.cos(olat * rad)
    ) * F.pow(F.sin(dlmb), 2)
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def _haversine_sql(lat: str, lon: str, olat: float, olon: float) -> str:
    rad = repr(math.pi / 180.0)
    return (
        f"2.0 * {EARTH_RADIUS_KM!r} * asin(sqrt("
        f"pow(sin(({lat} - {olat!r}) * {rad} / 2), 2) + "
        f"cos({lat} * {rad}) * {math.cos(olat * math.pi / 180.0)!r} * "
        f"pow(sin(({lon} - {olon!r}) * {rad} / 2), 2)))"
    )


# --- geo_distance query ------------------------------------------------


def geo_distance_topk(
    docs: DataFrame,
    olat: float,
    olon: float,
    radius_km: float,
    k: int,
    *,
    lat_col: str = "lat",
    lon_col: str = "lon",
    id_col: str = "doc_id",
) -> DataFrame:
    """``geo_distance`` query + ``_geo_distance`` asc sort → k nearest
    docs within ``radius_km``: (doc_id, dist_km)."""
    d = F.round(
        haversine_km(F.col(lat_col), F.col(lon_col), olat, olon), DIST_ROUND
    )
    return (
        docs.filter(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"), d.alias("dist_km"))
        .filter(F.col("dist_km") <= F.lit(float(radius_km)))
        .orderBy(F.asc("dist_km"), F.asc("doc_id"))
        .limit(k)
    )


def geo_distance_topk_sql(
    olat: float,
    olon: float,
    radius_km: float,
    k: int,
    *,
    table: str = "documents",
    lat_col: str = "lat",
    lon_col: str = "lon",
    id_col: str = "doc_id",
) -> str:
    h = _haversine_sql(lat_col, lon_col, olat, olon)
    return f"""
SELECT doc_id, dist_km FROM (
  SELECT {id_col} AS doc_id, round({h}, {DIST_ROUND}) AS dist_km
  FROM {table}
  WHERE {lat_col} IS NOT NULL AND {lon_col} IS NOT NULL
)
WHERE dist_km <= {float(radius_km)!r}
ORDER BY dist_km ASC, doc_id ASC
LIMIT {k}
""".strip()


# --- geo_bounding_box query --------------------------------------------


def geo_bounding_box(
    docs: DataFrame,
    top: float,
    left: float,
    bottom: float,
    right: float,
    *,
    lat_col: str = "lat",
    lon_col: str = "lon",
    id_col: str = "doc_id",
) -> DataFrame:
    """``geo_bounding_box`` filter → (doc_id, lat, lon), doc_id asc.

    Non-dateline-crossing box (left < right), the common case; exact
    rectangle containment, no float rounding needed."""
    if not (top >= bottom and right >= left):
        raise ValueError("box must satisfy top>=bottom, right>=left")
    return (
        docs.filter(
            F.col(lat_col).between(bottom, top)
            & F.col(lon_col).between(left, right)
        )
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(lat_col).alias("lat"),
            F.col(lon_col).alias("lon"),
        )
        .orderBy("doc_id")
    )


def geo_bounding_box_sql(
    top: float,
    left: float,
    bottom: float,
    right: float,
    *,
    table: str = "documents",
    lat_col: str = "lat",
    lon_col: str = "lon",
    id_col: str = "doc_id",
) -> str:
    return f"""
SELECT {id_col} AS doc_id, {lat_col} AS lat, {lon_col} AS lon
FROM {table}
WHERE {lat_col} BETWEEN {bottom!r} AND {top!r}
  AND {lon_col} BETWEEN {left!r} AND {right!r}
ORDER BY doc_id
""".strip()


# --- geotile_grid aggregation ------------------------------------------


def _tile_xy(lat: Column, lon: Column, z: int) -> tuple[Column, Column]:
    """Web-Mercator (slippy-map) tile coordinates at zoom ``z`` —
    OpenSearch ``geotile_grid`` keys are ``"z/x/y"`` on this grid."""
    n = float(1 << z)
    rad = math.pi / 180.0
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    phi = lat * F.lit(rad)
    y = F.floor(
        (
            F.lit(1.0)
            - F.log(F.tan(phi) + F.lit(1.0) / F.cos(phi)) / F.lit(math.pi)
        )
        / F.lit(2.0)
        * F.lit(n)
    )
    # clamp to the grid (poles are outside Web-Mercator)
    x = F.greatest(F.lit(0), F.least(x, F.lit(int(n) - 1)))
    y = F.greatest(F.lit(0), F.least(y, F.lit(int(n) - 1)))
    return x, y


def geotile_grid_agg(
    docs: DataFrame,
    query_text: str,
    z: int,
    size: int = 10,
    *,
    lat_col: str = "lat",
    lon_col: str = "lon",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``geotile_grid`` over the match set → (tile "z/x/y", doc_count),
    count desc / tile asc, top ``size`` cells."""
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    m = m.filter(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull())
    x, y = _tile_xy(F.col(lat_col), F.col(lon_col), z)
    tile = F.concat_ws("/", F.lit(str(z)), x.cast("string"), y.cast("string"))
    return _top_buckets(m, tile.alias("key"), size).withColumnRenamed("key", "tile")


def _tile_sql(lat: str, lon: str, z: int) -> str:
    n = float(1 << z)
    hi = int(n) - 1
    rad = repr(math.pi / 180.0)
    x = f"floor(({lon} + 180.0) / 360.0 * {n!r})"
    y = (
        f"floor((1.0 - ln(tan({lat} * {rad}) + 1.0 / cos({lat} * {rad}))"
        f" / {_PI}) / 2.0 * {n!r})"
    )
    x = f"greatest(0, least({x}, {hi}))"
    y = f"greatest(0, least({y}, {hi}))"
    return (
        f"concat('{z}', '/', CAST(CAST({x} AS BIGINT) AS VARCHAR), '/', "
        f"CAST(CAST({y} AS BIGINT) AS VARCHAR))"
    )


def geotile_grid_agg_sql(
    query_text: str,
    z: int,
    size: int = 10,
    *,
    table: str = "documents",
    lat_col: str = "lat",
    lon_col: str = "lon",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    where = _match_where_sql(query_text, analyzer, text_col)
    tile = _tile_sql(lat_col, lon_col, z)
    return f"""
SELECT {tile} AS tile, CAST(count(*) AS BIGINT) AS doc_count
FROM {table}
WHERE ({where}) AND {lat_col} IS NOT NULL AND {lon_col} IS NOT NULL
GROUP BY 1
ORDER BY doc_count DESC, tile ASC
LIMIT {size}
""".strip()


# --- geo_bounds / geo_centroid aggregations ----------------------------


def geo_bounds_agg(
    docs: DataFrame,
    query_text: str,
    *,
    lat_col: str = "lat",
    lon_col: str = "lon",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``geo_bounds`` → one row (top_left_lat, top_left_lon,
    bottom_right_lat, bottom_right_lon) over the match set."""
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    return m.agg(
        F.round(F.max(lat_col), AVG_ROUND).alias("top_left_lat"),
        F.round(F.min(lon_col), AVG_ROUND).alias("top_left_lon"),
        F.round(F.min(lat_col), AVG_ROUND).alias("bottom_right_lat"),
        F.round(F.max(lon_col), AVG_ROUND).alias("bottom_right_lon"),
    )


def geo_bounds_agg_sql(
    query_text: str,
    *,
    table: str = "documents",
    lat_col: str = "lat",
    lon_col: str = "lon",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    where = _match_where_sql(query_text, analyzer, text_col)
    return f"""
SELECT round(max({lat_col}), {AVG_ROUND}) AS top_left_lat,
       round(min({lon_col}), {AVG_ROUND}) AS top_left_lon,
       round(min({lat_col}), {AVG_ROUND}) AS bottom_right_lat,
       round(max({lon_col}), {AVG_ROUND}) AS bottom_right_lon
FROM {table} WHERE {where}
""".strip()


def geo_centroid_agg(
    docs: DataFrame,
    query_text: str,
    *,
    lat_col: str = "lat",
    lon_col: str = "lon",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``geo_centroid`` → one row (lat, lon, count) over the match set."""
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    m = m.filter(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull())
    return m.agg(
        F.round(F.avg(lat_col), AVG_ROUND).alias("lat"),
        F.round(F.avg(lon_col), AVG_ROUND).alias("lon"),
        F.count(F.lit(1)).cast("long").alias("count"),
    )


def geo_centroid_agg_sql(
    query_text: str,
    *,
    table: str = "documents",
    lat_col: str = "lat",
    lon_col: str = "lon",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    where = _match_where_sql(query_text, analyzer, text_col)
    return f"""
SELECT round(avg({lat_col}), {AVG_ROUND}) AS lat,
       round(avg({lon_col}), {AVG_ROUND}) AS lon,
       CAST(count(*) AS BIGINT) AS count
FROM {table}
WHERE ({where}) AND {lat_col} IS NOT NULL AND {lon_col} IS NOT NULL
""".strip()


# --- geo_distance aggregation ------------------------------------------


def geo_distance_agg(
    docs: DataFrame,
    query_text: str,
    olat: float,
    olon: float,
    edges: list[float],
    *,
    lat_col: str = "lat",
    lon_col: str = "lon",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> DataFrame:
    """``geo_distance`` range agg from (olat, olon) → one row per
    request range (bucket_idx, key, doc_count); ``edges`` are the
    interior edges, producing len(edges)+1 buckets [*-e0, e0-e1, ...,
    en-*] like OpenSearch's from/to list."""
    if not edges or sorted(edges) != list(edges):
        raise ValueError("edges must be non-empty ascending")
    m = match_set(docs, query_text, text_col=text_col, analyzer=analyzer)
    m = m.filter(F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull())
    d = F.round(
        haversine_km(F.col(lat_col), F.col(lon_col), olat, olon), DIST_ROUND
    )
    bounds = [None] + [float(e) for e in edges] + [None]
    # no empty-set fill: the twin's sum() is NULL over an empty match set
    return _stacked(m, _RANGE_COLS, [
        ((i, _range_key(lo, hi)), _count_where(_in_range(d, lo, hi)))
        for i, (lo, hi) in enumerate(zip(bounds, bounds[1:]))
    ])


def geo_distance_agg_sql(
    query_text: str,
    olat: float,
    olon: float,
    edges: list[float],
    *,
    table: str = "documents",
    lat_col: str = "lat",
    lon_col: str = "lon",
    text_col: str = "text",
    analyzer: str = "ascii",
) -> str:
    where = _match_where_sql(query_text, analyzer, text_col)
    h = _haversine_sql(lat_col, lon_col, olat, olon)
    bounds = [None] + [float(e) for e in edges] + [None]
    rows = []
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i], bounds[i + 1]
        conds = []
        if lo is not None:
            conds.append(f"d >= {lo!r}")
        if hi is not None:
            conds.append(f"d < {hi!r}")
        cond = " AND ".join(conds) or "TRUE"
        key = ("*" if lo is None else f"{lo:g}") + "-" + (
            "*" if hi is None else f"{hi:g}"
        )
        rows.append(
            f"SELECT {i} AS bucket_idx, '{key}' AS key, "
            f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS doc_count FROM m"
        )
    body = " UNION ALL ".join(rows)
    return f"""
WITH m AS (
  SELECT round({h}, {DIST_ROUND}) AS d
  FROM {table}
  WHERE ({where}) AND {lat_col} IS NOT NULL AND {lon_col} IS NOT NULL
)
SELECT CAST(bucket_idx AS INT) AS bucket_idx, key, doc_count
FROM ({body}) ORDER BY bucket_idx
""".strip()


# --- geo_polygon -------------------------------------------------------


def polygon_contains_expr(
    polygon: list[tuple[float, float]], lat: str = "lat", lon: str = "lon"
) -> str:
    """SQL-syntax even-odd (ray-casting) point-in-polygon test over a
    LITERAL polygon — the same expression string runs through Spark
    ``F.expr`` and DuckDB verbatim (the shared-compilation discipline
    of ``query.qstring``).

    One term per edge, unrolled at plan time: a horizontal ray east
    from the point crosses edge (i, j) iff the edge spans the point's
    latitude and the edge's longitude at that latitude lies east of
    the point.  Odd crossings = inside.  Vertex-on-edge boundary cases
    follow the even-odd rule's half-open convention (> vs >=) — pinned,
    and identical in both engines because the arithmetic is literal.
    The whole predicate is branch-free float math on two columns, so
    Catalyst evaluates it inside whole-stage codegen and prunes the
    scan to (lat, lon).
    """
    if len(polygon) < 3:
        raise ValueError("polygon needs >= 3 vertices")
    terms = []
    n = len(polygon)
    for i in range(n):
        yi, xi = polygon[i]          # vertex = (lat, lon)
        yj, xj = polygon[(i + 1) % n]
        if yi == yj:
            continue  # horizontal edge: the east ray never crosses it
        terms.append(
            f"(CASE WHEN (({yi!r} > {lat}) <> ({yj!r} > {lat})) AND "
            f"({lon} < ({xj!r} - {xi!r}) * ({lat} - {yi!r}) "
            f"/ ({yj!r} - {yi!r}) + {xi!r}) THEN 1 ELSE 0 END)"
        )
    if not terms:
        return "FALSE"
    return (
        f"({lat} IS NOT NULL AND {lon} IS NOT NULL AND "
        f"(({' + '.join(terms)}) % 2) = 1)"
    )


def geo_polygon(
    docs: DataFrame,
    polygon: list[tuple[float, float]],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """OpenSearch ``geo_polygon`` query → (doc_id, score=1.0), doc_id
    asc (filter context: constant score, Lucene's rewrite)."""
    pred = polygon_contains_expr(polygon, lat_col, lon_col)
    return (
        docs.filter(F.expr(pred))
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.lit(1.0).alias("score"),
        )
        .orderBy("doc_id")
        .limit(k)
    )


def geo_polygon_sql(
    polygon: list[tuple[float, float]],
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> str:
    pred = polygon_contains_expr(polygon, lat_col, lon_col)
    return f"""
SELECT CAST({id_col} AS BIGINT) AS doc_id, 1.0 AS score
FROM {table} WHERE {pred}
ORDER BY doc_id ASC LIMIT {k}
""".strip()

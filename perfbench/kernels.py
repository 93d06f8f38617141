"""Kernel-layer timing outside Spark.

Calls the functions behind the registered `_B` (WKB binary carrier) UDF
names that the geom_int queries run, directly, on one Arrow-batch-sized
pandas Series:

- st_buffer_round runs ST_BufferRoundStats_B (text edge, packed round
  buffer, area and point count in one UDF);
- st_transform_utm runs ST_TransformFwdRtCoords_B (text edge, forward
  and return CRS transform, coordinates);
- st_point_line_ops runs the chain the rewriter emits: ST_GeomFromWKT_B
  at the text edge, then ST_Length_B, ST_Centroid_B, ST_Distance_B and
  ST_Contains_B on WKB.

`from_wkt` times ST_GeomFromWKT_B on the line strings st_point_line_ops
parses. `buffer` and `transform` time ST_BufferRound_B and
ST_Transform_B on WKB built from the same rectangles, so the packed
kernels show apart from the text edge. Each function is timed on
integer-coordinate inputs (the shapes the fixture queries build, which
the rectangle and lane fast paths match) and on float-coordinate inputs
of the same shapes.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

REPEATS = 3  # calls per function; the median is reported


def _rects(x1, y1, x2, y2) -> pd.Series:
    return pd.Series([f"POLYGON (({a} {b}, {c} {b}, {c} {d}, {a} {d}, {a} {b}))"
                      for a, b, c, d in zip(x1, y1, x2, y2)])


def _lines(px, py, dx, dy) -> pd.Series:
    return pd.Series([f"LINESTRING ({a} {b}, {a + c} {b + d}, {a + c} {b + d + 3})"
                      for a, b, c, d in zip(px, py, dx, dy)])


def _points(px, py) -> pd.Series:
    return pd.Series([f"POINT ({a} {b})" for a, b in zip(px, py)])


def _cases(B, seed: int, n: int, kind: str) -> dict:
    """{fn: (callable, args)} on n rows shaped like the geom_int inputs."""
    rng = np.random.default_rng([seed, 7])
    x = rng.integers(0, 100, n)
    y = rng.integers(0, 100, n)
    w = 1 + rng.integers(0, 10, n)
    h = 1 + rng.integers(0, 10, n)
    dx = 1 + rng.integers(0, 5, n)
    dy = 1 + rng.integers(0, 7, n)
    gx = 12 * rng.integers(0, 10, n)
    gy = 12 * rng.integers(0, 5, n)
    if kind == "int":
        # degree rects on the fixture's 0.01-degree grid, 0.01 wide
        lon, lat = -57.0 + x / 100, -12.0 + y / 100
        dlon = dlat = 0.01
    else:
        x = x + rng.random(n)
        y = y + rng.random(n)
        w = w + rng.random(n)
        h = h + rng.random(n)
        dx = dx + rng.random(n)
        dy = dy + rng.random(n)
        lon, lat = -57.0 + x / 100, -12.0 + y / 100
        dlon, dlat = rng.uniform(0.005, 0.02, n), rng.uniform(0.005, 0.02, n)
    const = lambda v: pd.Series(np.full(n, v))  # noqa: E731
    to_wkb = B.st_geomfromwkt_b.func
    rects = _rects(x, y, x + w, y + h)
    degs = _rects(lon, lat, lon + dlon, lat + dlat)
    radius = pd.Series((1 + np.arange(n) % 5) / 4.0)
    line_wkt = _lines(x, y, dx, dy)
    lines = to_wkb(line_wkt)
    points = to_wkb(_points(x, y))
    regions = to_wkb(_rects(gx, gy, gx + 15, gy + 15))
    crs = (const("EPSG:4326"), const("EPSG:32722"))
    return {
        "from_wkt": (to_wkb, (line_wkt,)),
        "buffer_stats": (B.st_buffer_round_stats_b.func, (rects, radius, const(8))),
        "buffer": (B.st_bufferround_b.func, (to_wkb(rects), radius, const(8))),
        "transform_fwdrt": (B.st_transform_fwdrt_coords_b.func, (degs, *crs)),
        "transform": (B.st_transform_b.func, (to_wkb(degs), *crs)),
        "length": (B.st_length_b.func, (lines,)),
        "centroid": (B.st_centroid_b.func, (lines,)),
        "distance": (B.st_distance_b.func, (points, regions)),
        "contains": (B.st_contains_b.func, (regions, points)),
    }


def bench(seed: int, batch_rows: int) -> dict:
    """{f'kernel.{fn}.{kind}_us_per_row': microseconds} for every fn."""
    import importlib

    B = importlib.import_module(
        "geospatial_data_pipeline_spark_sedona_on_aws_spark.functions.geomb")
    cases = {kind: _cases(B, seed, batch_rows, kind) for kind in ("int", "float")}
    times: dict[str, list[float]] = {}
    for fn in cases["int"]:
        for kind in cases:
            f, args = cases[kind][fn]
            f(*[a.iloc[:64] for a in args])  # warm caches and lazy imports
        # alternate the two kinds, so that neither always runs first
        for _ in range(REPEATS):
            for kind in cases:
                f, args = cases[kind][fn]
                t0 = time.perf_counter()
                f(*args)
                times.setdefault(f"kernel.{fn}.{kind}_us_per_row", []).append(
                    time.perf_counter() - t0)
    return {k: statistics.median(v) / batch_rows * 1e6 for k, v in times.items()}

"""Kernel microbenchmarks: the numpy kernels the ingest UDF and the filter
path call, timed on seeded arrays with no Spark in the loop."""

from __future__ import annotations

import time

import numpy as np

from inputs import FINLAND, Points

N_POINTS = 200_000
REPEATS = 5


def _grid_polygons():
    """20 chamfered grid polygons over Finland — the same shape and count as
    the municipality layer the fused ingest UDF assigns points to."""
    from laji_pygeoapi_spark.kernels import wkb as W
    x0, y0, x1, y1 = FINLAND
    nx, ny = 4, 5
    dx, dy = (x1 - x0) / nx, (y1 - y0) / ny
    out = []
    for k in range(nx * ny):
        ax, ay = x0 + (k % nx) * dx, y0 + (k // nx) * dy
        bx, by = ax + dx, ay + dy
        ch = min(dx, dy) * 1e-6
        shell = [(ax, ay), (bx - ch, ay), (bx, ay + ch), (bx, by), (ax, by)]
        geom = W.loads(W.dumps(W.polygon(shell)))
        out.append((k, None, (ax, ay, bx, by), geom))
    return out


def _star(cx: float, cy: float, r: float, n: int = 64):
    from laji_pygeoapi_spark.kernels import wkb as W
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    rad = np.where(np.arange(n) % 2 == 0, 1.0, 0.6) * r
    ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang) / 2], axis=1)
    return W.loads(W.dumps(W.polygon(ring)))


def _ns_per_pt(fn, n: int) -> float:
    fn()  # first call pays lazy tables and allocation
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times)) / n * 1e9


def run(seed: int) -> dict[str, float]:
    """``{metric name: ns per point}`` for every kernel the benchmark
    tracks."""
    from laji_pygeoapi_spark.kernels import cells as C
    from laji_pygeoapi_spark.kernels import crs as K
    from laji_pygeoapi_spark.kernels import geom as G

    pts = Points(N_POINTS, seed, 0)
    lon, lat = pts.lon, pts.lat
    index = G.PolygonGridIndex(_grid_polygons())
    star = _star(25.0, 62.0, 2.0)
    n = len(lon)
    return {
        "kernels.cells.hex_cell.ns_per_pt": _ns_per_pt(lambda: C.hex_cell(lon, lat, 7), n),
        "kernels.cells.mercator_tile.ns_per_pt": _ns_per_pt(lambda: C.mercator_tile(lon, lat, 12), n),
        "kernels.cells.s2_cell.ns_per_pt": _ns_per_pt(lambda: C.s2_cell(lon, lat, 12), n),
        "kernels.geom.grid_index_assign.ns_per_pt": _ns_per_pt(lambda: index.assign(lon, lat), n),
        "kernels.geom.points_in_polygon.ns_per_pt": _ns_per_pt(lambda: G.points_in_polygon(lon, lat, star), n),
        "kernels.crs.wgs84_to_tm35fin.ns_per_pt": _ns_per_pt(lambda: K.wgs84_to_tm35fin(lon, lat), n),
    }

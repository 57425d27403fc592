"""Geometry pandas UDFs (Arrow-batched) — SURVEY.md §2.9 G1-G4, G8.

One fused UDF performs the whole per-geometry pass (validity repair,
GeometryCollection conversion, kind classification, centroid) so each WKB
blob is decoded exactly once per pipeline, and the result comes back as a
single struct column.  This is the only Python on the transform chain's hot
path; everything around it is JVM expressions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels import crs as crs_kernel
from ..kernels import geom as G
from ..kernels import wkb as W

GEO_STRUCT = T.StructType([
    T.StructField("geometry", T.BinaryType()),
    T.StructField("geom_kind", T.StringType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("lat", T.DoubleType()),
    # envelope: bbox queries use PostGIS `&&` semantics (envelope
    # intersection), not centroid membership — large lines/polygons
    # straddling a bbox edge must still match
    T.StructField("env_minx", T.DoubleType()),
    T.StructField("env_miny", T.DoubleType()),
    T.StructField("env_maxx", T.DoubleType()),
    T.StructField("env_maxy", T.DoubleType()),
    T.StructField("was_invalid", T.BooleanType()),
    T.StructField("was_collection", T.BooleanType()),
])


@pandas_udf(GEO_STRUCT)
def process_geometry(wkb_col: pd.Series) -> pd.DataFrame:
    """G1 (validate+repair) + G2 (GC->Multi*) + G3 (kind) + G8 (center point).

    Reference chain: ``process_data.py:25-39`` then ``:132-181`` then the
    type routing of ``edit_db.py:279-283``.
    """
    n = len(wkb_col)
    out_geom: list = [None] * n
    kinds: list = [None] * n
    lons = np.full(n, np.nan)
    lats = np.full(n, np.nan)
    envs = np.full((n, 4), np.nan)
    inv = np.zeros(n, dtype=bool)
    conv = np.zeros(n, dtype=bool)
    for idx, blob in enumerate(wkb_col):
        if blob is None:
            continue
        g = W.loads(bytes(blob))
        g, was_conv = G.convert_geometry_collection(g)
        conv[idx] = was_conv
        if g is None:
            continue
        if not G.is_valid(g):
            inv[idx] = True
            g = G.make_valid(g)
        if g is None:
            continue
        out_geom[idx] = W.dumps(g)
        kinds[idx] = W.geom_kind(g)
        lon, lat = W.centroid(g)
        lons[idx], lats[idx] = lon, lat
        envs[idx] = W.bounds(g)
    return pd.DataFrame({
        "geometry": out_geom, "geom_kind": kinds,
        "lon": lons, "lat": lats,
        "env_minx": envs[:, 0], "env_miny": envs[:, 1],
        "env_maxx": envs[:, 2], "env_maxy": envs[:, 3],
        "was_invalid": inv, "was_collection": conv,
    })


@pandas_udf(T.StructType([T.StructField("e", T.DoubleType()), T.StructField("n", T.DoubleType())]))
def to_tm35fin(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
    """G4 — vectorized EPSG:4326 -> 3067 (reference delegates to pyproj)."""
    e, n = crs_kernel.wgs84_to_tm35fin(lon.to_numpy(np.float64), lat.to_numpy(np.float64))
    return pd.DataFrame({"e": e, "n": n})


@pandas_udf(T.BinaryType())
def point_wkb(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """WKB Point bytes from (lon, lat) — Arrow-batched, one slice per row.

    Used at ingest to give synthesized occurrence points a real geometry
    column (the engine's canonical storage is WKB, like the reference's
    PostGIS geometry column)."""
    head = bytes([1, 1, 0, 0, 0])
    xs = lon.to_numpy("<f8").tobytes()
    ys = lat.to_numpy("<f8").tobytes()
    return pd.Series([head + xs[i * 8:(i + 1) * 8] + ys[i * 8:(i + 1) * 8]
                      for i in range(len(lon))])

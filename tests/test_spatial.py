"""Spatial-core tests: cell encoding in Spark, bbox pruning, PIP join,
kNN vs the brute-force haversine oracle (north-rule acceptance checks)."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from laji_pygeoapi_spark.kernels import cells as C
from laji_pygeoapi_spark.operators import spatial as SP
from laji_pygeoapi_spark.plans.curation import release_caches
from laji_pygeoapi_spark.sources import fixtures


def test_with_cells_matches_kernel(spark):
    imgs = fixtures.images_df(spark, 200, with_bytes=False)
    out = SP.with_cells(imgs, zooms=(9,)).toPandas()
    lon = out["lon"].to_numpy()
    lat = out["lat"].to_numpy()
    assert (out["cell_r7"].to_numpy() == C.hex_cell(lon, lat, 7)).all()
    assert (out["s2_l12"].to_numpy() == C.s2_cell(lon, lat, 12)).all()
    tx, ty = C.mercator_tile(lon, lat, 9)
    assert (out["tile_x_z9"].to_numpy() == tx).all()
    assert (out["tile_y_z9"].to_numpy() == ty).all()


def test_bbox_filter_row_set_parity(spark):
    # north rule: "bbox filter row sets" — predicate vs python filter
    imgs = fixtures.images_df(spark, 500, with_bytes=False)
    cells_df = SP.with_cells(imgs).cache()
    bbox = (24.0, 59.9, 26.0, 61.0)
    got = set(SP.bbox_filter(cells_df, bbox).select("image_id").toPandas()["image_id"])
    pdf = cells_df.select("image_id", "lon", "lat").toPandas()
    exp = set(pdf[(pdf.lon >= bbox[0]) & (pdf.lon <= bbox[2])
                  & (pdf.lat >= bbox[1]) & (pdf.lat <= bbox[3])]["image_id"])
    assert got == exp


def test_pip_join_agrees_with_upstream_attribution(spark):
    # FIXTURES: engine PIP must reproduce the deterministic grid Kunta
    from laji_pygeoapi_spark.functions import transform
    raw = spark.createDataFrame(fixtures.raw_occurrences_pdf(300))
    tax = spark.createDataFrame(fixtures.taxonomy_pdf())
    occ = transform.transform_chain(raw, tax).filter(F.col("lon").isNotNull())
    joined = SP.pip_join(occ, fixtures.municipalities_pdf(), extra_cols=("name",))
    bad = joined.filter(F.col("poly_name") != F.col("Kunta")).count()
    assert bad == 0


def test_pip_points_outside_all_polygons(spark):
    pdf = pd.DataFrame({"lon": [0.0, 24.9], "lat": [0.0, 60.2]})
    out = SP.pip_join(spark.createDataFrame(pdf), fixtures.municipalities_pdf(),
                      extra_cols=("name",)).toPandas()
    assert out.loc[0, "poly_name"] is None
    assert out.loc[1, "poly_name"] is not None


def test_knn_matches_bruteforce(spark):
    imgs = fixtures.images_df(spark, 400, with_bytes=False).cache()
    pts = imgs.select("image_id", "lon", "lat").toPandas()
    queries = pd.DataFrame({"query_id": [f"q{i}" for i in range(6)],
                            "lon": np.linspace(20, 30, 6),
                            "lat": np.linspace(60, 69, 6)})
    got = SP.knn_join(spark, imgs, queries, k=5, res=6).toPandas()
    for _, q in queries.iterrows():
        d = C.haversine_m(q["lon"], q["lat"], pts["lon"].values, pts["lat"].values)
        brute = set(pts["image_id"].values[np.argsort(d, kind="stable")[:5]])
        mine = set(got.loc[got["query_id"] == q["query_id"], "image_id"])
        assert mine == brute, q["query_id"]


def test_haversine_expr_matches_kernel(spark):
    pdf = pd.DataFrame({"lon1": [24.94, 20.0], "lat1": [60.17, 65.0],
                        "lon2": [22.27, 28.0], "lat2": [60.45, 69.0]})
    out = (spark.createDataFrame(pdf)
           .select(SP.haversine_expr("lon1", "lat1", "lon2", "lat2").alias("d"))
           .toPandas())
    exp = C.haversine_m(pdf["lon1"], pdf["lat1"], pdf["lon2"], pdf["lat2"])
    assert np.allclose(out["d"].to_numpy(), exp, rtol=1e-9)


def test_bbox_predicate_includes_cell_pruning(spark):
    imgs = SP.with_cells(fixtures.images_df(spark, 100, with_bytes=False))
    plan = imgs.filter(SP.bbox_predicate(24.0, 60.0, 25.0, 61.0))._jdf.queryExecution().toString()
    assert "cell_prefix" in plan  # partition-prune predicate generated


def test_adaptive_cells_splits_hotspot(spark):
    from laji_pygeoapi_spark.plans.ingest import adaptive_cells
    imgs = SP.with_cells(fixtures.images_df(spark, 2000, with_bytes=False),
                         hex_resolutions=(3, 5, 6, 7))
    out = adaptive_cells(imgs, base_res=3, fine_res=6, dense_threshold=100).cache()
    res_counts = {r["cell_res"]: r["count"]
                  for r in out.groupBy("cell_res").count().collect()}
    assert res_counts.get(6, 0) > 0      # Helsinki hotspot re-keyed finer
    assert res_counts.get(3, 0) > 0      # sparse cells stay coarse
    # every adaptive cell is bounded below the threshold x split factor
    mx = out.groupBy("cell_adaptive").count().agg(F.max("count")).first()[0]
    assert mx <= 2000  # sanity: no unbounded group


def test_salt_dense_cells_bounds_partitions(spark):
    from laji_pygeoapi_spark.plans.ingest import salt_dense_cells
    imgs = SP.with_cells(fixtures.images_df(spark, 2000, with_bytes=False))
    out = salt_dense_cells(imgs, max_rows_per_task=100).cache()
    assert out.count() == 2000  # row-preserving
    g = out.groupBy("cell_prefix", "_salt").count().agg(F.max("count")).first()[0]
    # deterministic hash salting: no (cell, salt) bucket much above the cap
    assert g <= 300


def test_knn_distributed_matches_bruteforce(spark):
    imgs = fixtures.images_df(spark, 300, with_bytes=False).cache()
    pts = imgs.select("image_id", "lon", "lat").toPandas()
    queries = pd.DataFrame({"query_id": [f"q{i}" for i in range(4)],
                            "lon": np.linspace(21, 29, 4),
                            "lat": np.linspace(60, 68, 4)})
    got = SP.knn_bruteforce_distributed(spark, imgs, queries, k=5).toPandas()
    for _, q in queries.iterrows():
        d = C.haversine_m(q["lon"], q["lat"], pts["lon"].values, pts["lat"].values)
        brute = set(pts["image_id"].values[np.argsort(d, kind="stable")[:5]])
        mine = set(got.loc[got["query_id"] == q["query_id"], "image_id"])
        assert mine == brute, q["query_id"]


def test_bbox_envelope_mode_keeps_large_geometries(spark):
    """ADVICE round-1: envelope-mode bbox must not silently drop a geometry
    whose centroid cell lies far outside the box.  Without a known max
    extent the cell predicate is skipped; with one, the cover is padded."""
    import pandas as pd
    # geometry spanning 3 deg: centroid at 27.5, envelope reaching into a
    # bbox that ends at 25.0
    pdf = pd.DataFrame({"id": ["wide", "far"],
                        "lon": [27.5, 30.0], "lat": [60.5, 69.0],
                        "env_minx": [24.9, 29.9], "env_maxx": [30.1, 30.1],
                        "env_miny": [60.0, 68.9], "env_maxy": [61.0, 69.1]})
    df = SP.with_cells(spark.createDataFrame(pdf))
    env = ("env_minx", "env_miny", "env_maxx", "env_maxy")
    got = {r["id"] for r in df.filter(SP.bbox_predicate(
        24.0, 59.8, 25.0, 61.0, envelope_cols=env)).collect()}
    assert got == {"wide"}
    # with an explicit extent bound the cell-IN predicate is kept AND correct
    pred = SP.bbox_predicate(24.0, 59.8, 25.0, 61.0, envelope_cols=env,
                             max_extent_deg=6.0)
    got2 = {r["id"] for r in df.filter(pred).collect()}
    assert got2 == {"wide"}
    plan = df.filter(pred)._jdf.queryExecution().toString()
    assert "cell_prefix" in plan


def test_pip_join_distributed_matches_broadcast(spark):
    """J4 scale path: the non-broadcast cell-cover PIP join returns the
    same assignment as the broadcast grid-index join."""
    from laji_pygeoapi_spark.sources import fixtures
    pts = fixtures.images_df(spark, 400, with_bytes=False) \
                  .select("image_id", "lon", "lat")
    bc = SP.pip_join(pts, fixtures.municipalities_pdf(), extra_cols=())
    dist = SP.pip_join_distributed(pts, fixtures.municipalities_df(spark))
    a = {r["image_id"]: r["poly_id"] for r in bc.collect()}
    b = {r["image_id"]: r["poly_id"] for r in dist.collect()}
    assert a == b
    assert any(v is not None for v in a.values())
    # inner mode drops unmatched points
    inner = SP.pip_join_distributed(pts, fixtures.municipalities_df(spark),
                                    how="inner")
    assert inner.count() == sum(v is not None for v in a.values())
    # plan: an equi-join on the cell id, no broadcast of the polygon side,
    # no cartesian product
    plan = dist._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pip_distributed_null_columns_and_narrow_key(spark):
    """Round-2 verdict fix #3 + ADVICE: the dedup window and re-join key on
    the unique point id, so (a) a NULL in a non-key column no longer makes
    the equality re-join miss a matched point, and (b) the shuffle carries
    the id, not the whole row."""
    from laji_pygeoapi_spark.sources import fixtures
    pts = fixtures.images_df(spark, 200, with_bytes=False) \
                  .select("image_id", "lon", "lat")
    # half the rows get a NULL attribute column — pre-fix these silently
    # lost their match in the left re-join
    pts = pts.withColumn(
        "note", F.when(F.substring("image_id", -1, 1).isin("0", "2", "4", "6", "8"),
                       F.lit(None).cast("string")).otherwise(F.lit("x")))
    bc = SP.pip_join(pts.select("image_id", "lon", "lat"),
                     fixtures.municipalities_pdf(), extra_cols=())
    dist = SP.pip_join_distributed(pts, fixtures.municipalities_df(spark))
    a = {r["image_id"]: r["poly_id"] for r in bc.collect()}
    b = {r["image_id"]: r["poly_id"] for r in dist.collect()}
    assert a == b
    assert sum(v is not None for v in b.values()) > 0
    # the re-join/window key is the id alone: the plan partitions on
    # image_id, never on the nullable attribute column
    plan = dist._jdf.queryExecution().executedPlan().toString()
    assert "note" not in "".join(
        seg.split(")")[0] for seg in plan.split("hashpartitioning(")[1:])


def test_knn_auto_brute_delegation(spark):
    """Large query sets bypass the ring loop: results equal the k-ring path
    run with delegation disabled."""
    import pandas as pd
    from laji_pygeoapi_spark.sources import fixtures
    pts = fixtures.images_df(spark, 300, with_bytes=False)
    rng = np.random.RandomState(4)
    q = pd.DataFrame({"query_id": [f"q{i}" for i in range(20)],
                      "lon": rng.uniform(20, 30, 20),
                      "lat": rng.uniform(60, 69, 20)})
    a = SP.knn_join(spark, pts, q, k=3, auto_brute_threshold=5).toPandas()
    b = SP.knn_join(spark, pts, q, k=3, auto_brute_threshold=10**6).toPandas()
    ka = sorted(map(tuple, a[["query_id", "image_id", "rank"]].values.tolist()))
    kb = sorted(map(tuple, b[["query_id", "image_id", "rank"]].values.tolist()))
    assert ka == kb


def test_within_distance_join_matches_bruteforce(spark):
    """ST_DWithin analog: cell-cover + exact haversine equals the full
    brute-force radius scan for several radii (coverage conservatism must
    never lose a true member)."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.functions as F
    from laji_pygeoapi_spark.kernels.cells import haversine_m
    from laji_pygeoapi_spark.operators.spatial import within_distance_join
    pts = fixtures.images_df(spark, 800, with_bytes=False)
    qpdf = pd.DataFrame({"query_id": ["a", "b", "c"],
                         "lon": [24.9, 27.5, 21.0],
                         "lat": [60.2, 65.0, 69.5]})
    pdf = pts.select("image_id", "lon", "lat").toPandas()
    for radius in (25_000.0, 120_000.0):
        got = {(r["query_id"], r["image_id"]) for r in
               within_distance_join(spark, pts, qpdf, radius).collect()}
        want = set()
        for _, q in qpdf.iterrows():
            d = haversine_m(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(),
                            q["lon"], q["lat"])
            for img in pdf["image_id"].to_numpy()[d <= radius]:
                want.add((q["query_id"], img))
        assert got == want, (radius, len(got), len(want))
    assert len(want) > 0  # the largest radius actually matched something


def test_dissolve_grid_cells(spark):
    """A 2x2 block of touching squares dissolves to ONE square of exact
    area 4; a group with two disjoint squares stays a 2-part
    MultiPolygon; areas are exact."""
    import numpy as np
    import pandas as pd
    from laji_pygeoapi_spark.kernels import wkb as W
    from laji_pygeoapi_spark.operators.spatial import dissolve

    def sq(x, y, s=1.0):
        return W.dumps(W.polygon(np.array(
            [[x, y], [x + s, y], [x + s, y + s], [x, y + s]])))
    rows = ([("block", bytearray(sq(x, y))) for x in (0, 1) for y in (0, 1)]
            + [("apart", bytearray(sq(10, 10))), ("apart", bytearray(sq(20, 20)))])
    df = spark.createDataFrame(rows, "region: string, geometry: binary")
    out = {r["region"]: r for r in dissolve(df, ["region"]).collect()}
    blk = out["block"]
    assert blk["n_members"] == 4 and blk["n_parts"] == 1
    assert abs(blk["area"] - 4.0) < 1e-9
    g = W.loads(bytes(blk["geometry"]))
    assert g[0] == "Polygon"
    xs = [p[0] for p in g[1][0]]; ys = [p[1] for p in g[1][0]]
    assert (min(xs), min(ys), max(xs), max(ys)) == (0.0, 0.0, 2.0, 2.0)
    ap = out["apart"]
    assert ap["n_parts"] == 2 and abs(ap["area"] - 2.0) < 1e-9


def test_knn_table_join_exact_both_branches(spark):
    """knn_table_join (distributed kNN join, no driver query list) returns
    the EXACT k nearest for every left: dense-cluster lefts complete via
    the ring-candidate branch; isolated lefts (no ring neighbors) must go
    through the broadcast fallback and still be exact."""
    import numpy as np
    from laji_pygeoapi_spark.kernels import cells as C
    from laji_pygeoapi_spark.operators import spatial as SP
    rng = np.random.RandomState(3)
    dense = [(int(i), float(24.9 + rng.uniform(-0.05, 0.05)),
              float(60.2 + rng.uniform(-0.05, 0.05))) for i in range(200)]
    sparse = [(1000, 28.5, 68.5), (1001, 20.5, 69.5)]
    all_pts = dense + sparse
    pts = spark.createDataFrame(all_pts, "pid long, lon double, lat double")
    lefts = (pts.selectExpr("pid as query_id", "lon", "lat")
                .filter("query_id % 7 = 0 or query_id >= 1000"))
    out = SP.knn_table_join(lefts, pts, k=4, res=6, ring=1,
                            right_id="pid", exclude_self=True)
    rows = out.collect()
    assert out._knn_metrics["n_fallback"] >= 2  # the two isolated lefts
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["rank"], r["pid"]))
    ids = np.array([p[0] for p in all_pts])
    lons = np.array([p[1] for p in all_pts])
    lats = np.array([p[2] for p in all_pts])
    n_checked = 0
    for qid, qlon, qlat in all_pts:
        if not (qid % 7 == 0 or qid >= 1000):
            continue
        d = C.haversine_m(qlon, qlat, lons, lats)
        order = sorted((float(d[j]), int(ids[j])) for j in range(len(ids))
                       if ids[j] != qid)
        expect = [pid for _dist, pid in order[:4]]
        mine = [pid for _rank, pid in sorted(got[qid])]
        assert mine == expect, (qid, mine, expect)
        n_checked += 1
    assert n_checked == len(got)


def test_knn_table_join_autoring_bounds_fallback(spark):
    """Round-4 verdict #3 / ADVICE: with res=None/ring=None the
    density-derived sizer must coarsen the cell and widen the ring so the
    exact-BNL fallback stays a small fraction of lefts on a SPARSE right
    side (fixed res/ring=1 sent ~all lefts through it), and the result
    stays exact."""
    import numpy as np
    from laji_pygeoapi_spark.kernels import cells as C
    from laji_pygeoapi_spark.operators import spatial as SP
    rng = np.random.RandomState(11)
    # sparse uniform scatter: at the default res most ring-1 covers are empty
    pts_rows = [(int(i), float(rng.uniform(20.0, 30.0)),
                 float(rng.uniform(60.0, 68.0))) for i in range(400)]
    pts = spark.createDataFrame(pts_rows, "pid long, lon double, lat double")
    lefts = pts.selectExpr("pid as query_id", "lon", "lat").filter("pid % 5 = 0")
    out = SP.knn_table_join(lefts, pts, k=3, res=None, ring=None,
                            right_id="pid", exclude_self=True)
    m = out._knn_metrics
    assert m["res"] < SP.DEFAULT_HEX_RES, "sparse right side must coarsen res"
    assert m["ring"] > 1, "sparse right side must auto-size beyond ring 1"
    assert m["n_fallback"] / m["n_left"] < 0.05, m
    # exactness spot-check against the numpy full rank
    rows = out.collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["rank"], r["pid"]))
    ids = np.array([p[0] for p in pts_rows])
    lons = np.array([p[1] for p in pts_rows])
    lats = np.array([p[2] for p in pts_rows])
    for qid, qlon, qlat in pts_rows[:50]:
        if qid % 5:
            continue
        d = C.haversine_m(qlon, qlat, lons, lats)
        order = sorted((float(d[j]), int(ids[j])) for j in range(len(ids))
                       if ids[j] != qid)
        expect = [pid for _dist, pid in order[:3]]
        assert [pid for _rk, pid in sorted(got[qid])] == expect, qid
    release_caches(out)


def test_knn_table_join_fallback_cap_raises(spark):
    """Above max_fallback_rows the join must refuse to broadcast an
    unbounded left set into the nested-loop scan (round-4 ADVICE)."""
    import numpy as np
    import pytest
    from laji_pygeoapi_spark.operators import spatial as SP
    rng = np.random.RandomState(5)
    pts_rows = [(int(i), float(rng.uniform(20.0, 30.0)),
                 float(rng.uniform(60.0, 68.0))) for i in range(300)]
    pts = spark.createDataFrame(pts_rows, "pid long, lon double, lat double")
    lefts = pts.selectExpr("pid as query_id", "lon", "lat")
    with pytest.raises(ValueError, match="nested-loop"):
        SP.knn_table_join(lefts, pts, k=3, res=7, ring=1,
                          right_id="pid", exclude_self=True,
                          max_fallback_rows=10)


def test_knn_table_join_empty_right_side(spark):
    """Auto-sizing on an empty right table must return an empty result
    with the join schema, not TypeError on NULL bbox stats (round-5
    review)."""
    import pandas as pd
    lefts = spark.createDataFrame(pd.DataFrame(
        [{"qid": 1, "lon": 24.9, "lat": 60.2}]))
    empty_right = spark.createDataFrame(
        [], schema="pid bigint, lon double, lat double")
    out = SP.knn_table_join(lefts, empty_right, k=3, res=None, ring=None,
                            left_id="qid", right_id="pid")
    assert out.count() == 0
    assert set(out.columns) == {"qid", "pid", "dist_m", "rank"}


def test_compact_cells_merges_sparse_regions(spark):
    from laji_pygeoapi_spark.plans.ingest import compact_cells
    imgs = SP.with_cells(fixtures.images_df(spark, 2000, with_bytes=False),
                         hex_resolutions=(3, 5, 6, 7))
    out = compact_cells(imgs, base_res=3, fine_res=6,
                        sparse_threshold=50).cache()
    assert out.count() == 2000  # row-preserving
    res_counts = {r["cell_res"]: r["count"]
                  for r in out.groupBy("cell_res").count().collect()}
    assert res_counts.get(3, 0) > 0  # sparse wilderness merged up
    assert res_counts.get(6, 0) > 0  # dense hotspot keeps fine cells
    # invariant vs the split: every row whose parent is sparse is coarse
    bad = (out.join(out.groupBy("cell_r3").agg(F.count(F.lit(1)).alias("n")),
                    "cell_r3")
              .filter((F.col("n") < 50) & (F.col("cell_res") != 3)).count())
    assert bad == 0
    out.unpersist()

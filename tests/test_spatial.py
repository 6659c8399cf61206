"""Spatial layer: cell encoder parity, PIP vs a pure-Python oracle,
kNN vs brute force, raster↔vector round-trip."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geodiff_spark.spatial.cells import (
    cell_expr,
    cell_pandas_udf,
    cell_udf,
    decode_np,
    encode_np,
    kring_explode,
    kring_np,
    kring_udf,
    parent_np,
    parent_pandas_udf,
    parent_udf,
)
from geodiff_spark.spatial.knn import knn_join
from geodiff_spark.spatial.pip import pip_join, pip_udf
from geodiff_spark.spatial.tiles import (
    rasterize,
    rects_to_rings,
    vector_to_raster,
    vectorize,
)


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(11)
    n = 3000
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lat": rng.uniform(-85, 85, n),
            "lon": rng.uniform(-179, 179, n),
        }
    )
    df = spark.createDataFrame(pdf).cache()
    df.count()
    return df, pdf


def test_udf_expr_parity(spark, pts):
    """pandas-UDF kernel == JVM expression, per row (cell_udf itself is
    the JVM expression since r06 — the numpy kernel stays covered via
    cell_pandas_udf)."""
    df, _ = pts
    res = 9
    out = df.select(
        cell_pandas_udf(F.col("lat"), F.col("lon"), res).alias("a"),
        cell_expr(F.col("lat"), F.col("lon"), res).alias("b"),
        cell_udf(F.col("lat"), F.col("lon"), res).alias("c"),
    )
    assert out.filter(
        (F.col("a") != F.col("b")) | (F.col("a") != F.col("c"))
    ).count() == 0


def test_parent_udf(spark, pts):
    df, pdf = pts
    out = df.select(
        "pid",
        parent_udf(cell_udf(F.col("lat"), F.col("lon"), 10), 4).alias("p"),
        parent_pandas_udf(cell_udf(F.col("lat"), F.col("lon"), 10), 4).alias("pp"),
    ).toPandas()
    expected = parent_np(encode_np(pdf["lat"].values, pdf["lon"].values, 10), 4)
    got = out.sort_values("pid")["p"].to_numpy()
    assert (got == expected).all()
    assert (out.sort_values("pid")["pp"].to_numpy() == expected).all()


def test_parent_udf_rejects_finer_parent_keeps_nulls(spark):
    """A parent_res finer than the cell raises (as parent_np does)
    instead of returning masked-shift garbage; null cells stay null."""
    cell = int(encode_np(np.array([10.0]), np.array([20.0]), 4)[0])
    df = spark.createDataFrame([(cell,), (None,)], "c long")
    nulls = df.filter(F.col("c").isNull()).select(parent_udf(F.col("c"), 6).alias("p"))
    assert [r["p"] for r in nulls.collect()] == [None]
    assert [r["p"] for r in df.select(parent_udf(F.col("c"), 4).alias("p")).collect()] == [cell, None]
    with pytest.raises(Exception, match="exceeds the cell's resolution"):
        df.select(parent_udf(F.col("c"), 6)).collect()


@pytest.mark.parametrize("res,k", [(3, 2), (2, 3)])
def test_kring_explode_matches_kring_udf_on_boundary_cells(spark, res, k):
    """Same cell set per row as explode(array_distinct(kring_udf)) at the
    pole rows (y=0, y=n-1) and the longitude seam (x=0, x=n-1); (2, 3)
    has 2k+1 > 2^res, where the ring covers the whole longitude axis."""
    n = 1 << res
    xy = [(0, 0), (n - 1, 0), (0, n - 1), (n - 1, n - 1), (0, n // 2),
          (n - 1, n // 2), (n // 2, 0), (n // 2, n - 1)]
    x, y = (np.array(v, dtype=np.float64) for v in zip(*xy))
    cells = encode_np((y + 0.5) / n * 180.0 - 90.0, (x + 0.5) / n * 360.0 - 180.0, res)
    df = spark.createDataFrame([(i, int(c)) for i, c in enumerate(cells)], "qid long, c long")
    got = kring_explode(df, "c", k, res).select("qid", "cell").collect()
    want = df.select(
        "qid", F.explode(F.array_distinct(kring_udf(F.col("c"), k))).alias("cell")
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def _pip_oracle(px, py, ring):
    """Independent scalar even-odd implementation."""
    inside = False
    m = len(ring)
    for i in range(m):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % m]
        if (y1 > py) != (y2 > py):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            if px < xint:
                inside = not inside
    return inside


def test_pip_udf_vs_oracle(spark):
    rng = np.random.default_rng(3)
    # a star-ish concave polygon
    ring = [(-10.0, -10.0), (0.0, -3.0), (10.0, -10.0), (3.0, 0.0),
            (10.0, 10.0), (0.0, 3.0), (-10.0, 10.0), (-3.0, 0.0)]
    n = 2000
    px = rng.uniform(-12, 12, n)
    py = rng.uniform(-12, 12, n)
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(n), "lon": px, "lat": py})
    ).withColumn(
        "ring",
        F.array(
            *[
                F.struct(F.lit(x).alias("lon"), F.lit(y).alias("lat"))
                for x, y in ring
            ]
        ),
    )
    got = {
        r["pid"]
        for r in df.filter(pip_udf(F.col("lat"), F.col("lon"), F.col("ring")))
        .select("pid")
        .collect()
    }
    expected = {i for i in range(n) if _pip_oracle(px[i], py[i], ring)}
    assert got == expected


def test_pip_join(spark, pts):
    df, pdf = pts
    polys = spark.createDataFrame(
        [(1, -10.0, -10.0, 10.0, 10.0), (2, 100.0, 20.0, 140.0, 60.0)],
        "tile_id long, x0 double, y0 double, x1 double, y1 double",
    )
    polys = polys.withColumn(
        "ring",
        F.array(
            F.struct(F.col("x0").alias("lon"), F.col("y0").alias("lat")),
            F.struct(F.col("x1").alias("lon"), F.col("y0").alias("lat")),
            F.struct(F.col("x1").alias("lon"), F.col("y1").alias("lat")),
            F.struct(F.col("x0").alias("lon"), F.col("y1").alias("lat")),
        ),
    ).select("tile_id", "ring")
    got = pip_join(df, polys, res=6).select("pid", "tile_id").collect()
    got_pairs = {(r["pid"], r["tile_id"]) for r in got}
    exp = set()
    for _, row in pdf.iterrows():
        if -10 < row.lon < 10 and -10 < row.lat < 10:
            exp.add((row.pid, 1))
        if 100 < row.lon < 140 and 20 < row.lat < 60:
            exp.add((row.pid, 2))
    assert got_pairs == exp


def test_knn_vs_bruteforce(spark, pts):
    df, pdf = pts
    queries = spark.createDataFrame(
        [(0, 10.0, 10.0), (1, -50.0, 120.0), (2, 0.1, -0.1)],
        "qid long, qlat double, qlon double",
    )
    k = 5
    # low res + wide ring so the true neighbors are inside the searched area
    got = knn_join(
        df, queries, k=k, res=3, ring=2, point_id_col="pid"
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["pid"], r["dist_sq"]))
    for qid, qlat, qlon in [(0, 10.0, 10.0), (1, -50.0, 120.0), (2, 0.1, -0.1)]:
        d = (pdf["lat"] - qlat) ** 2 + (pdf["lon"] - qlon) ** 2
        order = sorted(zip(d, pdf["pid"]))[:k]
        exp = [pid for _, pid in order]
        gotq = [pid for _, pid, _ in sorted(by_q[qid])]
        assert gotq == exp, f"qid {qid}"


def test_raster_vector_roundtrip(spark, pts):
    df, _ = pts
    res, tile_res = 8, 4
    raster = rasterize(df, res=res, tile_res=tile_res).cache()
    n_cells = raster.count()
    assert n_cells > 0
    feats = vectorize(raster, min_value=1.0)
    back = vector_to_raster(feats, res=res, tile_res=tile_res)
    # vector cover must reproduce exactly the occupied pixel set
    a = {r["cell"] for r in raster.select("cell").collect()}
    b = {r["cell"] for r in back.select("cell").collect()}
    assert a == b
    # and rect count is a compression (merged runs), not 1:1 pixels
    assert feats.count() <= n_cells


def test_vector_features_pip_consistent(spark, pts):
    """Points rasterized into a tile must fall inside one of that tile's
    vector rectangles (interior points; boundary excluded by jitter)."""
    df, pdf = pts
    res, tile_res = 8, 4
    raster = rasterize(df, res=res, tile_res=tile_res)
    rings = rects_to_rings(vectorize(raster)).select("tile", "feature_id", "ring")
    joined = pip_join(df, rings, res=tile_res)
    # every point is inside ≥1 rectangle (its own pixel's rect) unless it
    # sits exactly on a rect edge — with random floats that's measure zero
    assert joined.select("pid").distinct().count() == df.count()


def test_knn_exact_adaptive(spark, pts):
    """knn_join_exact == brute force for queries in dense AND sparse
    regions (fixed-ring would miss the sparse ones)."""
    from geodiff_spark.spatial.knn import knn_join_exact

    df, pdf = pts
    queries = spark.createDataFrame(
        [(0, 10.0, 10.0), (1, 84.9, 178.9), (2, -84.9, -178.9)],
        "qid long, qlat double, qlon double",
    )
    k = 7
    got = knn_join_exact(
        df, queries, k=k, res=7, max_ring=4, point_id_col="pid"
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["pid"]))
    for qid, qlat, qlon in [(0, 10.0, 10.0), (1, 84.9, 178.9), (2, -84.9, -178.9)]:
        d = (pdf["lat"] - qlat) ** 2 + (pdf["lon"] - qlon) ** 2
        exp = [pid for _, pid in sorted(zip(d, pdf["pid"]))[:k]]
        assert [pid for _, pid in sorted(by_q[qid])] == exp, f"qid {qid}"

"""spatial_serve: read-only spatial requests against the current snapshot.

The snapshot is the pages table's (url, lat, lon) with a fixed share of
the pages moved into a few hot spots derived from the seed. Requests
rotate through three kinds:

  pip    rasterize -> vectorize -> rects_to_rings over the snapshot (the
         dense raster cells become rectangle polygons), then pip_join of
         every point against them; per-feature match counts are returned.
  knn    knn_join_exact (k-ring expansion) for the run's batch of query
         points, half at the hot spots, half uniform; the top-k rows are
         returned.
  rollup pyramid_rollup of the snapshot; the coarse levels are returned.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geodiff_spark.sources.pages import pages_snapshot
from geodiff_spark.spatial.cells import cell_expr, pyramid_rollup, pyramid_sql
from geodiff_spark.spatial.knn import knn_join_exact
from geodiff_spark.spatial.pip import pip_join
from geodiff_spark.spatial.tiles import rasterize, rects_to_rings, vectorize

import harness

N_POINTS = 40_000
HOT_SHARE = 0.3          # share of pages moved into the hot spots
N_HOT = 4                # hot spots
HOT_HALF_WIDTH = 0.5     # degrees
RASTER_RES, TILE_RES, MIN_PIXEL = 9, 4, 8
PIP_RES = 7
KNN_K, KNN_RES, N_QUERIES = 10, 4, 100
ROLLUP_FINE, ROLLUP_LEVELS, ROLLUP_RETURN = 10, (2, 4, 6, 8, 10), 6
KINDS = ("pip", "knn", "rollup")

LAYERS = {
    "spatial.pip.busy_s": "s",
    "spatial.pip.candidates_per_match": "ratio",
    "spatial.pip.python_rows": "count",
    "spatial.knn.busy_s": "s",
    "spatial.knn.candidates_per_result": "ratio",
    "spatial.tiles.busy_s": "s",
    "spatial.cells.encode_s": "s",
}


def sizes() -> dict:
    return {"points": N_POINTS, "hot_share": HOT_SHARE, "hot_spots": N_HOT,
            "raster_res": RASTER_RES, "tile_res": TILE_RES, "pip_res": PIP_RES,
            "knn": {"k": KNN_K, "res": KNN_RES, "queries": N_QUERIES},
            "rollup": {"fine_res": ROLLUP_FINE, "levels": list(ROLLUP_LEVELS)}}


class SpatialServe:
    name = "spatial_serve"
    round_len = len(KINDS)  # stop after whole pip/knn/rollup rounds
    extra_ops = 0  # attempted ops beyond the timed loop

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.path = os.path.join(ctx.work, "data", "points")
        rng = np.random.default_rng(ctx.seed)
        self.hot = np.column_stack([rng.uniform(-60, 60, N_HOT), rng.uniform(-170, 170, N_HOT)])
        self.queries = self._queries(rng)
        self.last: dict = {}  # latest result of each request kind, for the checks

    def _queries(self, rng) -> pd.DataFrame:
        half = N_QUERIES // 2
        spot = self.hot[rng.integers(0, N_HOT, half)]
        jitter = rng.uniform(-HOT_HALF_WIDTH, HOT_HALF_WIDTH, (half, 2))
        hot = spot + jitter
        cold = np.column_stack([rng.uniform(-80, 80, N_QUERIES - half),
                                rng.uniform(-180, 180, N_QUERIES - half)])
        latlon = np.vstack([hot, cold])
        return pd.DataFrame({"qid": np.arange(N_QUERIES, dtype=np.int64),
                             "qlat": latlon[:, 0], "qlon": latlon[:, 1]})

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        pages = pages_snapshot(self.spark, N_POINTS, seed=self.ctx.seed,
                               partitions=2 * self.ctx.cores).select("url", "lat", "lon")
        h = F.xxhash64("url", F.lit(self.ctx.seed))
        moved = F.pmod(h, F.lit(1000)) < int(HOT_SHARE * 1000)
        spot = F.pmod(F.shiftright(h, 10), F.lit(N_HOT))
        off_lat = (F.pmod(F.shiftright(h, 20), F.lit(10_000)) / 10_000 * 2 - 1) * HOT_HALF_WIDTH
        off_lon = (F.pmod(F.shiftright(h, 34), F.lit(10_000)) / 10_000 * 2 - 1) * HOT_HALF_WIDTH
        hot_lat = F.element_at(F.array(*[F.lit(float(v)) for v in self.hot[:, 0]]), (spot + 1).cast("int"))
        hot_lon = F.element_at(F.array(*[F.lit(float(v)) for v in self.hot[:, 1]]), (spot + 1).cast("int"))
        pts = pages.select(
            "url",
            F.when(moved, hot_lat + off_lat).otherwise(F.col("lat")).alias("lat"),
            F.when(moved, hot_lon + off_lon).otherwise(F.col("lon")).alias("lon"),
        )
        pts.write.mode("overwrite").parquet(self.path)
        self.rows_per_op = self.spark.read.parquet(self.path).count()

    def working_set_bytes(self) -> int:
        return harness.dir_bytes(self.path)

    # -- one op ----------------------------------------------------------
    def op(self, i: int, tracer=None) -> str:
        return self.request(KINDS[i % len(KINDS)], i, tracer)

    def request(self, kind: str, i: int, tracer=None) -> str:
        points = self.spark.read.parquet(self.path)
        getattr(self, f"_{kind}")(i, points, tracer)
        return kind

    def _pip(self, i, points, tr):
        if tr is None:
            rings = rects_to_rings(vectorize(rasterize(points, res=RASTER_RES, tile_res=TILE_RES),
                                             min_value=MIN_PIXEL))
            pts = points.withColumn("_cell", cell_expr(F.col("lat"), F.col("lon"), PIP_RES))
            hits = pip_join(pts, rings, res=PIP_RES, point_cell_col="_cell")
            counts = hits.groupBy("tile", "feature_id").count().collect()
            feats = rings.select("tile", "feature_id", "min_lon", "min_lat",
                                 "max_lon", "max_lat").collect()
        else:
            with tr.span("op", i):
                with tr.span("spatial.tiles", i):
                    rings, _, _ = tr.materialize(rects_to_rings(vectorize(
                        rasterize(points, res=RASTER_RES, tile_res=TILE_RES),
                        min_value=MIN_PIXEL)))
                with tr.span("spatial.cells.encode", i):
                    pts, _, _ = tr.materialize(points.withColumn(
                        "_cell", cell_expr(F.col("lat"), F.col("lon"), PIP_RES)))
                with tr.span("spatial.pip", i):
                    hits, matches, st = tr.materialize(
                        pip_join(pts, rings, res=PIP_RES, point_cell_col="_cell"))
                    counts = hits.groupBy("tile", "feature_id").count().collect()
                feats = rings.select("tile", "feature_id", "min_lon", "min_lat",
                                     "max_lon", "max_lat").collect()
            # the refine UDF sees every cell-join candidate once, plus
            # one row per polygon in the cover UDF
            tr.add(i, "spatial.pip.python_rows", st["python_rows"])
            tr.add(i, "spatial.pip.candidates_per_match",
                   st["inner_join_rows"] / max(matches, 1))
        self.last["pip"] = (counts, feats)

    def _knn(self, i, points, tr):
        q = self.spark.createDataFrame(self.queries)
        args = dict(k=KNN_K, res=KNN_RES, point_id_col="url")
        if tr is None:
            res = knn_join_exact(points, q, **args).collect()
        else:
            with tr.span("op", i):
                with tr.span("spatial.knn", i):
                    df, n, st = tr.materialize(knn_join_exact(points, q, **args))
                    res = df.collect()
            tr.add(i, "spatial.knn.candidates_per_result", st["inner_join_rows"] / max(n, 1))
        self.last["knn"] = res

    def _rollup(self, i, points, tr):
        def rollup():
            return pyramid_rollup(points, F.col("lat"), F.col("lon"), ROLLUP_FINE, ROLLUP_LEVELS)

        if tr is None:
            res = rollup().filter(F.col("level") <= ROLLUP_RETURN).collect()
        else:
            with tr.span("op", i):
                with tr.span("spatial.tiles", i):
                    df, _, _ = tr.materialize(rollup())
                    res = df.filter(F.col("level") <= ROLLUP_RETURN).collect()
        self.last["rollup"] = res

    def layer_metrics(self, tr, by_kind: dict[str, list[int]]) -> dict[str, float]:
        by_kind = {k: by_kind.get(k, []) for k in KINDS}
        return {
            "spatial.pip.busy_s": harness.med(tr.per_op("spatial.pip"), by_kind["pip"]),
            "spatial.pip.candidates_per_match":
                harness.med_count(tr, "spatial.pip.candidates_per_match", by_kind["pip"]),
            "spatial.pip.python_rows": harness.med_count(tr, "spatial.pip.python_rows", by_kind["pip"]),
            "spatial.knn.busy_s": harness.med(tr.per_op("spatial.knn"), by_kind["knn"]),
            "spatial.knn.candidates_per_result":
                harness.med_count(tr, "spatial.knn.candidates_per_result", by_kind["knn"]),
            # per request: raster->vector on pip requests, rollup on rollup requests
            "spatial.tiles.busy_s": harness.med(tr.per_op("spatial.tiles"),
                                                by_kind["pip"] + by_kind["rollup"]),
            "spatial.cells.encode_s": harness.med(tr.per_op("spatial.cells.encode"), by_kind["pip"]),
        }

    # -- correctness: DuckDB oracles ---------------------------------------
    def checks(self) -> list[tuple[str, bool, str]]:
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW pts AS SELECT * FROM read_parquet('{self.path}/*.parquet')")
        out = [harness.guard("pip_matches_duckdb_bbox", lambda: self._check_pip(con)),
               harness.guard("knn_matches_duckdb_bruteforce", lambda: self._check_knn(con)),
               harness.guard("rollup_matches_duckdb", lambda: self._check_rollup(con))]
        con.close()
        return out

    def _check_pip(self, con):
        counts, feats = self.last["pip"]
        con.register("feats", pd.DataFrame([r.asDict() for r in feats]))
        want = con.execute(
            "SELECT f.tile, f.feature_id, COUNT(*) AS n FROM feats f JOIN pts p"
            " ON p.lon >= f.min_lon AND p.lon < f.max_lon"
            " AND p.lat >= f.min_lat AND p.lat < f.max_lat GROUP BY 1, 2").fetchall()
        got = {(r["tile"], r["feature_id"]): r["count"] for r in counts}
        want = {(t, f): n for t, f, n in want}
        bad = {k for k in set(got) | set(want) if got.get(k) != want.get(k)}
        return not bad, f"{len(feats)} features, {sum(want.values())} matches, {len(bad)} differ"

    def _check_knn(self, con):
        res = self.last["knn"]
        con.register("q", self.queries)
        want = con.execute(
            "SELECT qid, url, rn FROM (SELECT q.qid, p.url, ROW_NUMBER() OVER ("
            " PARTITION BY q.qid ORDER BY (p.lat - q.qlat) * (p.lat - q.qlat)"
            " + (p.lon - q.qlon) * (p.lon - q.qlon), p.url) AS rn"
            " FROM q CROSS JOIN pts p) WHERE rn <= ?", [KNN_K]).fetchall()
        got = {(r["qid"], r["url"], r["rank"]) for r in res}
        want = set(want)
        return got == want, f"{len(got)} rows, {len(got ^ want)} differ"

    def _check_rollup(self, con):
        sql = pyramid_sql("pts", "lat", "lon", ROLLUP_FINE, ROLLUP_LEVELS)
        want = con.execute(f"SELECT * FROM ({sql}) WHERE level <= ?", [ROLLUP_RETURN]).fetchall()
        got = {(r["level"], r["tile"], r["n"]) for r in self.last["rollup"]}
        want = set(want)
        return got == want, f"{len(got)} tiles, {len(got ^ want)} differ"

    def probes(self) -> list[tuple[str, bool, str]]:
        return []  # no known defect on this workload's path

    def failed_ops(self, loop, failed_checks) -> int:
        kinds = {n.split("_")[0] for n, _, _ in failed_checks}
        return sum(1 for k in loop.kinds if k in kinds)

    def extra_metrics(self, loop) -> dict:
        return {}

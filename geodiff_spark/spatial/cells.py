"""Hierarchical spatial cell index (H3/S2-style, built from scratch).

Not a port of any library: a Morton (Z-order) quadtree over the WGS84
lon/lat rectangle, chosen over hex grids because parent/child/k-ring
are pure bit arithmetic — exactly what vectorizes in numpy and compiles
to whole-stage-codegen'd JVM expressions.

Cell id layout (64-bit signed, always positive):

    bit 60        : mode flag (1 ⇒ valid cell; 0 ⇒ never a cell id)
    bits 52..56   : resolution r ∈ [0, 26]
    bits 0..51    : morton(x, y) — interleaved 26-bit grid coords
                    (x even bits, y odd bits)

Grid at resolution r: 2^r × 2^r over lon ∈ [-180, 180), lat ∈ [-90, 90);
x = floor((lon+180)/360 · 2^r) clamped to [0, 2^r-1], y likewise from
lat. Children of a cell at r are the 4 ids at r+1 sharing the morton
prefix; parent = truncate. k-ring = Chebyshev-≤k neighborhood with
longitude wraparound and latitude clamping.

Z-order keeps spatially close cells numerically close, so sorting /
range-partitioning by cell id co-locates neighborhoods — the property
the diff/join layer relies on for per-cell co-partitioned joins
(SURVEY.md §7 Phase 4; analogous role to geodiff's per-table grouping,
changesetwriter.cpp:28-37).

Three mutually-consistent implementations (tested to agree bit-exactly):
  * numpy kernels (`*_np`)     — the pandas-UDF path (north-rule mandate)
  * Column expressions (`*_expr`) — JVM whole-stage-codegen path
  * DuckDB SQL text (`*_sql`)  — the oracle/verification path
Float parity holds because all three use the same f64 operation order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_RES = 26
MODE_BIT = 1 << 60
RES_SHIFT = 52

_M1 = 0x5555555555555555
_M2 = 0x3333333333333333
_M4 = 0x0F0F0F0F0F0F0F0F
_M8 = 0x00FF00FF00FF00FF
_M16 = 0x0000FFFF0000FFFF


# --------------------------------------------------------------------------
# numpy kernels
# --------------------------------------------------------------------------

def _spread_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    v = (v | (v << 16)) & _M16
    v = (v | (v << 8)) & _M8
    v = (v | (v << 4)) & _M4
    v = (v | (v << 2)) & _M2
    v = (v | (v << 1)) & _M1
    return v


def _compact_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64) & _M1
    v = (v | (v >> 1)) & _M2
    v = (v | (v >> 2)) & _M4
    v = (v | (v >> 4)) & _M8
    v = (v | (v >> 8)) & _M16
    v = (v | (v >> 16)) & 0x00000000FFFFFFFF
    return v


def xy_np(lat: np.ndarray, lon: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    n = float(1 << res)
    x = np.floor((lon + 180.0) / 360.0 * n)
    y = np.floor((lat + 90.0) / 180.0 * n)
    hi = (1 << res) - 1
    x = np.clip(x, 0, hi).astype(np.int64)
    y = np.clip(y, 0, hi).astype(np.int64)
    return x, y


def encode_np(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution must be in [0, {MAX_RES}]")
    x, y = xy_np(lat, lon, res)
    return MODE_BIT | (np.int64(res) << RES_SHIFT) | _spread_np(x) | (_spread_np(y) << 1)


MORTON_MASK = (1 << RES_SHIFT) - 1


def decode_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (res, x, y)"""
    cell = cell.astype(np.int64)
    res = (cell >> RES_SHIFT) & 0x1F
    m = cell & MORTON_MASK  # strip mode + resolution bits
    x = _compact_np(m)
    y = _compact_np(m >> 1)
    return res, x, y


def parent_np(cell: np.ndarray, parent_res: int) -> np.ndarray:
    res, x, y = decode_np(cell)
    shift = res - parent_res
    if np.any(shift < 0):
        raise ValueError("parent_res coarser than cell resolution required")
    return (
        MODE_BIT
        | (np.int64(parent_res) << RES_SHIFT)
        | _spread_np(x >> shift)
        | (_spread_np(y >> shift) << 1)
    )


def cell_center_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """-> (lat, lon) of cell centers."""
    res, x, y = decode_np(cell)
    n = (np.int64(1) << res).astype(np.float64)
    lon = (x.astype(np.float64) + 0.5) / n * 360.0 - 180.0
    lat = (y.astype(np.float64) + 0.5) / n * 180.0 - 90.0
    return lat, lon


def kring_np(cell: np.ndarray, k: int) -> np.ndarray:
    """(n,) cells -> (n, (2k+1)^2) neighbor matrix. Longitude wraps,
    latitude clamps (duplicate ids possible at the poles — callers
    dedupe via array_distinct / set semantics)."""
    res, x, y = decode_np(cell)
    n_side = np.int64(1) << res
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx = np.repeat(offs, 2 * k + 1)
    dy = np.tile(offs, 2 * k + 1)
    nx = (x[:, None] + dx[None, :]) % n_side[:, None]  # wrap
    ny = np.clip(y[:, None] + dy[None, :], 0, (n_side - 1)[:, None])  # clamp
    return (
        MODE_BIT
        | (res[:, None] << RES_SHIFT)
        | _spread_np(nx)
        | (_spread_np(ny) << 1)
    )


# --------------------------------------------------------------------------
# pandas UDFs (Arrow-vectorized; the north-rule kernel surface)
# --------------------------------------------------------------------------

def cell_pandas_udf(lat: Column, lon: Column, res: int) -> Column:
    """The Arrow-vectorized numpy encode (kept for three-way parity
    tests and as the kernel reference; hot paths use the bit-identical
    JVM expression below — guide §4.1: built-ins over the Python
    boundary)."""

    @F.pandas_udf(T.LongType())
    def _enc(la: pd.Series, lo: pd.Series) -> pd.Series:
        return pd.Series(encode_np(la.to_numpy(np.float64), lo.to_numpy(np.float64), res))

    return _enc(lat, lon)


def cell_udf(lat: Column, lon: Column, res: int) -> Column:
    """Cell encode for hot query paths. Since round 6 this returns the
    whole-stage-codegen JVM expression (bit-identical to the numpy
    kernel — tests/test_spatial.py asserts all three implementations
    agree), eliminating the ArrowEvalPython hop the pandas UDF paid per
    batch. The vectorized kernel remains as :func:`cell_pandas_udf`."""
    return cell_expr(lat, lon, res)


def parent_pandas_udf(cell: Column, parent_res: int) -> Column:
    """Arrow-vectorized parent kernel (parity-test reference)."""

    @F.pandas_udf(T.LongType())
    def _par(c: pd.Series) -> pd.Series:
        # null-safe: masked rows (e.g. Undefined changeset values) pass
        # through as nulls instead of decoding garbage
        valid = c.notna()
        vals = c.fillna(MODE_BIT | (MAX_RES << RES_SHIFT)).to_numpy(np.int64)
        out = pd.Series(parent_np(vals, parent_res), dtype="Int64")
        out[~valid.to_numpy()] = None
        return out

    return _par(cell)


def parent_udf(cell: Column, parent_res: int) -> Column:
    """Parent rollup for hot query paths — JVM expression since round 6
    (bit-identical to :func:`parent_np`; ArrowEvalPython removed). No
    decode is needed: with m = morton bits, spread(x >> s) ==
    (spread(x) >> 2s) & M1 (the pyramid_rollup identity), so the parent
    is three shifts + masks on the raw cell id, with the per-row
    resolution read from the header bits. Null inputs stay null (the
    expression propagates); a cell coarser than parent_res raises, as
    with the numpy kernel."""
    res_c = F.shiftright(cell, RES_SHIFT).bitwiseAND(F.lit(0x1F))
    # per-row shift amount -> the SQL shiftright builtin (the PySpark
    # wrapper only takes a literal int)
    shift2 = ((res_c - F.lit(parent_res)) * 2).cast("int")
    m = cell.bitwiseAND(F.lit(MORTON_MASK))
    sx = F.call_function(
        "shiftright", m.bitwiseAND(F.lit(_M1)), shift2
    ).bitwiseAND(F.lit(_M1))
    sy = F.call_function(
        "shiftright", F.shiftright(m, 1).bitwiseAND(F.lit(_M1)), shift2
    ).bitwiseAND(F.lit(_M1))
    parent = (
        F.lit(MODE_BIT | (parent_res << RES_SHIFT))
        .bitwiseOR(sx)
        .bitwiseOR(F.shiftleft(sy, 1))
    )
    return F.when(
        res_c < parent_res,
        F.raise_error(F.lit(f"parent_res {parent_res} exceeds the cell's resolution")),
    ).otherwise(parent)


def kring_udf(cell: Column, k: int) -> Column:
    """array<long> of the (2k+1)^2 k-ring (may contain duplicates at
    lat clamp boundaries; wrap in array_distinct if set semantics
    needed)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _kr(c: pd.Series) -> pd.Series:
        m = kring_np(c.to_numpy(np.int64), k)
        return pd.Series(list(m))

    return _kr(cell)


# --------------------------------------------------------------------------
# JVM Column expressions (whole-stage codegen; bit-identical to numpy)
# --------------------------------------------------------------------------

_SPREAD_STAGES = ((16, _M16), (8, _M8), (4, _M4), (2, _M2), (1, _M1))


def _spread_expr(v: Column, bits: int = 32) -> Column:
    """Morton bit-spread of a ``bits``-bit value. Each stage references
    its input twice, so the Column tree holds 2^stages copies of ``v``
    — enough to blow Janino's 64 KB codegen limit once the clamped
    float→int encode is inlined at every leaf. A stage with shift s is
    the identity whenever the running value is < 2^s (the shifted copy
    lands entirely under the mask's cleared bits), so for res-bounded
    inputs we keep only stages with s < bits: res 4 shrinks the tree
    32× and keeps the whole plan inside whole-stage codegen."""
    for s, mask in _SPREAD_STAGES:
        if s < bits:
            v = (v.bitwiseOR(F.shiftleft(v, s))).bitwiseAND(F.lit(mask))
    return v


def xy_expr(lat: Column, lon: Column, res: int) -> tuple[Column, Column]:
    n = float(1 << res)
    hi = F.lit((1 << res) - 1).cast("long")
    lo = F.lit(0).cast("long")
    x = F.least(F.greatest(F.floor((lon + 180.0) / 360.0 * n).cast("long"), lo), hi)
    y = F.least(F.greatest(F.floor((lat + 90.0) / 180.0 * n).cast("long"), lo), hi)
    return x, y


def cell_expr(lat: Column, lon: Column, res: int) -> Column:
    x, y = xy_expr(lat, lon, res)
    return (
        F.lit(MODE_BIT | (res << RES_SHIFT))
        .bitwiseOR(_spread_expr(x, res))
        .bitwiseOR(F.shiftleft(_spread_expr(y, res), 1))
    )


def _compact_expr(v: Column, bits: int = 32) -> Column:
    """JVM twin of :func:`_compact_np` (Morton bit-gather). Same
    identity-stage elision as _spread_expr: for inputs whose gathered
    value fits in ``bits`` bits, stages with shift >= bits are
    identities and are dropped."""
    v = v.bitwiseAND(F.lit(_M1))
    for s, mask in ((1, _M2), (2, _M4), (4, _M8), (8, _M16), (16, 0xFFFFFFFF)):
        if s < bits:
            v = (v.bitwiseOR(F.shiftright(v, s))).bitwiseAND(F.lit(mask))
    return v


def kring_explode(df, cell_col: str, k: int, res: int, out_col: str = "cell"):
    """JVM twin of ``withColumn(out, explode(array_distinct(
    kring_udf(cell, k))))`` for a STATIC, homogeneous resolution —
    the pandas k-ring was the one Python boundary in the kNN/focal
    join pipelines (guide §4.1). Emits the same (2k+1)²-bounded cell
    set per row: longitude wraps (pmod), latitude CLAMP duplicates are
    realized by dropping out-of-range dy rows instead — the clamped
    value always coincides with an in-range row's value, so the
    resulting set is identical to the clamp+array_distinct kernel.
    The double explode keeps the codegen tree O(1) in k; the grid
    coords are staged as columns so the spread trees reference cheap
    attributes. When 2k+1 > 2^res the ring wraps onto itself in
    longitude, so the whole axis is emitted once instead."""
    n = 1 << res
    dx_lo, dx_hi = (-k, k) if 2 * k + 1 <= n else (0, n - 1)
    m = F.col(cell_col).bitwiseAND(F.lit(MORTON_MASK))
    staged = df.withColumns(
        {
            "_kx": _compact_expr(m, res),
            "_ky": _compact_expr(F.shiftright(m, 1), res),
        }
    )
    head = F.lit(MODE_BIT | (res << RES_SHIFT))
    ny = F.col("_ky") + F.col("_dy")
    nx = F.pmod(F.col("_kx") + F.col("_dx"), F.lit(n))
    cell = head.bitwiseOR(_spread_expr(nx, res)).bitwiseOR(
        F.shiftleft(_spread_expr(ny, res), 1)
    )
    return (
        staged.withColumn("_dx", F.explode(F.sequence(F.lit(dx_lo), F.lit(dx_hi))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(-k), F.lit(k))))
        .filter((ny >= 0) & (ny <= n - 1))
        .withColumn(out_col, cell)
        .drop("_kx", "_ky", "_dx", "_dy")
    )


# --------------------------------------------------------------------------
# DuckDB SQL text (oracle parity)
# --------------------------------------------------------------------------

def _spread_sql(v: str, bits: int = 32) -> str:
    """SQL twin of :func:`_spread_expr` (same identity-stage elision)."""
    s = v
    for shift, mask in _SPREAD_STAGES:
        if shift < bits:
            s = f"((({s}) | (({s}) << {shift})) & {mask})"
    return s


def xy_sql(lat: str, lon: str, res: int) -> tuple[str, str]:
    n = float(1 << res)
    hi = (1 << res) - 1
    x = f"LEAST(GREATEST(CAST(FLOOR((({lon}) + 180.0) / 360.0 * {n}) AS BIGINT), 0), {hi})"
    y = f"LEAST(GREATEST(CAST(FLOOR((({lat}) + 90.0) / 180.0 * {n}) AS BIGINT), 0), {hi})"
    return x, y


def cell_sql(lat: str, lon: str, res: int) -> str:
    x, y = xy_sql(lat, lon, res)
    head = MODE_BIT | (res << RES_SHIFT)
    return f"({head} | {_spread_sql(x, res)} | ({_spread_sql(y, res)} << 1))"


# --------------------------------------------------------------------------
# tile pyramid: every zoom level in one scan
# --------------------------------------------------------------------------

def pyramid_rollup(
    df,
    lat: Column,
    lon: Column,
    fine_res: int,
    levels: tuple[int, ...],
    agg_exprs: list[Column] | None = None,
):
    """Rollup counts (plus optional extra aggregates) per tile at EVERY
    requested zoom level in a single pass: the fine x/y are computed
    once, each level's tile is a shift of the same integers (identical
    to parent_np — decode-shift-respread, never a fresh float encode),
    the (level, tile) pairs ride one posexplode, and one groupBy
    aggregates all levels together. Map-side partial aggregation means
    the shuffle carries ~sum over levels of |distinct tiles| rows, not
    |input| x |levels|.

    This is the materialized tile-pyramid build of the north star
    (raster/vector tile pyramids at 10^12 points: one scan, one
    shuffle, every zoom level)."""
    if not all(0 < l <= fine_res for l in levels):
        raise ValueError("levels must be in (0, fine_res]")
    # spread fine x/y ONCE as real columns; each level's tile is then a
    # tiny shift+mask of those columns via the identity
    #   spread(x >> s) == (spread(x) >> 2s) & M1
    # (spread puts bit i of x at position 2i, so a right shift by s in
    # x-space is a right shift by 2s in spread-space, re-masked to the
    # even bit lanes). Without this the per-level full float-encode
    # expressions blow past the JVM codegen method-size limit and the
    # whole stage falls back to interpreted eval.
    x, y = xy_expr(lat, lon, fine_res)
    base = df.select(
        _spread_expr(x, fine_res).alias("_sx"),
        _spread_expr(y, fine_res).alias("_sy"), "*",
    )
    tiles = []
    for l in sorted(levels):
        shift = fine_res - l
        head = MODE_BIT | (l << RES_SHIFT)
        tile = (
            F.lit(head)
            .bitwiseOR(F.shiftright(F.col("_sx"), 2 * shift).bitwiseAND(F.lit(_M1)))
            .bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col("_sy"), 2 * shift).bitwiseAND(F.lit(_M1)), 1
                )
            )
        )
        tiles.append(F.struct(F.lit(l).cast("long").alias("level"), tile.alias("tile")))
    exploded = base.select(F.explode(F.array(*tiles)).alias("lt"), "*")
    aggs = [F.count(F.lit(1)).alias("n")] + list(agg_exprs or [])
    return exploded.groupBy(
        F.col("lt.level").alias("level"), F.col("lt.tile").alias("tile")
    ).agg(*aggs)


def pyramid_sql(
    table: str,
    lat: str,
    lon: str,
    fine_res: int,
    levels: tuple[int, ...],
    extra_aggs: str = "",
) -> str:
    """DuckDB twin of :func:`pyramid_rollup` — same shift-respread tile
    arithmetic per level, UNION ALL across levels."""
    x, y = xy_sql(lat, lon, fine_res)
    parts = []
    for l in sorted(levels):
        shift = fine_res - l
        head = MODE_BIT | (l << RES_SHIFT)
        tile = (
            f"({head} | {_spread_sql(f'(({x}) >> {shift})')}"
            f" | ({_spread_sql(f'(({y}) >> {shift})')} << 1))"
        )
        parts.append(
            f"SELECT CAST({l} AS BIGINT) AS level, {tile} AS tile,"
            f" CAST(COUNT(*) AS BIGINT) AS n{extra_aggs}"
            f" FROM {table} GROUP BY 1, 2"
        )
    return " UNION ALL ".join(parts)


def pyramid_delta(
    changes,
    old_lat: Column,
    old_lon: Column,
    new_lat: Column,
    new_lon: Column,
    fine_res: int,
    levels: tuple[int, ...],
    op_col: str = "op",
):
    """Incremental tile-pyramid maintenance: turn a geodiff changeset
    into per-(level, tile) count deltas — the materialized pyramid is
    then updated by merging |changeset|-sized deltas instead of
    rescanning 10^12 points (the IVM shape: cost follows the CHANGE
    rate, not the corpus size).

    deletes contribute -1 at the old location, inserts +1 at the new,
    updates -1 old / +1 new (a point that did not move nets to zero in
    the aggregation and is dropped). Same spread-once/shift-per-level
    kernel as pyramid_rollup; one shuffle over ~|changes| x |levels|
    rows. Returns (level, tile, dn) with dn != 0.

    Contract on partial updates: changeset UPDATE records carry only
    CHANGED columns (wire-faithful Undefined emission, operators/
    diff.py) — a location-moving update therefore has both old and new
    coordinates present, while an update that does not touch the
    location columns has them Undefined on both sides and correctly
    contributes no delta (each arm drops rows whose coordinates are
    null). An update that changes only ONE of lat/lon must be enriched
    against the base snapshot first (the apply_table point-lookup
    join) before calling this.
    """
    minus = (
        changes.filter(F.col(op_col).isin("delete", "update"))
        .select(old_lat.alias("_lat"), old_lon.alias("_lon"), F.lit(-1).alias("_w"))
        .filter(F.col("_lat").isNotNull() & F.col("_lon").isNotNull())
    )
    plus = (
        changes.filter(F.col(op_col).isin("insert", "update"))
        .select(new_lat.alias("_lat"), new_lon.alias("_lon"), F.lit(1).alias("_w"))
        .filter(F.col("_lat").isNotNull() & F.col("_lon").isNotNull())
    )
    pts = minus.unionByName(plus)
    x, y = xy_expr(F.col("_lat"), F.col("_lon"), fine_res)
    base = pts.select(
        _spread_expr(x, fine_res).alias("_sx"),
        _spread_expr(y, fine_res).alias("_sy"), "_w",
    )
    tiles = []
    for l in sorted(levels):
        shift = fine_res - l
        head = MODE_BIT | (l << RES_SHIFT)
        tile = (
            F.lit(head)
            .bitwiseOR(F.shiftright(F.col("_sx"), 2 * shift).bitwiseAND(F.lit(_M1)))
            .bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col("_sy"), 2 * shift).bitwiseAND(F.lit(_M1)), 1
                )
            )
        )
        tiles.append(F.struct(F.lit(l).cast("long").alias("level"), tile.alias("tile")))
    return (
        base.select(F.explode(F.array(*tiles)).alias("lt"), "_w")
        .groupBy(F.col("lt.level").alias("level"), F.col("lt.tile").alias("tile"))
        .agg(F.sum("_w").cast("long").alias("dn"))
        .filter(F.col("dn") != 0)
    )


def merge_pyramid(base_pyramid, delta):
    """Apply :func:`pyramid_delta` output to a materialized pyramid:
    full-outer merge on (level, tile), n' = n + dn, empty tiles drop.
    Both sides are (level, tile)-keyed, so on a store bucketed by tile
    this is the zero-Exchange merge of sources/snapshots.py."""
    joined = base_pyramid.join(delta, ["level", "tile"], "full_outer")
    n = F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))
    return joined.select(
        "level", "tile", n.cast("long").alias("n")
    ).filter(F.col("n") > 0)

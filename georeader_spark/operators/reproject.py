"""Tile-blocked reprojection/resampling — the "physical" kernels
(SURVEY.md §2.10) on the binary-payload tile schema.

Schema: one row per (raster_id, band, tile_row, tile_col) holding a
float64 numpy tile serialized as bytes plus its window. This is the
scale representation (tile-as-row, SURVEY.md §1.3); the long schema in
raster.py is the SQL-visible twin.

The reproject pipeline is the Spark re-expression of
``read_reproject`` (/root/reference/georeader/read.py:1348-1674):

①② grid-spec planning driver-side (plans/gridspec.py)
③   aligned-grid no-op fast path — planner short-circuit
⑦   the *halo gather join*: every source tile is mapped to each output
    tile whose (padded) source footprint it intersects — a flatMap +
    shuffle keyed by output tile (never point-to-point)
⑧   per-output-tile pandas UDF assembling the source block
    (get_slice_pad kernel) and resampling (nearest / bilinear pure
    numpy; bool-threshold rule of read.py:1557-1567 honored by caller
    casting)

At 100 TB: the gather shuffle is the only wide dependency; its key is
the output tile id, so output partitioning is perfect for the sink.
"""

from __future__ import annotations

import math
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..kernels.affine import Affine
from ..kernels.windows import Window, round_outer_window, window_from_bounds
from ..plans.session import local_frame

TILE = 128


def _keys_weights(t: np.ndarray) -> list[np.ndarray]:
    """Keys cubic-convolution tap weights for fractional offset
    ``t`` in [0, 1), a = -0.5 (Catmull-Rom; the kernel GDAL ``cubic``
    / OpenCV INTER_CUBIC use — i.e. what the reference's warp path
    ``read_reproject``/rasterio resolves 'cubic' to; NOT the skimage
    order=2 biquadratic that GeoTensor.resize's ORDERS map mislabels
    'bicubic', geotensor.py:178-182 — see SURVEY §7.4).
    Returns weights for taps at offsets
    -1, 0, +1, +2 relative to floor(x). Interpolating (w = (0,1,0,0)
    at t=0), partition of unity (Σw = 1 for every t), reproduces
    polynomials up to degree 2 exactly."""
    return [
        ((-0.5 * t + 1.0) * t - 0.5) * t,          # k(1+t)
        (1.5 * t - 2.5) * t * t + 1.0,             # k(t)
        ((-1.5 * t + 2.0) * t + 0.5) * t,          # k(1-t)
        (0.5 * t - 0.5) * t * t,                   # k(2-t)
    ]


TILE_SCHEMA = StructType(
    [
        StructField("raster_id", IntegerType()),
        StructField("band", IntegerType()),
        StructField("tile_row", LongType()),
        StructField("tile_col", LongType()),
        StructField("height", IntegerType()),
        StructField("width", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def tile_blocked_from_long(
    raster: DataFrame, height: int, width: int, tile: int = TILE,
    fill_value: float = 0.0,
) -> DataFrame:
    """Long (band,row,col,value) -> tile-blocked binary rows via
    grouped-map pandas UDF (dense assembly per tile).

    ``fill_value`` seeds pixels absent from the long form (the
    reference's fill_value_default, geotensor.py GeoTensor fill) so
    "absent" is not conflated with value 0 for non-zero-fill rasters.
    Tiles with NO rows at all still do not appear — callers that need
    a dense cover must union in fill tiles (see
    raster.py pad-plan usage)."""

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        raster_id, band, trow, tcol = key
        h = min(tile, height - trow * tile)
        w = min(tile, width - tcol * tile)
        block = np.full((h, w), fill_value, dtype=np.float64)
        r = pdf["row"].to_numpy() - trow * tile
        c = pdf["col"].to_numpy() - tcol * tile
        block[r, c] = pdf["value"].to_numpy()
        return pd.DataFrame(
            {
                "raster_id": [raster_id],
                "band": [band],
                "tile_row": [trow],
                "tile_col": [tcol],
                "height": [h],
                "width": [w],
                "payload": [block.tobytes()],
            }
        )

    keyed = raster.withColumns(
        {
            "tile_row": F.floor(F.col("row") / F.lit(tile)).cast("long"),
            "tile_col": F.floor(F.col("col") / F.lit(tile)).cast("long"),
        }
    )
    return keyed.groupBy("raster_id", "band", "tile_row", "tile_col").applyInPandas(
        assemble, TILE_SCHEMA
    )


def tile_blocked_to_long(tiles: DataFrame, tile: int = TILE) -> DataFrame:
    """Inverse of :func:`tile_blocked_from_long` (mapInPandas explode)."""

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for rid, band, trow, tcol, h, w, payload in zip(
                pdf["raster_id"].to_numpy(),
                pdf["band"].to_numpy(),
                pdf["tile_row"].to_numpy(),
                pdf["tile_col"].to_numpy(),
                pdf["height"].to_numpy(),
                pdf["width"].to_numpy(),
                pdf["payload"],
            ):
                block = np.frombuffer(payload, dtype=np.float64).reshape(h, w)
                rr, cc = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
                outs.append(
                    pd.DataFrame(
                        {
                            "raster_id": rid,
                            "band": band,
                            "row": (trow * tile + rr.ravel()).astype("int64"),
                            "col": (tcol * tile + cc.ravel()).astype("int64"),
                            "value": block.ravel(),
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    schema = "raster_id int, band int, row long, col long, value double"
    return tiles.mapInPandas(explode, schema)


def resample_tiles(
    tiles: DataFrame,
    src_transform: Affine,
    src_shape: Tuple[int, int],
    dst_transform: Affine,
    dst_shape: Tuple[int, int],
    method: str = "bilinear",
    fill_value: float = 0.0,
    tile: int = TILE,
    halo: int = 3,
    bool_mask: bool = False,
    src_crs: str | None = None,
    dst_crs: str | None = None,
) -> DataFrame:
    """Reproject/resample tile-blocked raster onto a destination grid
    (rectilinear OR rotated/sheared transforms on either side —
    planning takes all 4 tile corners and the warp runs the full
    affines, matching the reference's non-rectilinear read path,
    rasterio_reader.py:1370-1382): the halo-gather join +
    per-output-tile warp UDF. ``halo`` mirrors the reference's 3-px
    pad (read.py:1605-1607). Output: tile-blocked rows on the
    destination grid.

    ``src_crs``/``dst_crs`` (EPSG / PROJ.4 / WKT specs, see
    kernels/proj) make this the full cross-CRS ``read_reproject``
    (read.py warp path): dst pixel centers go dst-CRS world ->
    src-CRS world via ``transform_points`` inside the warp batch, and
    the gather plan maps dst-tile corner bounds through the same CRS
    transform before windowing — per-pixel math stays vectorized
    numpy, nothing per-row.

    ``bool_mask=True`` applies the reference's boolean-dtype rule
    (read.py:1557-1567, 1639-1669): masks are interpolated as floats
    then re-binarized with ``> 0.5`` — NOT left to caller casting
    (the round-1 gap).
    """
    spark = tiles.sparkSession
    H_src, W_src = src_shape
    H_dst, W_dst = dst_shape
    n_trow = math.ceil(H_dst / tile)
    n_tcol = math.ceil(W_dst / tile)

    cross_crs = (
        src_crs is not None and dst_crs is not None
        and str(src_crs) != str(dst_crs)
    )
    if cross_crs:
        from ..kernels.proj import transform_points as _tp
    else:
        _tp = None

    # --- plan: for each dst tile, the (rounded, haloed) src window and
    # the src tile ids intersecting it; built driver-side (tile counts
    # are ~shape/tile^2, tiny next to pixel counts), exploded to a
    # DataFrame mapping (src_tile -> dst_tile): the gather join.
    plan_rows = []
    for trow in range(n_trow):
        for tcol in range(n_tcol):
            h = min(tile, H_dst - trow * tile)
            w = min(tile, W_dst - tcol * tile)
            # all 4 dst-tile corners: correct bbox for rotated/sheared
            # dst grids too (2 corners suffice only when rectilinear)
            corners = [
                dst_transform * (tcol * tile, trow * tile),
                dst_transform * (tcol * tile + w, trow * tile),
                dst_transform * (tcol * tile, trow * tile + h),
                dst_transform * (tcol * tile + w, trow * tile + h),
            ]
            if cross_crs:
                # corners + edge midpoints through the CRS transform:
                # curved edges can bow outside the corner bbox
                mids = [
                    dst_transform * (tcol * tile + w / 2.0, trow * tile),
                    dst_transform * (tcol * tile + w / 2.0, trow * tile + h),
                    dst_transform * (tcol * tile, trow * tile + h / 2.0),
                    dst_transform * (tcol * tile + w, trow * tile + h / 2.0),
                ]
                pts = corners + mids
                cx, cy = _tp(
                    [p[0] for p in pts], [p[1] for p in pts], dst_crs, src_crs
                )
                xs, ys = list(cx), list(cy)
            else:
                xs = [c[0] for c in corners]
                ys = [c[1] for c in corners]
            bounds = (min(xs), min(ys), max(xs), max(ys))
            src_w = round_outer_window(window_from_bounds(src_transform, bounds))
            src_w = Window(
                src_w.col_off - halo,
                src_w.row_off - halo,
                src_w.width + 2 * halo,
                src_w.height + 2 * halo,
            )
            # intersecting source tiles (clamped to raster extent)
            sr0 = max(int(src_w.row_off) // tile, 0)
            sr1 = min((int(src_w.row_end) - 1) // tile, (H_src - 1) // tile)
            sc0 = max(int(src_w.col_off) // tile, 0)
            sc1 = min((int(src_w.col_end) - 1) // tile, (W_src - 1) // tile)
            for sr in range(sr0, sr1 + 1):
                for sc in range(sc0, sc1 + 1):
                    plan_rows.append(
                        (
                            trow, tcol, h, w,
                            int(src_w.col_off), int(src_w.row_off),
                            int(src_w.width), int(src_w.height),
                            sr, sc,
                        )
                    )
    plan = local_frame(
        spark, plan_rows,
        "dst_trow long, dst_tcol long, dst_h int, dst_w int, "
        "src_col_off long, src_row_off long, src_w_width int, src_w_height int, "
        "tile_row long, tile_col long",
    )

    gathered = tiles.join(F.broadcast(plan), ["tile_row", "tile_col"], "inner")

    out_schema = TILE_SCHEMA

    def warp(key, pdf: pd.DataFrame) -> pd.DataFrame:
        raster_id, band, dst_trow, dst_tcol = key
        r0 = pdf.iloc[0]
        dst_h, dst_w = int(r0["dst_h"]), int(r0["dst_w"])
        sw = Window(
            int(r0["src_col_off"]), int(r0["src_row_off"]),
            int(r0["src_w_width"]), int(r0["src_w_height"]),
        )
        # assemble the padded source block (get_slice_pad kernel):
        block = np.full((sw.height, sw.width), fill_value, dtype=np.float64)
        for _, r in pdf.iterrows():
            t = np.frombuffer(r["payload"], dtype=np.float64).reshape(
                int(r["height"]), int(r["width"])
            )
            tw = Window(
                int(r["tile_col"]) * tile, int(r["tile_row"]) * tile,
                int(r["width"]), int(r["height"]),
            )
            if not tw.intersects(sw):
                continue
            # tile ∩ window intersection in absolute pixel coords, then
            # shifted into each array's frame (the get_slice_pad kernel
            # mixes absolute/relative offsets across its branches —
            # direct intersection is the unambiguous form; the kernel
            # itself is pinned by tests for the reference's read-pad
            # decomposition where window_data starts the frame)
            ay0 = max(tw.row_off, sw.row_off)
            ax0 = max(tw.col_off, sw.col_off)
            ay1 = min(tw.row_end, sw.row_end)
            ax1 = min(tw.col_end, sw.col_end)
            sub = t[ay0 - tw.row_off : ay1 - tw.row_off,
                    ax0 - tw.col_off : ax1 - tw.col_off]
            block[ay0 - sw.row_off : ay1 - sw.row_off,
                  ax0 - sw.col_off : ax1 - sw.col_off] = sub

        # dst pixel centers -> world -> fractional src pixel coords via
        # the FULL affines (b/d terms included: rotated/sheared grids
        # resample correctly, not just north-up rectilinear ones)
        rows = np.arange(dst_trow * tile, dst_trow * tile + dst_h)
        cols = np.arange(dst_tcol * tile, dst_tcol * tile + dst_w)
        cc, rr = np.meshgrid(cols, rows)
        dt, st_inv = dst_transform, ~src_transform
        gx = dt.c + (cc + 0.5) * dt.a + (rr + 0.5) * dt.b
        gy = dt.f + (cc + 0.5) * dt.d + (rr + 0.5) * dt.e
        if cross_crs:
            gx, gy = _tp(gx.ravel(), gy.ravel(), dst_crs, src_crs)
            gx = np.asarray(gx).reshape(cc.shape)
            gy = np.asarray(gy).reshape(cc.shape)
        fc = st_inv.a * gx + st_inv.b * gy + st_inv.c - sw.col_off
        fr = st_inv.d * gx + st_inv.e * gy + st_inv.f - sw.row_off

        if method == "nearest":
            ic = np.clip(np.floor(fc).astype(np.int64), 0, sw.width - 1)
            ir = np.clip(np.floor(fr).astype(np.int64), 0, sw.height - 1)
            out = block[ir, ic]
        elif method == "bilinear":
            fc2 = fc - 0.5
            fr2 = fr - 0.5
            c0 = np.clip(np.floor(fc2).astype(np.int64), 0, sw.width - 2)
            r0_ = np.clip(np.floor(fr2).astype(np.int64), 0, sw.height - 2)
            wc = np.clip(fc2 - c0, 0.0, 1.0)
            wr = np.clip(fr2 - r0_, 0.0, 1.0)
            out = (
                block[r0_, c0] * (1 - wr) * (1 - wc)
                + block[r0_, c0 + 1] * (1 - wr) * wc
                + block[r0_ + 1, c0] * wr * (1 - wc)
                + block[r0_ + 1, c0 + 1] * wr * wc
            )
        elif method in ("bicubic", "cubic"):
            # Keys cubic-convolution kernel, a = -0.5 (Catmull-Rom /
            # GDAL `cubic` / OpenCV INTER_CUBIC): interpolating (exact
            # at samples), partition of unity, reproduces quadratics.
            # 4x4 support -> needs the default 3-px halo
            fc2 = fc - 0.5
            fr2 = fr - 0.5
            c0 = np.clip(np.floor(fc2).astype(np.int64), 1, sw.width - 3)
            r0_ = np.clip(np.floor(fr2).astype(np.int64), 1, sw.height - 3)
            tx = np.clip(fc2 - c0, 0.0, 1.0)
            ty = np.clip(fr2 - r0_, 0.0, 1.0)
            wx = _keys_weights(tx)
            wy = _keys_weights(ty)
            out = np.zeros_like(tx)
            for m in range(4):
                row_acc = np.zeros_like(tx)
                for n in range(4):
                    row_acc += wx[n] * block[r0_ - 1 + m, c0 - 1 + n]
                out += wy[m] * row_acc
        else:
            raise ValueError(f"unsupported method {method!r}")

        if bool_mask:
            # bool rule: float-interpolate then threshold (read.py:1557-1567)
            out = (out > 0.5).astype(np.float64)

        return pd.DataFrame(
            {
                "raster_id": [raster_id],
                "band": [band],
                "tile_row": [dst_trow],
                "tile_col": [dst_tcol],
                "height": [dst_h],
                "width": [dst_w],
                "payload": [out.tobytes()],
            }
        )

    return gathered.groupBy("raster_id", "band", "dst_trow", "dst_tcol").applyInPandas(
        warp, out_schema
    )


def griddata_interpolate(
    points: DataFrame,
    dst_transform: Affine,
    dst_shape: Tuple[int, int],
    method: str = "linear",
    x_col: str = "x",
    y_col: str = "y",
    value_col: str = "value",
    tile: int = TILE,
    margin_px: int = 32,
    fill: float = float("nan"),
    gradient_radius: float | None = None,
) -> DataFrame:
    """Scattered points -> regular grid, ``griddata.reproject``
    semantics (/root/reference/georeader/griddata.py:286-440):
    ``linear`` = Delaunay barycentric (kernels/delaunay.py, scipy's
    LinearNDInterpolator twin), ``nearest`` = Voronoi, ``cubic`` =
    Clough-Tocher C1 piecewise-cubic (scipy, exactly the estimator the
    reference passes to scipy.interpolate.griddata at
    griddata.py:328-330).

    Distributed as a tile-gather: each point is replicated to every
    output tile whose bounds + ``margin_px``-pixel margin contain it
    (pure expressions, one explode), then a grouped Arrow UDF
    triangulates the tile's gathered points and interpolates that
    tile's pixel centers. Tile-local triangulation equals the global
    one wherever the margin exceeds the local circumradii — margin_px
    trades exactness at sparse edges for gather volume (the same
    locality assumption the reference makes when it windows its input,
    griddata.py:askel). For ``cubic``, pass ``gradient_radius`` (geo
    units) so vertex gradients are functions of a fixed ball —
    tile == global exactly whenever margin covers radius +
    circumradii; with None, gradients use triangulation neighbors
    (global semantics, tile-approximate at gather edges). Output:
    long rows (row, col, value).
    """
    spark = points.sparkSession
    H, W = dst_shape
    n_trow = math.ceil(H / tile)
    n_tcol = math.ceil(W / tile)

    # fractional pixel coords of each point under the dst grid
    px = (F.col(x_col) - F.lit(dst_transform.c)) / F.lit(dst_transform.a)
    py = (F.col(y_col) - F.lit(dst_transform.f)) / F.lit(dst_transform.e)
    pts = points.select(
        F.col(x_col).alias("_x"),
        F.col(y_col).alias("_y"),
        F.col(value_col).alias("_v"),
        px.alias("_px"),
        py.alias("_py"),
    ).where(
        # points beyond the margin cannot influence any tile; also keeps
        # the tile-range sequences non-descending (F.sequence reverses
        # when start > stop)
        (F.col("_px") >= -margin_px)
        & (F.col("_px") <= W + margin_px)
        & (F.col("_py") >= -margin_px)
        & (F.col("_py") <= H + margin_px)
    )
    t0r = F.greatest(
        F.lit(0), F.floor((F.col("_py") - margin_px) / tile).cast("int")
    )
    t1r = F.least(
        F.lit(n_trow - 1), F.floor((F.col("_py") + margin_px) / tile).cast("int")
    )
    t0c = F.greatest(
        F.lit(0), F.floor((F.col("_px") - margin_px) / tile).cast("int")
    )
    t1c = F.least(
        F.lit(n_tcol - 1), F.floor((F.col("_px") + margin_px) / tile).cast("int")
    )
    gathered = (
        pts.withColumn("_tr", F.explode(F.sequence(t0r, t1r)))
        .withColumn("_tc", F.explode(F.sequence(t0c, t1c)))
        .where((F.col("_tr") >= 0) & (F.col("_tc") >= 0))
    )

    a, b_, c_, d_, e_, f_ = (
        dst_transform.a, dst_transform.b, dst_transform.c,
        dst_transform.d, dst_transform.e, dst_transform.f,
    )

    def interp(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from ..kernels.delaunay import linear_interpolate

        trow, tcol = int(key[0]), int(key[1])
        h = min(tile, H - trow * tile)
        w = min(tile, W - tcol * tile)
        rr, cc = np.meshgrid(
            np.arange(trow * tile, trow * tile + h),
            np.arange(tcol * tile, tcol * tile + w),
            indexing="ij",
        )
        gx = c_ + (cc + 0.5) * a + (rr + 0.5) * b_
        gy = f_ + (cc + 0.5) * d_ + (rr + 0.5) * e_
        px_ = pdf["_x"].to_numpy()
        py_ = pdf["_y"].to_numpy()
        pv = pdf["_v"].to_numpy()
        if method == "linear":
            vals = linear_interpolate(
                np.column_stack([px_, py_]), pv, gx.ravel(), gy.ravel(), fill=fill
            )
        elif method == "nearest":
            d2 = (gx.ravel()[:, None] - px_[None, :]) ** 2 + (
                gy.ravel()[:, None] - py_[None, :]
            ) ** 2
            vals = pv[np.argmin(d2, axis=1)]
        elif method == "cubic":
            # Clough-Tocher C1 cubic — the same macroelement the
            # reference hands to scipy.interpolate.griddata
            # (griddata.py:328-330); no scipy in this environment, so
            # the engine carries its own reduced-HCT kernel
            # (kernels/delaunay.ct_interpolate; gradient estimation is
            # local WLS, a documented deviation from scipy's global
            # scheme). Tile-local == global under the same margin
            # assumption as 'linear'.
            from ..kernels.delaunay import ct_interpolate

            vals = ct_interpolate(
                np.column_stack([px_, py_]), pv, gx.ravel(), gy.ravel(),
                fill=fill, gradient_radius=gradient_radius,
            )
        else:
            raise ValueError(f"unsupported method {method!r}")
        return pd.DataFrame(
            {"row": rr.ravel(), "col": cc.ravel(), "value": vals}
        )

    return gathered.groupBy("_tr", "_tc").applyInPandas(
        interp, "row long, col long, value double"
    )


def gaussian_blur_tiles(
    tiles: DataFrame,
    shape: Tuple[int, int],
    sigma: float | Tuple[float, float],
    tile: int = TILE,
    mode: str = "reflect",
) -> DataFrame:
    """Gaussian anti-alias filter (apply_anti_aliasing,
    /root/reference/georeader/read.py:1020-1085: scipy
    ``ndi.gaussian_filter`` per band, explicit ``mode="reflect"``) as
    a halo-exchange per-tile UDF: halo = ceil(4*sigma) (scipy's
    truncate=4.0 default), separable 1D convolution in pure numpy.

    ``mode``: ``"reflect"`` (default — the reference's
    apply_anti_aliasing choice) or ``"constant"`` (cval=0 — what the
    reference's OTHER blur path uses, ``GeoTensor.resize``'s
    ``mode_pad="constant"`` via skimage, geotensor.py:1857); anything
    else raises.

    The halo gather reuses the resample plan machinery with an
    identity grid: each tile collects its neighbors' edge strips, the
    kernel convolves the padded block, the core is emitted. At 100 TB
    the exchange is O(halo * perimeter) extra rows — the overlap-tile
    pattern of SURVEY.md §4.2.

    ``sigma`` may be a ``(sigma_y, sigma_x)`` pair for anisotropic
    smoothing (skimage's per-axis anti_aliasing_sigma — the composed
    ``resize_tiles`` path when the two scale factors differ); an axis
    with sigma 0 is left untouched.
    """
    import math as _math

    if mode not in ("reflect", "constant"):
        raise NotImplementedError(
            f"gaussian_blur_tiles: mode={mode!r} (reflect/constant only)"
        )
    spark = tiles.sparkSession
    H, W = shape
    sig_y, sig_x = (
        (float(sigma[0]), float(sigma[1]))
        if isinstance(sigma, (tuple, list))
        else (float(sigma), float(sigma))
    )
    rad_y = int(_math.ceil(4.0 * sig_y)) if sig_y > 0 else 0
    rad_x = int(_math.ceil(4.0 * sig_x)) if sig_x > 0 else 0
    radius = max(rad_y, rad_x)
    n_trow = _math.ceil(H / tile)
    n_tcol = _math.ceil(W / tile)

    # scipy-compatible gaussian kernels (truncate=4), one per axis;
    # sigma 0 -> identity tap
    def _kern1d(sig, rad):
        if rad == 0:
            return np.array([1.0])
        xs = np.arange(-rad, rad + 1, dtype=np.float64)
        k = np.exp(-0.5 * (xs / sig) ** 2)
        return k / k.sum()

    kern_y = _kern1d(sig_y, rad_y)
    kern_x = _kern1d(sig_x, rad_x)

    plan_rows = []
    for trow in range(n_trow):
        for tcol in range(n_tcol):
            h = min(tile, H - trow * tile)
            w = min(tile, W - tcol * tile)
            r0 = trow * tile - radius
            c0 = tcol * tile - radius
            r1 = trow * tile + h + radius
            c1 = tcol * tile + w + radius
            sr0 = max(r0 // tile, 0)
            sr1 = min((r1 - 1) // tile, n_trow - 1)
            sc0 = max(c0 // tile, 0)
            sc1 = min((c1 - 1) // tile, n_tcol - 1)
            for sr in range(sr0, sr1 + 1):
                for sc in range(sc0, sc1 + 1):
                    plan_rows.append((trow, tcol, h, w, sr, sc))
    plan = local_frame(
        spark, plan_rows,
        "dst_trow long, dst_tcol long, dst_h int, dst_w int, tile_row long, tile_col long",
    )
    gathered = tiles.join(F.broadcast(plan), ["tile_row", "tile_col"], "inner")

    def blur(key, pdf: pd.DataFrame) -> pd.DataFrame:
        raster_id, band, dst_trow, dst_tcol = key
        r = pdf.iloc[0]
        dst_h, dst_w = int(r["dst_h"]), int(r["dst_w"])
        # assemble padded block in *absolute* coords with reflect pad
        pr0 = int(dst_trow) * tile - radius
        pc0 = int(dst_tcol) * tile - radius
        ph = dst_h + 2 * radius
        pw = dst_w + 2 * radius
        block = np.zeros((ph, pw), dtype=np.float64)
        have = np.zeros((ph, pw), dtype=bool)
        for _, row in pdf.iterrows():
            t = np.frombuffer(row["payload"], dtype=np.float64).reshape(
                int(row["height"]), int(row["width"])
            )
            ar0 = int(row["tile_row"]) * tile
            ac0 = int(row["tile_col"]) * tile
            y0 = max(ar0, pr0)
            x0 = max(ac0, pc0)
            y1 = min(ar0 + t.shape[0], pr0 + ph)
            x1 = min(ac0 + t.shape[1], pc0 + pw)
            if y1 <= y0 or x1 <= x0:
                continue
            block[y0 - pr0 : y1 - pr0, x0 - pc0 : x1 - pc0] = t[
                y0 - ar0 : y1 - ar0, x0 - ac0 : x1 - ac0
            ]
            have[y0 - pr0 : y1 - pr0, x0 - pc0 : x1 - pc0] = True
        if mode == "reflect":
            # reflect-pad the regions outside the raster extent
            # (rows/cols where have==False at the global border)
            gr = np.arange(pr0, pr0 + ph)
            gc = np.arange(pc0, pc0 + pw)
            # reflect: scipy 'reflect' (a b c -> b a | c b); implement
            # via index mirroring on the global extent
            def reflect_idx(i, n):
                i = np.asarray(i)
                i = np.where(i < 0, -i - 1, i)
                i = np.where(i >= n, 2 * n - i - 1, i)
                return i
            rr = reflect_idx(gr, H)
            cc = reflect_idx(gc, W)
            # remap out-of-extent rows/cols from in-extent data we have
            local_r = rr - pr0
            local_c = cc - pc0
            block = block[np.clip(local_r, 0, ph - 1)][
                :, np.clip(local_c, 0, pw - 1)
            ]
        # mode == "constant": out-of-extent cells stay 0 (scipy cval=0)

        # separable convolution (valid region = core)
        tmp = (
            np.apply_along_axis(
                lambda m: np.convolve(m, kern_y, mode="same"), axis=0,
                arr=block,
            )
            if rad_y > 0
            else block
        )
        out_full = (
            np.apply_along_axis(
                lambda m: np.convolve(m, kern_x, mode="same"), axis=1,
                arr=tmp,
            )
            if rad_x > 0
            else tmp
        )
        out = out_full[radius : radius + dst_h, radius : radius + dst_w]
        return pd.DataFrame(
            {
                "raster_id": [raster_id],
                "band": [band],
                "tile_row": [dst_trow],
                "tile_col": [dst_tcol],
                "height": [dst_h],
                "width": [dst_w],
                "payload": [np.ascontiguousarray(out).tobytes()],
            }
        )

    return gathered.groupBy("raster_id", "band", "dst_trow", "dst_tcol").applyInPandas(
        blur, TILE_SCHEMA
    )


def resize_tiles(
    tiles: DataFrame,
    src_transform: Affine,
    src_shape: Tuple[int, int],
    output_shape: Tuple[int, int],
    method: str = "bilinear",
    anti_aliasing: bool = True,
    anti_aliasing_sigma: float | Tuple[float, float] | None = None,
    tile: int = TILE,
    fill_value: float = 0.0,
    bool_mask: bool = False,
    mode_pad: str = "reflect",
) -> "Tuple[DataFrame, Affine]":
    """Composed anti-aliased resize — the reference's ``GeoTensor.
    resize`` (geotensor.py:1850-1975, delegating to skimage
    ``transform.resize``): Gaussian smoothing with the skimage default
    ``sigma = max((s - 1) / 2, 0)`` per axis (s = downsampling factor,
    only applied where s > 1), then interpolation at the new pixel
    centers.

    DELIBERATE divergences from ``GeoTensor.resize`` (SURVEY §7.4):

    - ``method="bicubic"`` here is TRUE cubic convolution (Keys
      a=-0.5 — GDAL ``cubic``, the kernel the reference's own warp
      path ``read_reproject``/rasterio resolves 'cubic' to). The
      reference's ORDERS map (geotensor.py:178-182) sends 'bicubic'
      to skimage ``order=2`` — a bi-QUADRATIC B-spline, a misnomer we
      do not replicate.
    - ``mode_pad`` defaults to ``"reflect"`` (matching the
      reference's other anti-alias path, read.py apply_anti_aliasing);
      pass ``"constant"`` for GeoTensor.resize's ``mode_pad``
      default. Applies to the blur stage; the warp's boundless fill
      is ``fill_value`` either way.

    The output georeferencing follows the reference:
    ``dst_transform = src_transform * scale(W_src/W_dst, H_src/H_dst)``
    — which makes the affine pixel-center mapping identical to
    skimage's ``(i_out + 0.5) * s - 0.5`` coordinate rule, so the warp
    kernel needs no special resize path.

    Returns ``(tiles_out, dst_transform)``. Plan shape: one halo
    exchange for the blur (skipped entirely when upsampling or
    ``anti_aliasing=False``) + the resample gather join — both keyed
    by output tile, no driver-side pixels.
    """
    H_src, W_src = src_shape
    H_dst, W_dst = output_shape
    s_y = H_src / H_dst
    s_x = W_src / W_dst
    dst_transform = src_transform * Affine.scale(s_x, s_y)

    if anti_aliasing:
        if anti_aliasing_sigma is None:
            sig = (max((s_y - 1.0) / 2.0, 0.0), max((s_x - 1.0) / 2.0, 0.0))
        elif isinstance(anti_aliasing_sigma, (tuple, list)):
            sig = (float(anti_aliasing_sigma[0]), float(anti_aliasing_sigma[1]))
        else:
            sig = (float(anti_aliasing_sigma), float(anti_aliasing_sigma))
        if sig[0] > 0 or sig[1] > 0:
            tiles = gaussian_blur_tiles(
                tiles, src_shape, sig, tile=tile, mode=mode_pad
            )

    out = resample_tiles(
        tiles,
        src_transform,
        src_shape,
        dst_transform,
        output_shape,
        method=method,
        tile=tile,
        fill_value=fill_value,
        bool_mask=bool_mask,
    )
    return out, dst_transform

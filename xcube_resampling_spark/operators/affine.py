"""Affine resampling between regular grids sharing a CRS.

Parity reference: /root/reference/xcube_resampling/affine.py:52-362.
The reference maps each target pixel to fractional source array coordinates
via a composed 2x3 affine matrix and evaluates a spline of order 0 (nearest)
or 1 (bilinear) with ``dask_image.ndinterp.affine_transform``; downscaling
first upsamples by a residual factor, then reduces k x k windows with
``da.coarsen`` (affine.py:277-313).

Each target pixel maps to fractional source coordinates by column
arithmetic, and :func:`gather_fused` evaluates the order-0/1 spline in one
block kernel behind one shuffle, replicating scipy's ``mode="constant"``: a
coordinate outside ``[0, n-1]`` yields the fill value; an interior one
blends ``v0 + f*(v1-v0)``, which propagates data NaNs even at zero weight.
Downscale gathers a k-times finer grid and reduces its k x k windows, in
the kernel for mean/sum/min/max/count and with ``aggregate_windows``
otherwise; positional reducers (first/last/center) gather one subpixel per
output pixel.  :func:`_gather`, the same gather as a SQL join, is kept as
the tests' reference.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import AffineTransformMatrix, is_int_dtype
from ..dataset import SparkDataset, Variable, grid_df
from ..gridmapping import GridMapping
from .coarsen import POSITIONAL_METHODS, aggregate_windows, position_for
from .utils import (
    num_t as num_t_of,
    can_apply_affine_transform,
    check_pixel_key_bound,
    get_agg_method,
    get_fill_value,
    get_interp_method_int,
    get_recover_nan,
)

_HIGHER_ORDER_ERROR = (
    "interp_methods must be one of 0, 1, 'nearest', 'bilinear'. "
    "Higher order is not supported for 3D arrays in affine transforms, "
    "as it causes unintended blending across the non-spatial (e.g., time) "
    "dimension."
)


def affine_transform_dataset(
    source_ds: SparkDataset,
    target_gm: GridMapping,
    source_gm: GridMapping | None = None,
    variables=None,
    interp_methods=None,
    agg_methods=None,
    recover_nans=False,
    fill_values=None,
) -> SparkDataset:
    """Resample a dataset between two regular same-CRS grids
    (reference affine.py:52-137)."""
    if source_gm is None:
        source_gm = source_ds.grid_mapping()

    assert can_apply_affine_transform(source_gm, target_gm), (
        f"Affine transformation cannot be applied to source CRS "
        f"{source_gm.crs.name!r} and target CRS {target_gm.crs.name!r}"
    )

    source_ds = source_ds.select_variables(variables)

    target_ds = resample_dataset(
        source_ds,
        target_gm.ij_transform_to(source_gm),
        (source_gm.xy_dim_names[1], source_gm.xy_dim_names[0]),
        target_gm.size,
        source_gm.size,
        interp_methods,
        agg_methods,
        recover_nans,
        fill_values,
    )

    # assign coordinates + CF spatial_ref from the target grid mapping
    x_name, y_name = target_gm.xy_var_names
    target_ds.coords[x_name] = target_gm.x_coords
    target_ds.coords[y_name] = target_gm.y_coords
    target_ds.coords["spatial_ref"] = 0
    target_ds.coord_attrs["spatial_ref"] = target_gm.crs.to_cf()
    target_ds.yx_dims = (target_gm.xy_dim_names[1], target_gm.xy_dim_names[0])
    return target_ds


def resample_dataset(
    dataset: SparkDataset,
    affine_matrix: AffineTransformMatrix,
    yx_dims: tuple[str, str],
    target_size: tuple[int, int],
    source_size: tuple[int, int],
    interp_methods=None,
    agg_methods=None,
    recover_nans=False,
    fill_values=None,
) -> SparkDataset:
    """Resample every spatial variable through the affine matrix; copy
    non-spatial variables; drop single-spatial-dim variables
    (reference affine.py:140-240)."""
    new_vars: dict[str, Variable] = {}
    for name, var in dataset.data_vars.items():
        if var.is_spatial and var.dims[-2:] == yx_dims:
            num_t = num_t_of(dataset, var)
            df = resample_pixels(
                dataset.spark,
                var.df,
                affine_matrix,
                source_size,
                target_size,
                num_t,
                get_interp_method_int(interp_methods, name, var.dtype),
                get_agg_method(agg_methods, name, var.dtype),
                get_recover_nan(recover_nans, name, var.dtype),
                get_fill_value(fill_values, name, var.dtype),
                is_int_dtype(var.dtype),
            )
            new_vars[name] = var.with_df(df)
        elif yx_dims[0] not in var.dims and yx_dims[1] not in var.dims:
            new_vars[name] = var
    coords = non_spatial_coords(dataset)
    return SparkDataset(
        spark=dataset.spark,
        data_vars=new_vars,
        coords=coords,
        coord_attrs={
            k: v for k, v in dataset.coord_attrs.items() if k in coords
        },
        attrs=dict(dataset.attrs),
        yx_dims=yx_dims,
    )


def non_spatial_coords(dataset: SparkDataset) -> dict:
    """The coords a resampled dataset carries (e.g. a time axis): not the
    spatial axes, their bounds, ``spatial_ref`` or any 2-D coordinate
    image (they no longer match the resampled grid)."""
    import numpy as np

    yx = dataset.yx_dims
    spatial = {*yx, *(f"{d}_bnds" for d in yx), "spatial_ref"}
    return {
        k: v for k, v in dataset.coords.items()
        if k not in spatial and not (isinstance(v, np.ndarray) and v.ndim == 2)
    }


def resample_pixels(
    spark: SparkSession,
    src_df: DataFrame,
    affine_matrix: AffineTransformMatrix,
    source_size: tuple[int, int],
    target_size: tuple[int, int],
    num_t: int,
    interp_method: int,
    agg_method: str,
    recover_nan: bool,
    fill_value,
    is_int: bool,
    wide: list[str] | None = None,
) -> DataFrame:
    """Long-format pixel resampling through a target->source affine matrix
    (reference affine.py:243-313).  ``wide`` (a list of ``num_t`` plane
    names) returns one row (j, i, *wide) per target pixel instead."""
    ((i_scale, _b, i_off), (_d, j_scale, j_off)) = affine_matrix
    # Snap near-integer matrix entries: the composition of two grid
    # transforms is mathematically exact for grid-aligned cases, and
    # float noise (~1e-15) must not flip floor()/neighbor selection.
    i_scale, i_off, j_scale, j_off = (
        _snap(v) for v in (i_scale, i_off, j_scale, j_off)
    )
    if interp_method not in (0, 1):
        raise ValueError(_HIGHER_ORDER_ERROR)
    w, h = target_size

    # Downscale decision replicates the reference literally
    # (affine.py:253: checks matrix[0][0] and matrix[1][0]).
    if (i_scale > 1 or _d > 1) and interp_method != 0:
        k_i = math.ceil(abs(i_scale))
        k_j = math.ceil(abs(j_scale))
        adj = i_scale / k_i, i_off, j_scale / k_j, j_off

        if agg_method in POSITIONAL_METHODS:
            # positional reducer: gather exactly one subpixel per output
            # pixel -- avoids the k*k intermediate entirely
            pj, pi = position_for(agg_method, k_j, k_i)
            return gather_fused(
                spark, src_df, adj, source_size, (w, h), num_t,
                interp_method, recover_nan, fill_value,
                idx_map=(k_j, k_i, pj, pi), wide=wide,
            )

        # Kernel-fused window reduction for the distributive float
        # reducers: the gather kernel already materializes the dense
        # intermediate block in numpy, so reducing each k_j x k_i
        # window there (NaN-aware, mirroring aggregate_windows' NaN ->
        # NULL -> skipped semantics) and emitting one partial row per
        # (block, window) shrinks the kernel's Arrow output and the
        # following exchange by ~k_j*k_i (measured 4.2M -> 0.07M rows
        # on the 2048^2 -> 256^2 mean headline).  Windows straddling a
        # block boundary merge in the final tiny groupBy.  Order-
        # dependent or non-distributive reducers (median, mode, std,
        # var, prod) and the int path (reducers not NaN-aware) keep the
        # dense intermediate + aggregate_windows path.
        if agg_method in ("mean", "sum", "min", "max", "count") \
                and not is_int:
            frag = gather_fused(
                spark, src_df, adj, source_size, (w * k_i, h * k_j),
                num_t, interp_method, recover_nan, fill_value,
                window_reduce=(k_j, k_i, agg_method),
            )

            def merge(value, cnt):
                if agg_method == "mean":
                    # 0-present windows -> NaN, matching the dense path's
                    # coalesce(avg(nv), NaN); the CASE guard keeps ANSI
                    # mode's divide-by-zero check out of the 0-count
                    # branch
                    mean = F.sum(value) / F.sum(cnt).cast("double")
                    return F.when(F.sum(cnt) > 0, mean).otherwise(
                        F.lit(float("nan")))
                if agg_method == "sum":
                    # np.nansum: empty fragments are 0.0, all-NaN -> 0.0
                    return F.sum(value)
                if agg_method in ("min", "max"):
                    ext = F.min if agg_method == "min" else F.max
                    return F.coalesce(ext(value), F.lit(float("nan")))
                # count = window_size - #zeros
                return F.lit(float(k_j * k_i)) - F.sum(value)

            if wide is None:
                return frag.groupBy("t", "j", "i").agg(
                    merge(F.col("value"), F.col("cnt")).alias("value")
                )
            # per-plane conditional aggregates: still one shuffle
            at_t = [F.col("t") == k for k in range(num_t)]
            return frag.groupBy("j", "i").agg(*[
                merge(F.when(at, F.col("value")), F.when(at, F.col("cnt")))
                .alias(name) for at, name in zip(at_t, wide)
            ])

        # full intermediate grid (fused single-shuffle gather), then
        # window aggregation
        gathered = gather_fused(
            spark, src_df, adj, source_size, (w * k_i, h * k_j), num_t,
            interp_method, recover_nan, fill_value,
        ).select(
            "t",
            (F.col("j") / k_j).cast("int").alias("J"),
            (F.col("i") / k_i).cast("int").alias("I"),
            "value",
        )
        out = aggregate_windows(gathered, agg_method, k_j, k_i, is_int)
        if wide is None:
            return out.select(
                "t", F.col("J").alias("j"), F.col("I").alias("i"), "value"
            )
        return out.groupBy(F.col("J").alias("j"), F.col("I").alias("i")) \
            .agg(*[
                F.max(F.when(F.col("t") == k, F.col("value"))).alias(name)
                for k, name in enumerate(wide)
            ])

    return gather_fused(
        spark, src_df, (i_scale, i_off, j_scale, j_off), source_size,
        (w, h), num_t, interp_method, recover_nan, fill_value, wide=wide,
    )


def _snap(v: float, tol: float = 1e-9) -> float:
    r = round(v)
    if v != r and abs(v - r) <= tol * max(1.0, abs(v)):
        return float(r)
    # also snap to nearest half (common for center-aligned grids)
    r2 = round(v * 2) / 2
    if v != r2 and abs(v - r2) <= tol * max(1.0, abs(v)):
        return float(r2)
    return float(v)


def _gather(
    grid: DataFrame,
    src_df: DataFrame,
    matrix4: tuple[float, float, float, float],
    source_size: tuple[int, int],
    interp_method: int,
    recover_nan: bool,
    fill_value,
    idx_cols: tuple[str, str],
) -> DataFrame:
    """Evaluate the order-0/1 spline gather as join + expressions.

    ``idx_cols`` names the (row, col) columns of *grid* used as target array
    indices; output keeps grid's (t, j, i).
    """
    i_scale, i_off, j_scale, j_off = matrix4
    src_w, src_h = source_size
    fill = F.lit(float(fill_value)).cast("double")
    jj, ii = (F.col(idx_cols[0]), F.col(idx_cols[1]))

    src_if = (F.lit(float(i_scale)) * ii + F.lit(float(i_off)))
    src_jf = (F.lit(float(j_scale)) * jj + F.lit(float(j_off)))

    if interp_method == 0:
        si = F.floor(src_if + 0.5).cast("int")
        sj = F.floor(src_jf + 0.5).cast("int")
        g = grid.select(
            "t", "j", "i", si.alias("si"), sj.alias("sj"),
            (
                (si >= 0) & (si <= src_w - 1) & (sj >= 0) & (sj <= src_h - 1)
            ).alias("in_b"),
        )
        src = src_df.select(
            F.col("t").alias("st"), F.col("j").alias("sj2"),
            F.col("i").alias("si2"), F.col("value").alias("sv"),
        )
        joined = g.join(
            src,
            (g["t"] == src["st"]) & (g["sj"] == src["sj2"])
            & (g["si"] == src["si2"]),
            "left",
        )
        return joined.select(
            "t", "j", "i",
            F.when(
                F.col("in_b"), F.coalesce(F.col("sv"), fill)
            ).otherwise(fill).alias("value"),
        )

    # bilinear (order 1)
    in_b = (
        (src_if >= 0) & (src_if <= src_w - 1)
        & (src_jf >= 0) & (src_jf <= src_h - 1)
    )
    i0 = F.least(F.floor(src_if), F.lit(src_w - 2)).cast("int")
    j0 = F.least(F.floor(src_jf), F.lit(src_h - 2)).cast("int")
    fx = src_if - i0
    fy = src_jf - j0

    g = grid.select(
        "t", "j", "i",
        i0.alias("i0"), j0.alias("j0"),
        fx.alias("fx"), fy.alias("fy"), in_b.alias("in_b"),
    ).filter(F.col("in_b"))  # out-of-bounds pixels re-added as fill below

    tags = F.array(
        *[
            F.struct(F.lit(dj).alias("dj"), F.lit(di).alias("di"))
            for dj in (0, 1)
            for di in (0, 1)
        ]
    )
    nbrs = g.select(
        "t", "j", "i", "fx", "fy",
        F.explode(tags).alias("tag"),
        "i0", "j0",
    ).select(
        "t", "j", "i", "fx", "fy",
        F.col("tag.dj").alias("dj"), F.col("tag.di").alias("di"),
        (F.col("j0") + F.col("tag.dj")).alias("sj"),
        (F.col("i0") + F.col("tag.di")).alias("si"),
    )
    src = src_df.select(
        F.col("t").alias("st"), F.col("j").alias("sj2"),
        F.col("i").alias("si2"), F.col("value").alias("sv"),
    )
    joined = nbrs.join(
        src,
        (nbrs["t"] == src["st"]) & (nbrs["sj"] == src["sj2"])
        & (nbrs["si"] == src["si2"]),
        "left",
    ).select(
        "t", "j", "i", "fx", "fy", "dj", "di",
        F.coalesce(F.col("sv"), fill).alias("sv"),
    )

    def pick(dj, di):
        return F.max(
            F.when((F.col("dj") == dj) & (F.col("di") == di), F.col("sv"))
        )

    piv = joined.groupBy("t", "j", "i", "fx", "fy").agg(
        pick(0, 0).alias("v00"),
        pick(0, 1).alias("v01"),
        pick(1, 0).alias("v10"),
        pick(1, 1).alias("v11"),
    )

    fx_c, fy_c = F.col("fx"), F.col("fy")

    def blend(v00, v01, v10, v11):
        vu0 = v00 + fx_c * (v01 - v00)
        vu1 = v10 + fx_c * (v11 - v10)
        return vu0 + fy_c * (vu1 - vu0)

    if recover_nan:
        def z(c):  # NaN -> 0 (zero-filled image)
            return F.when(F.isnan(c), F.lit(0.0)).otherwise(c)

        def m(c):  # inverse NaN mask
            return F.when(F.isnan(c), F.lit(0.0)).otherwise(F.lit(1.0))

        scaled = blend(*[z(F.col(c)) for c in ("v00", "v01", "v10", "v11")])
        norm = blend(*[m(F.col(c)) for c in ("v00", "v01", "v10", "v11")])
        value = F.when(
            F.abs(norm) <= F.lit(1e-8), F.lit(float("nan"))
        ).otherwise(scaled / norm)
    else:
        value = blend(
            F.col("v00"), F.col("v01"), F.col("v10"), F.col("v11")
        )

    computed = piv.select("t", "j", "i", value.alias("value"))

    # re-add out-of-bounds target pixels as fill
    oob = grid.select(
        "t", "j", "i",
        i0.alias("_i0"), src_if.alias("_sif"), src_jf.alias("_sjf"),
    ).filter(~(
        (F.col("_sif") >= 0) & (F.col("_sif") <= src_w - 1)
        & (F.col("_sjf") >= 0) & (F.col("_sjf") <= src_h - 1)
    )).select("t", "j", "i", fill.alias("value"))
    return computed.unionByName(oob)


def gather_fused(
    spark: SparkSession,
    src_df: DataFrame,
    matrix4: tuple[float, float, float, float],
    source_size: tuple[int, int],
    grid_size: tuple[int, int],
    num_t: int,
    interp_method: int,
    recover_nan: bool,
    fill_value,
    idx_map: tuple[int, int, int, int] = (1, 1, 0, 0),
    block_rows: int | None = None,
    window_reduce: tuple[int, int, str] | None = None,
    wide: list[str] | None = None,
) -> DataFrame:
    """Single-shuffle block-local twin of :func:`_gather`.

    Source rows (t, j, i, value) are routed as they come, one shuffle
    row (sp, t, value, blk) each with ``sp = j * 2^31 + i``, to the
    target j-blocks that can reference them (inverse-affine row range
    +- slack -- a cheap superset, correctness lives in the kernel).
    NULL values are dropped before the shuffle: NULL and absent both
    read fill.  Each block fills its dense ``V[t, sj, si]`` and
    evaluates the whole order-0/1 spline in one numpy pass: no neighbor
    explode, no join, no pivot, no union for out-of-bounds rows.  Emits
    the dense (t, j, i, value) grid; ``wide`` (a list of ``num_t``
    column names) emits one row (j, i, *wide) per grid pixel instead,
    plane t in column ``wide[t]``.

    ``window_reduce`` = (k_j, k_i, method) makes the kernel reduce each
    k_j x k_i window of its dense block in numpy and emit one partial
    row per (t, window) with columns (t, j, i, value, cnt) -- j/i are
    WINDOW indices, and ``value``/``cnt`` are the per-fragment partial
    (NaN-aware sum + finite count for mean/sum, NULL-if-empty extremum
    for min/max, zero count for count).  The caller merges fragments of
    boundary-straddling windows with a tiny groupBy (``wide`` does not
    apply).

    ``idx_map`` = (k_j, k_i, p_j, p_i): grid row j samples gather row
    ``j * k_j + p_j`` (the positional-downscale shortcut); (1, 1, 0, 0) is
    the identity.  Blocks span full grid rows -- fine up to ~10^5-wide
    scenes; wider targets would block in i as well.

    Value semantics are _gather's exactly: per-neighbor
    ``coalesce(value, fill)`` (SQL NULL or absent pixel -> fill, genuine
    NaN propagates through the blend), nearest rounds with
    ``floor(x + 0.5)`` and bounds-checks the rounded index, bilinear
    clamps ``i0 <= src_w - 2`` and bounds-checks the unrounded coordinate,
    ``recover_nan`` renormalizes by the blended finite-mask.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    check_pixel_key_bound(source_size)
    i_scale, i_off, j_scale, j_off = (float(v) for v in matrix4)
    src_w, src_h = source_size
    w, h = grid_size
    k_j, k_i, p_j, p_i = idx_map
    fill = float(fill_value)
    # auto-size blocks toward ~one kernel group per core (the rectify
    # pattern: per-group Arrow serialization and task-wave skew dominate
    # when groups >> cores, idle cores when groups << cores), with an
    # 8M-px cap bounding each group's dense arrays; callers passing an
    # explicit block_rows (tests) keep it
    if block_rows is None:
        par = max(1, src_df.sparkSession.sparkContext.defaultParallelism)
        max_block_px = 8 << 20
        block_rows = min(
            max(16, -(-h // par)),
            max(16, max_block_px // max(1, w)),
        )
    B = int(block_rows)
    n_blk = (h + B - 1) // B

    # target-block routing: source row sj can be referenced by grid rows
    # whose src_jf lands within +-1.5 of it (nearest +-0.5, bilinear +-1,
    # plus slack); invert src_jf = j_scale * (j*k_j + p_j) + j_off
    lo_f = (F.col("j") - 1.5 - F.lit(j_off)) / F.lit(j_scale)
    hi_f = (F.col("j") + 1.5 - F.lit(j_off)) / F.lit(j_scale)
    jj_lo = F.least(lo_f, hi_f)          # j_scale < 0 flips the interval
    jj_hi = F.greatest(lo_f, hi_f)
    g_lo = F.greatest(
        F.floor((jj_lo - p_j) / k_j).cast("int"), F.lit(0)
    )
    g_hi = F.least(
        F.ceil((jj_hi - p_j) / k_j).cast("int"), F.lit(h - 1)
    )
    # Routing shuffle byte-packing (guide section 2.3, the rectify /
    # reproject pattern): (j, i) travel as ONE packed int64 -- each
    # UnsafeRow fixed-width field is an 8-byte slot either way
    routed = src_df.filter(
        F.col("value").isNotNull() & F.col("t").between(0, num_t - 1)
        & (g_hi >= g_lo)
    ).select(
        (F.col("j").cast("bigint") * F.lit(1 << 31).cast("bigint")
         + F.col("i")).alias("sp"),
        "t", "value",
        F.explode(
            F.sequence(
                (g_lo / B).cast("int"), (g_hi / B).cast("int")
            )
        ).alias("blk"),
    )
    # sp = -1 marks the sentinel; a non-NULL long literal keeps the
    # pandas sp column int64 (a NULL would widen it to float64, which
    # cannot represent a packed 62-bit key exactly)
    sentinels = spark.range(n_blk).select(
        F.lit(-1).cast("bigint").alias("sp"),
        F.lit(0).cast("int").alias("t"),
        F.lit(None).cast("double").alias("value"),
        F.col("id").cast("int").alias("blk"),
    )

    if window_reduce is not None:
        out_cols = ["t", "j", "i", "value", "cnt"]
    elif wide is not None:
        out_cols = ["j", "i", *wide]
    else:
        out_cols = ["t", "j", "i", "value"]
    idx_cols = ("t", "j", "i")
    out_schema = T.StructType([
        T.StructField(c, T.IntegerType(), False) if c in idx_cols
        else T.StructField(c, T.LongType() if c == "cnt" else T.DoubleType())
        for c in out_cols
    ])

    def kernel(key, pdf):
        bb = int(key[0])
        j_start = bb * B
        rows_h = min(B, h - j_start)
        real = pdf[pdf["sp"].to_numpy() >= 0]
        if len(real):
            sp = real["sp"].to_numpy(np.int64)
            sj_arr = sp >> 31
            si_arr = sp & 0x7FFFFFFF
            sj_lo = int(sj_arr.min())
            sj_n = int(sj_arr.max()) - sj_lo + 1
            V = np.full((num_t, sj_n, src_w), fill)
            V[real["t"].to_numpy(np.int64), sj_arr - sj_lo, si_arr] = (
                real["value"].to_numpy(np.float64)
            )
        else:
            sj_lo, sj_n = 0, 1
            V = np.full((num_t, 1, src_w), fill)

        jj = (np.arange(j_start, j_start + rows_h) * k_j + p_j)
        ii = (np.arange(w) * k_i + p_i)
        src_jf = j_scale * jj + j_off                # (rows,)
        src_if = i_scale * ii + i_off                # (cols,)

        if interp_method == 0:
            si = np.floor(src_if + 0.5).astype(np.int64)
            sj = np.floor(src_jf + 0.5).astype(np.int64)
            # window-membership guard (reproject gather_interp_fused's
            # corner check): an in-bounds row ABSENT from a sparse src_df
            # must read fill, not alias the nearest present row
            rmask = (
                (sj >= 0) & (sj <= src_h - 1)
                & (sj >= sj_lo) & (sj < sj_lo + sj_n)
            )
            cmask = (si >= 0) & (si <= src_w - 1)
            # direct gather: rows x cols outer indexing
            sjc = np.clip(sj - sj_lo, 0, sj_n - 1)
            sic = np.clip(si, 0, src_w - 1)
            out = V[:, sjc[:, None], sic[None, :]]
            bad = ~(rmask[:, None] & cmask[None, :])
            out = np.where(bad[None, :, :], fill, out)
        else:
            rmask = (src_jf >= 0) & (src_jf <= src_h - 1)
            cmask = (src_if >= 0) & (src_if <= src_w - 1)
            i0 = np.minimum(np.floor(src_if), src_w - 2).astype(np.int64)
            j0 = np.minimum(np.floor(src_jf), src_h - 2).astype(np.int64)
            fx = (src_if - i0)[None, :]              # (1, cols)
            fy = (src_jf - j0)[:, None]              # (rows, 1)
            j0c = np.clip(j0 - sj_lo, 0, sj_n - 1)
            j1c = np.clip(j0 + 1 - sj_lo, 0, sj_n - 1)
            i0c = np.clip(i0, 0, src_w - 1)
            i1c = np.clip(i0 + 1, 0, src_w - 1)
            # per-corner window membership (mirrors _gather's per-neighbor
            # coalesce(value, fill)): a stencil row absent from a sparse
            # src_df contributes fill instead of aliasing a present row
            j0_in = ((j0 >= sj_lo) & (j0 < sj_lo + sj_n))[None, :, None]
            j1_in = (
                (j0 + 1 >= sj_lo) & (j0 + 1 < sj_lo + sj_n)
            )[None, :, None]
            v00 = np.where(j0_in, V[:, j0c[:, None], i0c[None, :]], fill)
            v01 = np.where(j0_in, V[:, j0c[:, None], i1c[None, :]], fill)
            v10 = np.where(j1_in, V[:, j1c[:, None], i0c[None, :]], fill)
            v11 = np.where(j1_in, V[:, j1c[:, None], i1c[None, :]], fill)

            def blend(a00, a01, a10, a11):
                vu0 = a00 + fx * (a01 - a00)
                vu1 = a10 + fx * (a11 - a10)
                return vu0 + fy * (vu1 - vu0)

            if recover_nan:
                def z(c):
                    return np.where(np.isnan(c), 0.0, c)

                def m(c):
                    return np.where(np.isnan(c), 0.0, 1.0)

                scaled = blend(z(v00), z(v01), z(v10), z(v11))
                norm = blend(m(v00), m(v01), m(v10), m(v11))
                with np.errstate(invalid="ignore", divide="ignore"):
                    out = np.where(
                        np.abs(norm) <= 1e-8, np.nan, scaled / norm
                    )
            else:
                out = blend(v00, v01, v10, v11)
            bad = ~(rmask[:, None] & cmask[None, :])
            out = np.where(bad[None, :, :], fill, out)

        if window_reduce is not None:
            rk_j, rk_i, rmethod = window_reduce
            w_out = w // rk_i
            row_J = np.arange(j_start, j_start + rows_h) // rk_j
            t_l, j_l, i_l, v_l, c_l = [], [], [], [], []
            for jv in np.unique(row_J):
                sub = out[:, row_J == jv, :].reshape(
                    num_t, -1, w_out, rk_i
                )
                finite = ~np.isnan(sub)
                c = finite.sum(axis=(1, 3)).astype(np.int64)
                if rmethod in ("mean", "sum"):
                    v = np.where(finite, sub, 0.0).sum(axis=(1, 3))
                elif rmethod == "count":
                    # np.count_nonzero semantics: NaN != 0 counts
                    v = (sub == 0.0).sum(axis=(1, 3)).astype(np.float64)
                else:  # min / max: NaN (-> SQL NULL) for empty windows
                    big = np.inf if rmethod == "min" else -np.inf
                    ext = np.where(finite, sub, big)
                    v = (ext.min(axis=(1, 3)) if rmethod == "min"
                         else ext.max(axis=(1, 3)))
                    v = np.where(c == 0, np.nan, v)
                t_l.append(np.repeat(
                    np.arange(num_t, dtype=np.int32), w_out))
                j_l.append(np.full(num_t * w_out, jv, dtype=np.int32))
                i_l.append(np.tile(
                    np.arange(w_out, dtype=np.int32), num_t))
                v_l.append(v.reshape(num_t * w_out))
                c_l.append(c.reshape(num_t * w_out))
            return pd.DataFrame(
                {
                    "t": np.concatenate(t_l),
                    "j": np.concatenate(j_l),
                    "i": np.concatenate(i_l),
                    "value": np.concatenate(v_l),
                    "cnt": np.concatenate(c_l),
                }
            )

        jj_out, ii_out = np.meshgrid(
            np.arange(rows_h, dtype=np.int32),
            np.arange(w, dtype=np.int32),
            indexing="ij",
        )
        if wide is not None:
            return pd.DataFrame(
                {
                    "j": (jj_out + j_start).ravel(),
                    "i": ii_out.ravel(),
                    **{name: out[k].ravel() for k, name in enumerate(wide)},
                }
            )
        return pd.DataFrame(
            {
                "t": np.repeat(
                    np.arange(num_t, dtype=np.int32), rows_h * w
                ),
                "j": np.tile((jj_out + j_start).ravel(), num_t),
                "i": np.tile(ii_out.ravel(), num_t),
                "value": out.reshape(num_t * rows_h * w),
            }
        )

    # pin the kernel stage at exactly one partition per block (see the
    # measured partition-count comparison in rectify.py's fused path:
    # AQE byte-coalescing folds compute-heavy groups; hash at N = #keys
    # beat both a 4x fan-out and repartitionByRange)
    out = routed.unionByName(sentinels).repartition(
        n_blk, "blk"
    ).groupBy("blk").applyInPandas(kernel, out_schema)
    if window_reduce is not None:
        # fragment rows: NULL value legitimately means "empty window
        # fragment" for min/max (the caller's F.min/F.max skip it)
        return out
    # the Arrow hop converts the kernel's NaN doubles to SQL NULLs (pandas
    # uses NaN as its null sentinel); _gather's contract is NaN and no
    # output is legitimately NULL, so restore
    nan = F.lit(float("nan"))
    return out.select(*[
        c if c in idx_cols else F.coalesce(F.col(c), nan).alias(c)
        for c in out_cols
    ])

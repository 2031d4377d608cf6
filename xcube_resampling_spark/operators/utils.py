"""Per-variable parameter resolution and shared operator helpers.

Parity reference: /root/reference/xcube_resampling/utils.py:181-332
(per-variable interp/agg/recover/fill resolution keyed by variable name or
dtype, with dtype-driven defaults) and utils.py:77-124 (bbox clip).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import (
    INTERP_METHOD_MAPPING,
    LOG,
    default_agg_method,
    default_fill_value,
    default_interp_method,
    is_int_dtype,
)
from ..gridmapping import GridMapping


def _lookup(mapping, key: str, dtype: str):
    """Mapping lookup by variable name, then by dtype (as str or np.dtype)."""
    if key in mapping:
        return mapping[key]
    if dtype in mapping:
        return mapping[dtype]
    try:
        import numpy as np

        np_dtype = np.dtype(dtype)
        for k, v in mapping.items():
            try:
                if not isinstance(k, str) and np.dtype(k) == np_dtype:
                    return v
            except TypeError:
                continue
    except TypeError:
        pass
    return None


def get_interp_method_int(interp_methods, var_name: str, dtype: str) -> int:
    m = get_interp_method(interp_methods, var_name, dtype)
    if isinstance(m, str):
        m = INTERP_METHOD_MAPPING[m]
    return m


def get_interp_method_str(interp_methods, var_name: str, dtype: str) -> str:
    m = get_interp_method(interp_methods, var_name, dtype)
    if isinstance(m, int):
        m = INTERP_METHOD_MAPPING[m]
    return m


def get_interp_method(interp_methods, var_name: str, dtype: str):
    if isinstance(interp_methods, Mapping):
        m = _lookup(interp_methods, var_name, dtype)
        if m is None:
            LOG.warning(
                "Interpolation method could not be derived for %r; "
                "defaults assigned.", var_name,
            )
            m = default_interp_method(dtype)
        return m
    if isinstance(interp_methods, (int, str)):
        return interp_methods
    return default_interp_method(dtype)


def get_agg_method(agg_methods, var_name: str, dtype: str) -> str:
    if isinstance(agg_methods, Mapping):
        m = _lookup(agg_methods, var_name, dtype)
        if m is None:
            LOG.warning(
                "Aggregation method could not be derived for %r; "
                "defaults assigned.", var_name,
            )
            m = default_agg_method(dtype)
        return m
    if isinstance(agg_methods, str):
        return agg_methods
    return default_agg_method(dtype)


def get_recover_nan(recover_nans, var_name: str, dtype: str) -> bool:
    if isinstance(recover_nans, Mapping):
        m = _lookup(recover_nans, var_name, dtype)
        return bool(m) if m is not None else False
    if isinstance(recover_nans, bool):
        return recover_nans
    return False


def get_fill_value(fill_values, var_name: str, dtype: str):
    if isinstance(fill_values, Mapping):
        m = _lookup(fill_values, var_name, dtype)
        return m if m is not None else default_fill_value(dtype)
    if fill_values is not None:
        return fill_values
    return default_fill_value(dtype)


def num_t(dataset, var) -> int:
    """Extent of a 3-D variable's leading (time) dimension.

    Prefers the coordinate length; when the leading dim has no coordinate
    entry the extent is derived from the data itself (max t + 1) -- the
    reference derives it from the array shape (xarray always knows it), so
    silently assuming 1 would drop every t > 0 plane.

    KNOWN LIMIT of the data-derived fallback: a TRAILING plane with no
    coverage at all (every pixel absent in the long format) is
    indistinguishable from a shorter axis, so it is dropped rather than
    emitted all-fill.  Attach a coordinate for the leading dim (any
    values; only its length is read) when trailing empty planes must
    survive.
    """
    if len(var.dims) < 3:
        return 1
    t_coord = dataset.coords.get(var.dims[0])
    if t_coord is not None:
        return len(t_coord)
    row = var.df.agg(F.max("t").alias("mt")).collect()[0]
    return int(row.mt) + 1 if row.mt is not None else 1


def check_pixel_key_bound(source_size: tuple[int, int]) -> None:
    """Fused kernels route a source pixel by the int64 ``j * 2^31 + i``."""
    if max(source_size) >= 1 << 31:
        raise ValueError(
            f"source size {tuple(source_size)} exceeds the 2^31 "
            "pixel-key bound of the fused kernels"
        )


def prep_interp_methods_downscale(interp_methods):
    """triangular -> bilinear when downscaling
    (reference utils.py:239-251)."""
    if interp_methods == "triangular":
        return "bilinear"
    if isinstance(interp_methods, Mapping) and (
        "triangular" in interp_methods.values()
    ):
        return {
            k: ("bilinear" if v == "triangular" else v)
            for k, v in interp_methods.items()
        }
    return interp_methods


def can_apply_affine_transform(source_gm: GridMapping,
                               target_gm: GridMapping) -> bool:
    """(reference utils.py:181-189)"""
    GridMapping.assert_regular(source_gm, name="source_gm")
    GridMapping.assert_regular(target_gm, name="target_gm")
    return is_equal_crs(source_gm, target_gm)


def is_equal_crs(source_gm: GridMapping, target_gm: GridMapping) -> bool:
    """Parity: reference utils.py:187-189, EXCEPT the both-geographic
    shortcut applies only to plain lat-lon CRSs: a rotated-pole grid is
    degree-based (pyproj calls it geographic) but still needs the pole
    rotation to reach true lon/lat."""
    geographic = (
        source_gm.crs.kind == "geographic"
        and target_gm.crs.kind == "geographic"
    )
    return geographic or source_gm.crs.equals(target_gm.crs)


def clip_pixels_by_ij_bbox(df: DataFrame, ij_bbox) -> DataFrame:
    """Range predicate on pixel indices; Catalyst pushes it into the scan
    (parity with reference utils.py:77-124 coordinate clipping)."""
    i_min, j_min, i_max, j_max = ij_bbox
    return df.filter(
        (F.col("i") >= i_min)
        & (F.col("i") < i_max)
        & (F.col("j") >= j_min)
        & (F.col("j") < j_max)
    )


def is_float_dtype(dtype: str) -> bool:
    return not is_int_dtype(dtype)


def ij_bboxes_containment(
    coords_df, bboxes_df, xy_border: float = 0.0, ij_border: int = 0,
    size: tuple[int, int] | None = None,
):
    """Distributed ij-bbox computation: for each xy bbox, the (i, j) index
    bbox of the coordinate pixels it contains.

    Parity: reference bboxes.py:28-106 -- a Numba ``prange`` scan of the
    whole coordinate image per box (O(boxes x pixels) on one node).  Here it
    is a broadcast range-containment join + one map-side-combinable
    aggregation: the coordinate image never leaves the cluster, and the
    per-box reduction is a single shuffle of partial min/max rows.

    coords_df: (j, i, x, y); bboxes_df: (box_id, x_min, y_min, x_max, y_max).
    Returns (box_id, i_min, j_min, i_max, j_max), exclusive maxima, clamped
    to ``size`` when given; boxes with no contained pixel are absent
    (the reference returns (-1,-1,-1,-1) -- recover with a left join).
    """
    from pyspark.sql import functions as F

    b = F.broadcast(bboxes_df)
    joined = coords_df.join(
        b,
        (coords_df["x"] >= b["x_min"] - xy_border)
        & (coords_df["x"] <= b["x_max"] + xy_border)
        & (coords_df["y"] >= b["y_min"] - xy_border)
        & (coords_df["y"] <= b["y_max"] + xy_border),
    )
    agg = joined.groupBy("box_id").agg(
        F.min("i").alias("i_lo"), F.min("j").alias("j_lo"),
        F.max("i").alias("i_hi"), F.max("j").alias("j_hi"),
    )
    i_min = F.greatest(F.col("i_lo") - ij_border, F.lit(0))
    j_min = F.greatest(F.col("j_lo") - ij_border, F.lit(0))
    i_max = F.col("i_hi") + 1 + ij_border
    j_max = F.col("j_hi") + 1 + ij_border
    if size is not None:
        w, h = size
        i_max = F.least(i_max, F.lit(w))
        j_max = F.least(j_max, F.lit(h))
    return agg.select(
        "box_id",
        i_min.cast("int").alias("i_min"), j_min.cast("int").alias("j_min"),
        i_max.cast("int").alias("i_max"), j_max.cast("int").alias("j_max"),
    )

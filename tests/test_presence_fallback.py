"""Per-t presence of the three fused kernels, at 63 t-slices.

No operator encodes presence any more.  Affine and reproject route long
(t, j, i, value) rows and drop NULL values before their shuffle; the
rectify scatter reads a pixel's presence in slice k from the Arrow
validity of its ``val_k`` column.  The 62 / 63 split is where a
bit-packed int64 presence word used to give way to one boolean column
per slice; it stays as a many-slice case with a NULL slice and a partly
absent slice.  Each operator's 63-slice output must equal its result for
the same slices split into a 62-slice and a one-slice call.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xcube_resampling_spark.crs import CRS_WGS84
from xcube_resampling_spark.dataset import PIXEL_SCHEMA
from xcube_resampling_spark.gridmapping import GridMapping

PACKED_MAX_T = 62  # the most t-slices one int64 presence word carries
NUM_T = PACKED_MAX_T + 1
NULL_T = 5      # every value of this slice is SQL NULL
SPARSE_T = NUM_T - 1  # this slice lacks source row j == 4 entirely
SRC_W, SRC_H = 18, 20
FILL = -999.0   # numeric, so a NULL pixel (-> fill) differs from NaN


def _stack(spark):
    rng = np.random.default_rng(63)
    tt, jj, ii = np.meshgrid(
        np.arange(NUM_T), np.arange(SRC_H), np.arange(SRC_W), indexing="ij"
    )
    val = rng.normal(size=tt.shape)
    val[0, 2, 3] = np.nan
    pdf = pd.DataFrame(
        {
            "t": tt.ravel().astype("int32"),
            "j": jj.ravel().astype("int32"),
            "i": ii.ravel().astype("int32"),
            "value": val.ravel(),
        }
    )
    pdf = pdf[~((pdf.t == SPARSE_T) & (pdf.j == 4))]
    return spark.createDataFrame(pdf, schema=PIXEL_SCHEMA).withColumn(
        "value",
        F.when(F.col("t") == NULL_T, F.lit(None).cast("double"))
        .otherwise(F.col("value")),
    )


def _affine(spark, src, num_t):
    from xcube_resampling_spark.operators.affine import gather_fused

    return gather_fused(
        spark, src, (0.5, -0.25, 0.5, -0.25), (SRC_W, SRC_H),
        (2 * SRC_W, 2 * SRC_H), num_t, 1, False, FILL, block_rows=7,
    )


def _rectify(spark, src, num_t):
    from xcube_resampling_spark.operators.rectify import (
        fuse_coords_values,
        rectify_fused_tiled,
    )

    jj, ii = np.meshgrid(np.arange(SRC_H), np.arange(SRC_W), indexing="ij")
    coords = spark.createDataFrame(pd.DataFrame(
        {
            "j": jj.ravel().astype("int32"),
            "i": ii.ravel().astype("int32"),
            "x": (10.0 + 0.05 * ii + 0.013 * jj).ravel(),
            "y": (50.0 - 0.05 * jj + 0.011 * ii).ravel(),
        }
    ))
    tgm = GridMapping.regular((24, 30), (9.95, 48.9), 0.045, CRS_WGS84)
    return rectify_fused_tiled(
        fuse_coords_values(coords, src, num_t), tgm, (SRC_W, SRC_H),
        num_t, "bilinear", FILL, False, block_rows=8, dst_block_rows=8,
    )


def _reproject(spark, src, num_t):
    from xcube_resampling_spark.operators.reproject import (
        gather_interp_fused,
    )

    tjj, tii = np.meshgrid(np.arange(16), np.arange(14), indexing="ij")
    grid2d = spark.createDataFrame(pd.DataFrame(
        {
            "j": tjj.ravel().astype("int32"),
            "i": tii.ravel().astype("int32"),
            "ix": (1.17 * tii + 0.1 * np.sin(tjj * 0.3) - 1.0).ravel(),
            "iy": (1.23 * tjj + 0.2 * np.cos(tii * 0.2) - 0.5).ravel(),
        }
    ))
    return gather_interp_fused(
        grid2d, src, spark, (SRC_W, SRC_H), num_t, "bilinear", FILL,
        False, block_rows=8,
    )


def _sorted(df) -> pd.DataFrame:
    return df.select("t", "j", "i", "value").toPandas() \
        .sort_values(["t", "j", "i"]).reset_index(drop=True)


@pytest.mark.parametrize("op", [_affine, _rectify, _reproject],
                         ids=["affine", "rectify", "reproject"])
def test_unpacked_presence_matches_packed(spark, op):
    src = _stack(spark)
    got = _sorted(op(spark, src, NUM_T))

    packed = _sorted(
        op(spark, src.filter(F.col("t") < PACKED_MAX_T), PACKED_MAX_T)
    )
    last_slice = src.filter(F.col("t") == PACKED_MAX_T)
    last = _sorted(op(spark, last_slice.withColumn("t", F.lit(0)), 1))
    last["t"] = PACKED_MAX_T
    want = pd.concat([packed, last]).sort_values(["t", "j", "i"]) \
        .reset_index(drop=True)

    assert set(got["t"]) == set(range(NUM_T))
    np.testing.assert_array_equal(
        got[["t", "j", "i"]].to_numpy(), want[["t", "j", "i"]].to_numpy()
    )
    a = got["value"].to_numpy()
    b = want["value"].to_numpy()
    same = (np.isnan(a) & np.isnan(b)) | (a == b)
    assert same.all(), f"{int((~same).sum())} mismatches of {len(a)}"
    # the NULL slice reads fill everywhere; the others carry data
    t = got["t"].to_numpy()
    assert (a[t == NULL_T] == FILL).all()
    assert (np.isfinite(a[t == 0]) & (a[t == 0] != FILL)).any()

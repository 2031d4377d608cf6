"""The 2^31 source-pixel key bound of the three fused kernels.

Each kernel routes a source pixel through its shuffle as one int64
``j * 2^31 + i``.  A source extent of 2^31 or more would alias keys, so
each operator must refuse it on the driver, while building the plan,
before any Spark job runs.
"""

import uuid

import pytest
from pyspark.sql import functions as F

from xcube_resampling_spark.crs import CRS_WGS84
from xcube_resampling_spark.gridmapping import GridMapping

TOO_WIDE = (2 ** 31, 1)


def _pixels(spark):
    return spark.range(4).select(
        F.lit(0).alias("t"),
        F.lit(0).alias("j"),
        F.col("id").cast("int").alias("i"),
        F.col("id").cast("double").alias("value"),
    )


def _affine(spark):
    from xcube_resampling_spark.operators.affine import gather_fused

    gather_fused(spark, _pixels(spark), (1.0, 0.0, 1.0, 0.0), TOO_WIDE,
                 (4, 1), 1, 0, False, float("nan"))


def _rectify(spark):
    from xcube_resampling_spark.operators.rectify import rectify_fused_tiled

    fused = _pixels(spark).select(
        "j", "i", F.col("value").alias("x"), F.lit(0.0).alias("y"),
        F.col("value").alias("val_0"),
    )
    tgm = GridMapping.regular((4, 4), (0.0, 0.0), 1.0, CRS_WGS84)
    rectify_fused_tiled(fused, tgm, TOO_WIDE)


def _reproject(spark):
    from xcube_resampling_spark.operators.reproject import (
        gather_interp_fused,
    )

    grid2d = _pixels(spark).select(
        "j", "i", F.col("value").alias("ix"), F.lit(0.0).alias("iy"),
    )
    gather_interp_fused(grid2d, _pixels(spark), spark, TOO_WIDE, 1,
                        "nearest", float("nan"), False)


@pytest.mark.parametrize("op", [_affine, _rectify, _reproject],
                         ids=["affine", "rectify", "reproject"])
def test_source_extent_at_key_bound_raises_at_plan_time(spark, op):
    sc = spark.sparkContext
    group = f"key-bound-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pixel-key bound")
    try:
        with pytest.raises(ValueError, match="2\\^31"):
            op(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []

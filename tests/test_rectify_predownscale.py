"""Rectify's affine pre-downscale through the public ``resample_in_space``.

A source finer than its target (resolution ratio < SCALE_LIMIT) is
downscaled, values and 2-D coordinate images together, before the
scatter.  These tests pin the outputs of that route with golden
checksums and the exchanges of its plan, count the Spark jobs
``resample_in_space`` runs before any output is requested, and cover
swath sizes whose downscaled coordinates carry a NaN edge row/column.
"""

import hashlib
import re
import uuid

import numpy as np
import pytest

from xcube_resampling_spark import GridMapping, SparkDataset, resample_in_space
from xcube_resampling_spark.crs import CRS, CRS_WGS84


def _swath(w, h, lon0=0.0, nt=0):
    """Sheared lon/lat swath with the 0.01 deg steps of the S3-OLCI
    benchmark scene (resolution ratio 0.8 against a 0.0125 deg target);
    ``nt`` > 0 makes a (t, y, x) variable."""
    jj, ii = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    lon = lon0 + 0.01 * ii + 0.003 * jj
    lon = np.where(lon >= 180.0, lon - 360.0, lon)
    lat = 60.0 - 0.01 * jj + 0.002 * ii
    values = np.sin(ii * 0.01) + np.cos(jj * 0.01)
    if nt:
        values = np.stack([values * (k + 1) for k in range(nt)])
        dims = ("t", "y", "x")
    else:
        dims = ("y", "x")
    return lon, lat, dims, values


def _dataset(spark, w, h, lon0=0.0, nt=0, dtype=None, second_var=False):
    """``dtype`` scales ``rtoa`` by 1000 and casts it; ``second_var``
    adds a float64 ``rdif`` that is not a multiple of ``rtoa``."""
    lon, lat, dims, values = _swath(w, h, lon0, nt)
    data_vars = {"rtoa": (dims, values)}
    if dtype is not None:
        data_vars["rtoa"] = (dims, np.round(values * 1000).astype(dtype))
    if second_var:
        data_vars["rdif"] = (dims, np.cos(values) * lat)
    return SparkDataset.from_numpy(
        spark,
        data_vars=data_vars,
        coords={"lon": lon, "lat": lat},
        yx_dims=("y", "x"),
    )


def _checksum(ds) -> str:
    """Value checksum of every data variable, rows in (t, j, i) order,
    values quantised to 1e-6 (NaN as its own token), plus the output's
    coordinate names."""
    h = hashlib.sha256()
    for name in sorted(ds.data_vars):
        pdf = ds.data_vars[name].df.select("t", "j", "i", "value") \
            .toPandas().sort_values(["t", "j", "i"])
        v = pdf["value"].to_numpy(np.float64)
        q = np.where(np.isnan(v), np.int64(-(2 ** 62)),
                     np.round(np.nan_to_num(v) * 1e6).astype(np.int64))
        h.update(name.encode())
        for col in ("t", "j", "i"):
            h.update(pdf[col].to_numpy(np.int64).tobytes())
        h.update(q.tobytes())
    h.update(",".join(sorted(ds.coords)).encode())
    return h.hexdigest()[:16]


# The benchmark scene's target: 0.0125 deg WGS84 over the swath footprint.
SCENE_TARGET = ((228, 158), (0.0, 58.5), 0.0125, 4326)
UTM31 = 32631

# input -> (swath w, h, lon0, nt), target (size, xy_min, res, EPSG),
# resample_in_space keyword arguments, extra _dataset arguments
CASES = {
    "scene_nearest": ((240, 150, 0.0, 0), SCENE_TARGET,
                      {"interp_methods": "nearest"}, {}),
    "scene_default": ((240, 150, 0.0, 0), SCENE_TARGET, {}, {}),
    "antimeridian": ((160, 100, 179.3, 0),
                     ((168, 120), (179.2, 58.9), 0.0125, 4326), {}, {}),
    "stack_3d": ((120, 80, 0.0, 3),
                 ((116, 86), (0.0, 59.15), 0.0125, 4326), {}, {}),
    # CRS-transform route: lon/lat swath -> UTM 31N at 1500 m
    "utm_target": ((60, 40, 0.0, 0),
                   ((27, 38), (332000.0, 6611000.0), 1500.0, UTM31),
                   {}, {}),
    # the value is nearest; the coordinates fall back to bilinear + mean
    "per_name_nearest": ((240, 150, 0.0, 0), SCENE_TARGET,
                         {"interp_methods": {"rtoa": "nearest"}}, {}),
    # int defaults (nearest, center) differ from the coordinates'
    "int16": ((240, 150, 0.0, 0), SCENE_TARGET, {}, {"dtype": "int16"}),
    "two_vars": ((240, 150, 0.0, 0), SCENE_TARGET, {},
                 {"second_var": True}),
    # std takes the dense window aggregation; the coordinates keep mean
    "per_name_std": ((240, 150, 0.0, 0), SCENE_TARGET,
                     {"agg_methods": {"rtoa": "std"}}, {}),
}

# Recorded before rectify's pre-downscale stopped estimating grid
# statistics for the downscaled coordinates (the first five), and before
# it routed values and coordinates through one affine pass (the rest).
GOLDEN = {
    "scene_nearest": "f8d3dd0c598af22c",
    "scene_default": "ad34b76a77af80a0",
    "antimeridian": "f46d85315c668e64",
    "stack_3d": "c1c77b16e0e150e8",
    "utm_target": "474baf4bcb030f0c",
    "per_name_nearest": "b92594d8ddf1a786",
    "int16": "6541301bc4893e39",
    "two_vars": "cf600ce39f17bd20",
    "per_name_std": "06fe8609099eb599",
}


def _target(size, xy_min, res, epsg):
    crs = CRS_WGS84 if epsg == 4326 else CRS.from_epsg(epsg)
    return GridMapping.regular(size, xy_min, res, crs)


def _run_case(spark, case):
    (w, h, lon0, nt), target, kwargs, data = CASES[case]
    return resample_in_space(
        _dataset(spark, w, h, lon0, nt, **data), _target(*target),
        **kwargs,
    )


@pytest.mark.parametrize("case", sorted(CASES))
def test_golden_checksums(spark, case):
    assert _checksum(_run_case(spark, case)) == GOLDEN[case]


def test_scene_nearest_plan_exchanges(spark):
    """Values and both coordinate planes share one affine pass, whose
    kernel emits the scatter input: one affine exchange plus rectify's
    two, and no join."""
    out = _run_case(spark, "scene_nearest")
    plan = out.data_vars["rtoa"].df._jdf.queryExecution() \
        .executedPlan().toString()
    assert len(re.findall(r"(?<![A-Za-z])Exchange ", plan)) == 3
    for node in ("BroadcastExchange", "BroadcastHashJoin", "SortMergeJoin"):
        assert node not in plan


def _plan_jobs(spark, fn):
    """Run ``fn`` under its own job group; return its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "resample_in_space plan")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestPlanTimeJobs:
    """``resample_in_space`` builds the rectify plan lazily: the same-CRS
    pre-downscale route starts no Spark job; the CRS-transform route
    only pays the grid-statistics aggregation over the transformed
    coordinates, whose resolution decides the pre-downscale."""

    def test_same_crs_predownscale_runs_no_job(self, spark):
        ds = _dataset(spark, 240, 150)
        target_gm = _target(*SCENE_TARGET)
        out, n_jobs = _plan_jobs(
            spark,
            lambda: resample_in_space(ds, target_gm,
                                      interp_methods="nearest"),
        )
        assert n_jobs == 0
        assert out.data_vars["rtoa"].df.count() == 228 * 158

    def test_crs_transform_route_job_count(self, spark):
        (w, h, lon0, nt), target, _, _ = CASES["utm_target"]
        ds = _dataset(spark, w, h, lon0, nt)
        target_gm = _target(*target)
        _, n_jobs = _plan_jobs(
            spark, lambda: resample_in_space(ds, target_gm)
        )
        # GridMappingDF.from_coords_df's window shuffles and aggregation
        # over the transformed coords, as adaptive execution submits them
        assert n_jobs == 4


@pytest.mark.parametrize("size", [(472, 297), (473, 297)])
def test_odd_size_swath_with_nan_downscaled_edge(spark, size):
    """0.8 x the swath size is not a whole number: the downscaled
    coordinate images get a NaN last row/column.  The call must still
    plan and fill the whole target grid with values inside the source's
    range."""
    w, h = size
    _, _, _, values = _swath(w, h)
    target_gm = _target((448, 311), (0.0, 57.05), 0.0125, 4326)
    out = resample_in_space(_dataset(spark, w, h), target_gm)
    v = out.data_vars["rtoa"].df.select("value").toPandas()["value"] \
        .to_numpy(np.float64)
    assert len(v) == 448 * 311
    finite = v[np.isfinite(v)]
    assert len(finite) > 0
    assert finite.min() >= values.min()
    assert finite.max() <= values.max()

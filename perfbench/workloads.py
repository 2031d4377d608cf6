"""The benchmark's workloads: seeded inputs, the public calls, the checks.

Every workload is one closed-loop call through the public API:

    build or open the source  ->  resample_in_space  ->  materialize

and each phase is a separate method so the runner can time it (and, in
the traced run, give it its own Spark job group).

Inputs are generated from the seed and only the inputs reach the
program.  The seed draws the sign and a power-of-two scale of the value
field.  Both resampling paths here are linear in the values (nearest
picks, affine pre-downscale means), and scaling by a power of two is
exact in binary floating point, so the output divided by that scale is
bit-for-bit the same for every seed: one recorded checksum
(``expected.json``) checks the output of any seed.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib

import numpy as np

from perfbench import checksum

HERE = os.path.dirname(os.path.abspath(__file__))


def seeded_scale(seed: int) -> float:
    """Sign times a power of two in [2^-16, 2^16], drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    return float(rng.choice([-1.0, 1.0]) * 2.0 ** int(rng.integers(-16, 17)))


def expected_checksums() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


class CheckFailed(Exception):
    """The program's output does not match the recorded checksum."""


def noop(df) -> None:
    """Materialize every column of ``df`` without keeping it."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One workload instance: fixed geometry, seeded values."""

    name = ""
    out_shape: tuple[int, ...] = ()
    # a warm call's wall time on 4 vCPU; --seconds / this = timed calls
    nominal_call_s = 1.0
    # untimed calls after the checked one, until calls stop speeding up
    warmup_calls = 0
    # the layer the build call goes into
    source_layer = "dataset"

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.scale = seeded_scale(seed)
        self.workdir = workdir

    @property
    def out_px(self) -> int:
        return int(np.prod(self.out_shape))

    def setup(self) -> None:
        """Generate the inputs (untimed as a call; part of set-up)."""

    def build(self):
        """First public call: build or open the source dataset."""
        raise NotImplementedError

    def plan(self, src):
        """The ``resample_in_space`` call; returns the result dataset."""
        raise NotImplementedError

    def execute(self, out) -> None:
        """Materialize the result (write to Zarr or the noop sink)."""
        raise NotImplementedError

    def checked_call(self) -> str:
        """One whole call whose output is kept and verified; raises
        ``CheckFailed`` on a wrong output."""
        raise NotImplementedError

    def after_call(self) -> None:
        """Verify and remove what the last call wrote, if it kept
        anything; raises ``CheckFailed`` on a wrong output."""

    def _verify(self, t, j, i, values) -> str:
        want = expected_checksums()[self.name]
        got = checksum.pixels(t, j, i, np.asarray(values) / self.scale)
        if len(values) != self.out_px:
            raise CheckFailed(f"{len(values)} rows, want {self.out_px}")
        if got != want:
            raise CheckFailed(f"checksum {got}, want {want}")
        return f"{len(values)} rows, checksum {got}"


class RectifyScene(Workload):
    """Sheared swath with 2-D lon/lat -> regular WGS84 grid, nearest.

    The paper's S3-OLCI rectification at an eighth of the linear size
    (1890x1189 -> 240x150): the steps, the shear and the 0.0125 deg
    target resolution are kept, so the source/target resolution ratio
    stays 0.8 and ``resample_in_space`` still takes the affine
    pre-downscale route with its plan-time grid-mapping jobs.  The
    target covers the swath's footprint, as the paper's 1800x1256 grid
    does.
    """

    name = "rectify_scene"
    SRC_W, SRC_H = 240, 150
    out_shape = (158, 228)
    nominal_call_s = 4.0
    warmup_calls = 5

    def setup(self) -> None:
        h, w = self.SRC_H, self.SRC_W
        jj, ii = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        self.lon = 0.01 * ii + 0.003 * jj
        self.lat = 60.0 - 0.01 * jj + 0.002 * ii
        self.values = self.scale * (np.sin(ii * 0.01) + np.cos(jj * 0.01))

    def build(self):
        from xcube_resampling_spark import SparkDataset

        return SparkDataset.from_numpy(
            self.spark,
            data_vars={"rtoa": (("y", "x"), self.values)},
            coords={"lon": self.lon, "lat": self.lat},
            yx_dims=("y", "x"),
        )

    def target_gm(self):
        from xcube_resampling_spark import GridMapping
        from xcube_resampling_spark.crs import CRS_WGS84

        th, tw = self.out_shape
        return GridMapping.regular((tw, th), (0.0, 58.5), 0.0125, CRS_WGS84)

    def plan(self, src):
        from xcube_resampling_spark import resample_in_space

        return resample_in_space(src, self.target_gm(),
                                 interp_methods="nearest")

    def source_df(self, src):
        return src.data_vars["rtoa"].df

    def result_df(self, out):
        return out.data_vars["rtoa"].df

    def execute(self, out) -> None:
        noop(self.result_df(out))

    def checked_call(self) -> str:
        out = self.plan(self.build())
        pdf = self.result_df(out).select("t", "j", "i", "value").toPandas()
        return self._verify(pdf["t"].to_numpy(), pdf["j"].to_numpy(),
                            pdf["i"].to_numpy(), pdf["value"].to_numpy())


class ZarrReprojectRoundtrip(Workload):
    """Zarr store (UTM 32N, 5 x 256^2, zlib) -> LAEA (EPSG:3035),
    nearest -> Zarr store.

    The BASELINE.md 5-date stack shape (UTM -> LAEA, 1024^2 -> 1000^2)
    at a quarter of the linear size, read from and written to CF Zarr
    so the chunk decode and encode run beside the CRS-transform UDF and
    the reproject cogroup kernel."""

    name = "zarr_reproject_roundtrip"
    source_layer = "sources.zarr"
    N, NT, CHUNK = 256, 5, 128
    out_shape = (5, 250, 250)
    nominal_call_s = 2.0
    warmup_calls = 2

    def setup(self) -> None:
        from xcube_resampling_spark import GridMapping, SparkDataset
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.sources.zarr import write_zarr_cf

        n, nt = self.N, self.NT
        tt, jj, ii = np.meshgrid(np.arange(nt), np.arange(n), np.arange(n),
                                 indexing="ij")
        values = self.scale * (np.sin(ii * 0.05 + tt) + np.cos(jj * 0.03))
        self.src_path = os.path.join(self.workdir, "source.zarr")
        shutil.rmtree(self.src_path, ignore_errors=True)
        ds = SparkDataset.from_numpy(
            self.spark, data_vars={"v": (("t", "y", "x"), values)})
        gm = GridMapping.regular(
            (n, n), (500000.0, 5900000.0 - 100.0 * n), 100.0,
            CRS.from_epsg(32632), tile_size=(self.CHUNK, self.CHUNK))
        write_zarr_cf(ds.data_vars["v"].df, self.src_path, "v", gm, nt=nt,
                      time_values=np.arange(nt, dtype="int64"),
                      time_units="days since 2020-01-01")
        self.calls = 0

    def target_gm(self):
        from xcube_resampling_spark import GridMapping
        from xcube_resampling_spark.crs import CRS

        _nt, th, tw = self.out_shape
        return GridMapping.regular(
            (tw, th), (4254000.0, 3324000.0), 100.0, CRS.from_epsg(3035),
            tile_size=(125, 125))

    def build(self):
        from xcube_resampling_spark.sources.zarr import open_zarr_dataset

        return open_zarr_dataset(self.spark, self.src_path)

    def plan(self, src):
        from xcube_resampling_spark import resample_in_space

        ds, gm = src
        return resample_in_space(ds, self.target_gm(), source_gm=gm,
                                 interp_methods="nearest")

    def source_df(self, src):
        return src[0].data_vars["v"].df

    def result_df(self, out):
        return out.data_vars["v"].df

    def execute(self, out) -> None:
        from xcube_resampling_spark.sources.zarr import write_zarr_cf

        self.calls += 1
        self.out_path = os.path.join(self.workdir, f"out{self.calls}.zarr")
        shutil.rmtree(self.out_path, ignore_errors=True)
        write_zarr_cf(self.result_df(out), self.out_path, "v",
                      self.target_gm(), nt=self.NT)

    def crs_probe_df(self):
        """The CRS-transform UDF alone: the target pixel centres mapped
        into the source CRS, as the reproject path transforms them.
        Returns ``(DataFrame, points)``."""
        from pyspark.sql import functions as F

        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.operators.reproject import (
            transform_coords_df,
        )

        tgm = self.target_gm()
        tw, th = tgm.size
        grid = self.spark.range(tw * th).select(
            (F.col("id") % tw).alias("i"), (F.col("id") / tw).cast("long")
            .alias("j"))
        grid = grid.select(
            (float(tgm.x_min) + (F.col("i") + 0.5) * float(tgm.x_res))
            .alias("tx"),
            (float(tgm.y_max) - (F.col("j") + 0.5) * float(tgm.y_res))
            .alias("ty"))
        df = transform_coords_df(grid, "tx", "ty", tgm.crs,
                                 CRS.from_epsg(32632))
        return df, tw * th

    def checked_call(self) -> str:
        self.execute(self.plan(self.build()))
        return self.after_call()

    def after_call(self) -> str:
        try:
            arr = read_zarr_v2(self.out_path, "v")
        finally:
            shutil.rmtree(self.out_path, ignore_errors=True)
        t, j, i = np.meshgrid(*(np.arange(s) for s in arr.shape),
                              indexing="ij")
        return self._verify(t.ravel(), j.ravel(), i.ravel(), arr.ravel())

    def written(self) -> tuple[int, int]:
        """``(bytes, chunk files)`` of the data variable last written."""
        d = os.path.join(self.out_path, "v")
        chunks = [f for f in os.listdir(d) if not f.startswith(".")]
        size = sum(os.path.getsize(os.path.join(d, f)) for f in chunks)
        return size, len(chunks)


def read_zarr_v2(path: str, var: str) -> np.ndarray:
    """Dense array of a zlib (or uncompressed) little-endian float64
    Zarr v2 variable, decoded with the standard library only -- an
    independent reader for checking what the program wrote."""
    with open(os.path.join(path, var, ".zarray")) as f:
        meta = json.load(f)
    shape, chunks = meta["shape"], meta["chunks"]
    if meta["dtype"] != "<f8" or meta.get("filters"):
        raise ValueError(f"unsupported zarr array {meta}")
    comp = (meta.get("compressor") or {}).get("id")
    if comp not in (None, "zlib"):
        raise ValueError(f"unsupported compressor {comp!r}")
    fill = meta.get("fill_value")
    fill = np.nan if fill in (None, "NaN") else float(fill)
    out = np.full(shape, fill, dtype="<f8")
    grid = [range(-(-s // c)) for s, c in zip(shape, chunks)]
    for key in np.ndindex(*(len(g) for g in grid)):
        p = os.path.join(path, var, ".".join(map(str, key)))
        if not os.path.exists(p):
            continue
        with open(p, "rb") as f:
            raw = f.read()
        block = np.frombuffer(zlib.decompress(raw) if comp else raw,
                              dtype="<f8").reshape(chunks)
        sl = tuple(slice(k * c, min((k + 1) * c, s))
                   for k, c, s in zip(key, chunks, shape))
        out[sl] = block[tuple(slice(0, x.stop - x.start) for x in sl)]
    return out


WORKLOADS = {w.name: w for w in (RectifyScene, ZarrReprojectRoundtrip)}

"""Logical planning rules of the engine, exposed for inspection.

The engine has no custom Catalyst rules (SURVEY.md section 4: every rewrite
is a pipeline-construction-time decision); this module makes those
decisions inspectable and testable independently of execution:

* **route selection** (reference spatial.py:124-168): rectify vs identity
  vs affine vs reproject,
* **pre-downscale** (reference reproject.py:338-382, SCALE_LIMIT): whether
  a reprojection should clip + downscale the source first,
* Catalyst is trusted for predicate pushdown, column pruning, partition
  pruning, join selection, and whole-stage codegen -- the physical-plan
  assertions live in tests (e.g. tests/test_sources.py checks
  PartitionFilters reach the scan).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

from ..constants import SCALE_LIMIT
from ..crs import Transformer
from ..gridmapping import GridMapping
from ..operators.utils import can_apply_affine_transform


@dataclass(frozen=True)
class ResamplePlan:
    """The logical route resample_in_space will take."""

    route: str  # "rectify" | "identity" | "affine" | "reproject"
    pre_downscale: bool = False
    downscale_x: float = 1.0
    downscale_y: float = 1.0


class PreDownscale(NamedTuple):
    """A reprojection's pre-downscale: the source-to-target resolution
    ratios, and the target's bbox and resolution in the source CRS."""

    x_scale: float
    y_scale: float
    bbox: tuple[float, float, float, float]
    x_res: float
    y_res: float


def plan_resample(
    source_gm: GridMapping, target_gm: GridMapping | None
) -> ResamplePlan:
    """Pure route-selection logic (reference spatial.py:124-168)."""
    if not source_gm.is_regular:
        return ResamplePlan("rectify")
    if target_gm is None:
        return ResamplePlan("identity")
    GridMapping.assert_regular(target_gm, name="target_gm")
    if source_gm.is_close(target_gm):
        return ResamplePlan("identity")
    if can_apply_affine_transform(source_gm, target_gm):
        return ResamplePlan("affine")
    down = plan_pre_downscale(source_gm, target_gm)
    return ResamplePlan(
        "reproject",
        pre_downscale=down is not None,
        downscale_x=down.x_scale if down else 1.0,
        downscale_y=down.y_scale if down else 1.0,
    )


def plan_pre_downscale(
    source_gm: GridMapping, target_gm: GridMapping
) -> PreDownscale | None:
    """Whether reprojection should downscale the source first
    (reference reproject.py:338-352: scales < SCALE_LIMIT trigger it).
    Returns the :class:`PreDownscale` or None."""
    transformer = Transformer.from_crs(target_gm.crs, source_gm.crs)
    bbox_trans = transformer.transform_bounds(*target_gm.xy_bbox)
    xres_trans = (bbox_trans[2] - bbox_trans[0]) / target_gm.width
    yres_trans = (bbox_trans[3] - bbox_trans[1]) / target_gm.height
    x_scale = source_gm.x_res / xres_trans
    y_scale = source_gm.y_res / yres_trans
    if x_scale < SCALE_LIMIT or y_scale < SCALE_LIMIT:
        return PreDownscale(
            x_scale, y_scale, tuple(bbox_trans), xres_trans, yres_trans
        )
    return None


__all__ = ["PreDownscale", "ResamplePlan", "plan_resample",
           "plan_pre_downscale"]

"""Dispatcher: pick rectify / affine / reproject automatically.

Parity reference: /root/reference/xcube_resampling/spatial.py:40-168.
"""

from __future__ import annotations

from ..constants import LOG
from ..dataset import SparkDataset
from ..gridmapping import GridMapping
from ..plans import plan_resample
from .affine import affine_transform_dataset
from .rectify import rectify_dataset
from .reproject import reproject_dataset


def resample_in_space(
    source_ds: SparkDataset,
    target_gm: GridMapping | None = None,
    source_gm: GridMapping | None = None,
    variables=None,
    interp_methods=None,
    agg_methods=None,
    recover_nans=False,
    fill_values=None,
    tile_size=None,
) -> SparkDataset:
    """Resample a dataset to a target grid mapping, choosing the cheapest
    applicable algorithm (reference spatial.py:121-168):

    * irregular source -> rectify
    * no target & regular source -> warn + return input
    * grids close -> identity (return input)
    * same CRS (or both geographic) -> affine
    * otherwise -> reproject
    """
    if source_gm is None:
        source_gm = source_ds.grid_mapping()
    route = plan_resample(source_gm, target_gm).route

    if route == "identity":
        if target_gm is None:
            LOG.warning(
                "If source grid mapping is regular `target_gm` must be "
                "given. Source dataset is returned."
            )
        return source_ds
    kwargs = dict(
        source_gm=source_gm,
        variables=variables,
        interp_methods=interp_methods,
        agg_methods=agg_methods,
        recover_nans=recover_nans,
        fill_values=fill_values,
    )
    if route == "rectify":
        return rectify_dataset(
            source_ds, target_gm=target_gm, tile_size=tile_size, **kwargs
        )
    if route == "affine":
        return affine_transform_dataset(source_ds, target_gm, **kwargs)
    return reproject_dataset(source_ds, target_gm, **kwargs)

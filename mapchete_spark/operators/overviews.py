"""Array-payload pyramid reduction (Z1 'baselevels/overviews').

Lower-zoom overview tiles are interpolated from their 4 children:
mosaic the child arrays and resample onto the parent grid
(mapchete/processing/tasks.py:378-450, lower path :408-448; default
resampling 'nearest', config/base.py:535-536). ``reduce_children`` is
that one body. The first overview zoom below a DEM process zoom is
reduced inside the process task, from the children it just computed
(operators/halo.py ``run_windowed_process``); below that level, and for
parents whose children were stored earlier, the Spark shape is one
``groupBy(parent_key).applyInPandas`` per zoom step, iterating
max -> min (the reference's zoom-descending batches,
processing/base.py:799-845); each step shuffles only the previous
level's tiles.

The higher-zoom path (children from parent, tasks.py:398-406) is
``overview_upsample`` — a per-row mapInPandas explode (parent ->
4 children), no shuffle at all.
"""

from __future__ import annotations

from typing import Iterator, List, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapchete_spark.operators.checkpoint import PASS_ALL, KeyFilter
from mapchete_spark.operators.rastertable import (
    RASTER_COLUMNS,
    RASTER_SCHEMA,
    decode_rows,
    raster_row,
)
from mapchete_spark.raster.array import resample_from_array
from mapchete_spark.raster.mosaic import create_mosaic
from mapchete_spark.tilegrid.pyramid import Tile, TilePyramid
from mapchete_spark.tilegrid.keys import split_linear_tile_key
from mapchete_spark.functions.geo import parent_tile_key_col


def reduce_children(
    parent: Tile, children: Sequence[Tuple[Tile, np.ndarray]], nodata: float,
    resampling: str,
) -> dict:
    """The overview row (column -> value) of ``parent`` from its
    children, (Tile, masked array) pairs at the zoom below: their mosaic
    resampled onto the parent's grid."""
    mosaic, mbounds = create_mosaic(children, nodata=nodata)
    out = resample_from_array(
        mosaic,
        mbounds,
        parent.bounds(pixelbuffer=0),
        parent.shape(pixelbuffer=0),
        resampling=resampling,
        nodata=nodata,
    )
    return raster_row(parent, out, nodata)


def overview_reduce_once(
    tiles: DataFrame,
    pyramid: TilePyramid,
    resampling: str = "nearest",
    parents: KeyFilter = PASS_ALL,
) -> DataFrame:
    """One pyramid step: children at zoom z -> parents at zoom z-1.
    ``parents`` (continue mode, a checkpoint.KeyFilter of parent keys)
    drops the children of the parents it excludes before the shuffle."""
    pyr_dict = pyramid.to_dict()

    with_parent = parents.apply(
        tiles.withColumn(
            "parent_key",
            parent_tile_key_col(F.col("zoom"), F.col("tile_row"), F.col("tile_col")),
        ),
        "parent_key",
    )

    def reduce_group(key: Tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        p = TilePyramid(**pyr_dict)
        z, prow, pcol = split_linear_tile_key(int(key[0]))
        decoded = list(decode_rows(pdf, p))
        row = reduce_children(
            Tile(p, int(z), int(prow), int(pcol)),
            [(tile, arr) for tile, _, arr, _ in decoded], decoded[0][3], resampling,
        )
        return pd.DataFrame([row], columns=RASTER_COLUMNS)

    return with_parent.groupBy("parent_key").applyInPandas(
        reduce_group, schema=RASTER_SCHEMA
    )


def build_overviews(
    base_tiles: DataFrame,
    pyramid: TilePyramid,
    base_zoom: int,
    min_zoom: int,
    resampling: str = "nearest",
) -> List[Tuple[int, DataFrame]]:
    """All overview levels from base_zoom-1 down to min_zoom.
    Returns [(zoom, DataFrame), ...]; caller persists/writes each level
    (one Spark action per zoom = the reference's batch order)."""
    out: List[Tuple[int, DataFrame]] = []
    cur = base_tiles
    for z in range(base_zoom - 1, min_zoom - 1, -1):
        cur = overview_reduce_once(cur, pyramid, resampling=resampling)
        out.append((z, cur))
    return out


def overview_upsample(
    parents: DataFrame, pyramid: TilePyramid, resampling: str = "nearest"
) -> DataFrame:
    """Higher-zoom interpolation: each parent tile emits its 4 children
    resampled from the parent window (tasks.py:398-406). Narrow
    (no-shuffle) explode."""
    pyr_dict = pyramid.to_dict()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = TilePyramid(**pyr_dict)
        for pdf in batches:
            out = []
            for parent, _, arr, nodata in decode_rows(pdf, p):
                for child in parent.get_children():
                    sub = resample_from_array(
                        arr,
                        parent.bounds(pixelbuffer=0),
                        child.bounds(pixelbuffer=0),
                        child.shape(pixelbuffer=0),
                        resampling=resampling,
                        nodata=nodata,
                    )
                    out.append(raster_row(child, sub, nodata))
            yield pd.DataFrame(out, columns=RASTER_COLUMNS)

    return parents.mapInPandas(gen, schema=RASTER_SCHEMA)

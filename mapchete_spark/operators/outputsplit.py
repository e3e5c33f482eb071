"""Process-tile -> output-tile split (Z4 / S5 semantics).

The reference allows output metatiling < process metatiling: one
process (meta)tile's array is cut into the intersecting smaller output
tiles at write time (mapchete/formats/default/gtiff.py:370-382 via
extract_subset, formats/base.py:236-265).

Spark shape: a narrow mapInPandas explode — each process-tile row
emits its output-tile windows by pure numpy slicing; no shuffle at all
(output tiles nest exactly inside process tiles on the dyadic grid).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from mapchete_spark.operators.rastertable import (
    RASTER_COLUMNS,
    RASTER_SCHEMA,
    decode_rows,
    raster_row,
)
from mapchete_spark.raster.array import extract_from_array
from mapchete_spark.tilegrid.pyramid import TilePyramid


def split_to_output_tiles(
    process_tiles: DataFrame,
    process_pyramid: TilePyramid,
    output_pyramid: TilePyramid,
) -> DataFrame:
    """Cut process-tile arrays into the output pyramid's tiles.

    Requires output metatiling <= process metatiling (validated by the
    config layer, mapchete/config/base.py:171-174) and both pyramids on
    the same grid. Input arrays must be unbuffered.
    """
    if output_pyramid.metatiling > process_pyramid.metatiling:
        raise ValueError("output metatiling must be <= process metatiling")
    if output_pyramid.grid != process_pyramid.grid:
        raise ValueError("process and output pyramids must share a grid")
    p_dict = process_pyramid.to_dict()
    o_dict = output_pyramid.to_dict()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pp = TilePyramid(**p_dict)
        op = TilePyramid(**o_dict)
        for pdf in batches:
            out = []
            for ptile, _, arr, nodata in decode_rows(pdf, pp):
                pbounds = ptile.bounds(pixelbuffer=0)
                for otile in op.tiles_from_bounds(pbounds, ptile.zoom):
                    window = extract_from_array(arr, pbounds, otile.bounds())
                    if isinstance(window, np.ma.MaskedArray) and window.mask.all():
                        continue  # write-skip on empty output tile
                    out.append(raster_row(otile, window, nodata))
            yield pd.DataFrame(out, columns=RASTER_COLUMNS)

    return process_tiles.mapInPandas(gen, schema=RASTER_SCHEMA)

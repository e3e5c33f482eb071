"""TileDirectory input (S3): read a FOREIGN pyramid's tile table as the
input of a job, resolution-matching each target tile to a source zoom
(tile_to_zoom_level) and warping source mosaics onto the target grid.

Reference: mapchete/formats/default/tile_directory.py:31-462 — per tile:
pick source zoom (:428-438), read intersecting source tiles, mosaic,
resample to tile grid; optional fallback_to_higher_zoom loop (:439-452).

Spark shape: one pandas UDF computes (target_key -> src_key) join pairs
(pure grid math, no data), an equi-join pulls the source arrays, and a
groupBy(target) assembles mosaic+resample — i.e. the 'as-of join down
the zoom axis' becomes key arithmetic + one shuffle per fallback round;
rounds are driver-side iterations over the (small) unmatched remainder.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapchete_spark.operators.rastertable import (
    RASTER_COLUMNS,
    RASTER_SCHEMA,
    decode_rows,
    raster_row,
)
from mapchete_spark.raster.mosaic import create_mosaic
from mapchete_spark.tilegrid.pyramid import Tile, TilePyramid
from mapchete_spark.tilegrid.zoom_match import tile_to_zoom_level
from mapchete_spark.tilegrid.keys import linear_tile_key, split_linear_tile_key
from mapchete_spark.functions.geo import tile_key_col

_PAIR_SCHEMA = (
    "target_key long, src_key long, src_zoom int, src_row long, src_col long"
)


def target_source_pairs(
    targets: DataFrame,
    dst_pyramid: TilePyramid,
    src_pyramid: TilePyramid,
    matching_method: str = "gdal",
    zoom_offset: int = 0,
    matching_max_zoom: Optional[int] = None,
) -> DataFrame:
    """(target tile) -> covering (source tile) key pairs at the matched
    source zoom (+offset for fallback rounds). Pure grid math in a
    pandas UDF — no raster data moves here."""
    dst_dict = dst_pyramid.to_dict()
    src_dict = src_pyramid.to_dict()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapchete_spark.geometry.reproject import get_transform
        from mapchete_spark.tilegrid.grid import Bounds

        dst = TilePyramid(**dst_dict)
        src = TilePyramid(**src_dict)
        fwd = get_transform(dst.crs, src.crs)
        for pdf in batches:
            out = {k: [] for k in (
                "target_key", "src_key", "src_zoom", "src_row", "src_col",
            )}
            for tz, trow, tcol in zip(
                pdf["zoom"].values, pdf["tile_row"].values, pdf["tile_col"].values
            ):
                t = Tile(dst, int(tz), int(trow), int(tcol))
                sz = tile_to_zoom_level(t, src, matching_method=matching_method)
                sz += zoom_offset
                if matching_max_zoom is not None:
                    sz = min(sz, matching_max_zoom)
                if sz < 0:
                    continue
                tb = t.bounds(pixelbuffer=0)
                xs, ys = fwd([tb.left, tb.right], [tb.bottom, tb.top])
                sb = Bounds(
                    float(min(xs)), float(min(ys)), float(max(xs)), float(max(ys))
                )
                tkey = linear_tile_key(t.zoom, t.row, t.col)
                for s in src.tiles_from_bounds(sb, sz):
                    out["target_key"].append(tkey)
                    out["src_key"].append(linear_tile_key(s.zoom, s.row, s.col))
                    out["src_zoom"].append(s.zoom)
                    out["src_row"].append(s.row)
                    out["src_col"].append(s.col)
            yield pd.DataFrame(out)

    return targets.select("zoom", "tile_row", "tile_col").mapInPandas(
        gen, schema=_PAIR_SCHEMA
    )


def read_tiledir(
    spark: SparkSession,
    targets: DataFrame,
    src_table: DataFrame,
    dst_pyramid: TilePyramid,
    src_pyramid: TilePyramid,
    resampling: str = "nearest",
    matching_method: str = "gdal",
    fallback_to_higher_zoom: bool = False,
    max_fallback_rounds: int = 4,
) -> DataFrame:
    """Warp a foreign-pyramid tile table onto target tiles.

    Returns a raster table on the TARGET pyramid. Targets with no
    source data are dropped (or retried at higher source zooms when
    ``fallback_to_higher_zoom``, reference tile_directory.py:439-452).

    Note: 'warp' = closed-form CRS transform of target pixel centers +
    nearest/bilinear sampling of the source mosaic — exact for the
    geodetic<->mercator pair, no GDAL involved.
    """
    dst_dict = dst_pyramid.to_dict()
    src_dict = src_pyramid.to_dict()

    def warp_group(key: Tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from mapchete_spark.geometry.reproject import get_transform

        dst = TilePyramid(**dst_dict)
        src = TilePyramid(**src_dict)
        target_key = int(key[0])
        z, row, col = split_linear_tile_key(target_key)
        t = Tile(dst, int(z), int(row), int(col))
        decoded = list(decode_rows(pdf, src))
        nodata = decoded[0][3]
        mosaic, mbounds = create_mosaic(
            [(s, arr) for s, _, arr, _ in decoded], nodata=nodata
        )

        # sample target pixel centers through the CRS transform
        th, tw = t.shape(pixelbuffer=0)
        tb = t.bounds(pixelbuffer=0)
        px = tb.width / tw
        py = tb.height / th
        xs = tb.left + (np.arange(tw) + 0.5) * px
        ys = tb.top - (np.arange(th) + 0.5) * py
        gx, gy = np.meshgrid(xs, ys)
        fwd = get_transform(dst.crs, src.crs)
        sx, sy = fwd(gx.ravel(), gy.ravel())
        # nearest source pixel
        sh = mosaic.shape[-2:]
        mpx = mbounds.width / sh[1]
        mpy = mbounds.height / sh[0]
        ci = np.clip(((sx - mbounds.left) / mpx).astype(int), 0, sh[1] - 1)
        ri = np.clip(((mbounds.top - sy) / mpy).astype(int), 0, sh[0] - 1)
        out = mosaic[:, ri, ci].reshape(mosaic.shape[0], th, tw)
        rows = []
        if not (isinstance(out, np.ma.MaskedArray) and out.mask.all()):
            rows.append(raster_row(t, out, nodata))
        return pd.DataFrame(rows, columns=RASTER_COLUMNS)

    rounds = max_fallback_rounds if fallback_to_higher_zoom else 1
    remaining = targets
    outputs = []
    for offset in range(rounds):
        if remaining.isEmpty():
            break
        pairs = target_source_pairs(
            remaining, dst_pyramid, src_pyramid,
            matching_method=matching_method, zoom_offset=offset,
        )
        # each pair with the source tile's row
        joined = pairs.select("target_key", F.col("src_key").alias("tile_key")).join(
            src_table, on="tile_key"
        )
        warped = joined.groupBy("target_key").applyInPandas(
            warp_group, schema=RASTER_SCHEMA
        )
        outputs.append(warped)
        if not fallback_to_higher_zoom:
            break
        done_keys = warped.select(
            F.col("tile_key").alias("__done_key")
        ).distinct()
        remaining = remaining.join(
            done_keys,
            on=(
                tile_key_col(
                    F.col("zoom"), F.col("tile_row"), F.col("tile_col")
                )
                == F.col("__done_key")
            ),
            how="left_anti",
        )
    out = outputs[0]
    for o in outputs[1:]:
        out = out.unionByName(o)
    return out

"""``mapchete convert`` analog (J9 CLI breadth): generic retile / copy
of an existing tile-table output onto another pyramid configuration.

Reference semantics (mapchete/commands/convert.py): read a tile-based
input, optionally rescale values / change dtype (the convert process),
and write it on a new output pyramid — a different metatiling on the
same grid is a narrow split (Z4), a different grid is a TileDirectory
warp (S3). Zoom range defaults to what the source carries.
"""

from __future__ import annotations

import json
import os
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapchete_spark.operators.process import process_convert, run_raster_process
from mapchete_spark.operators.outputsplit import split_to_output_tiles
from mapchete_spark.operators.rastertable import read_tiles
from mapchete_spark.operators.tiledir import read_tiledir
from mapchete_spark.tilegrid.pyramid import TilePyramid


def convert(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    dst_pyramid: Optional[TilePyramid] = None,
    zoom_levels: Optional[List[int]] = None,
    scale_ratio: float = 1.0,
    scale_offset: float = 0.0,
    dtype: Optional[str] = None,
) -> Dict[str, int]:
    """Retile/copy <src_path>/tiles (+metadata.json) onto dst_pyramid at
    <dst_path>. Returns per-zoom written-tile counts."""
    with open(os.path.join(src_path, "metadata.json")) as f:
        src_meta = json.load(f)
    src_pyr = TilePyramid(**src_meta["pyramid"])
    dst_pyr = dst_pyramid or src_pyr
    tiles = read_tiles(spark, os.path.join(src_path, "tiles"))
    if zoom_levels is None:
        zoom_levels = sorted(
            r["zoom"] for r in tiles.select("zoom").distinct().collect()
        )

    counts: Dict[str, int] = {}
    out_tiles_path = os.path.join(dst_path, "tiles")
    params = dict(scale_ratio=scale_ratio, scale_offset=scale_offset, dtype=dtype)
    for zoom in sorted(zoom_levels, reverse=True):
        lvl = tiles.where(F.col("zoom") == zoom)
        out: DataFrame = run_raster_process(lvl, src_pyr, process_convert, params=params)
        if dst_pyr.grid != src_pyr.grid:
            # cross-grid: warp through the tiledir reader onto the
            # matching destination cover
            targets = dst_tile_cover(spark, out, src_pyr, dst_pyr, zoom)
            out = read_tiledir(spark, targets, out, dst_pyr, src_pyr)
        elif dst_pyr.metatiling < src_pyr.metatiling:
            out = split_to_output_tiles(out, src_pyr, dst_pyr)
        elif dst_pyr.metatiling > src_pyr.metatiling:
            raise ValueError(
                "output metatiling must be smaller or equal process metatiling"
            )
        n = out.count()
        if n:
            out.write.mode("append").partitionBy("zoom").parquet(out_tiles_path)
        counts[f"convert_z{zoom}"] = n

    os.makedirs(dst_path, exist_ok=True)
    meta = dict(
        pyramid=dst_pyr.to_dict(),
        driver=dict(format="parquet_tiles"),
        dtype=dtype or src_meta.get("dtype"),
        nodata=src_meta.get("nodata"),
        process="convert",
        source=os.path.abspath(src_path),
    )
    with open(os.path.join(dst_path, "metadata.json"), "w") as f:
        json.dump(meta, f, indent=2, default=str)
    return counts


def dst_tile_cover(
    spark: SparkSession,
    src_tiles: DataFrame,
    src_pyr: TilePyramid,
    dst_pyr: TilePyramid,
    zoom: int,
) -> DataFrame:
    """Destination tiles intersecting the source tiles' footprint —
    driver computes only the bounding box (one cheap aggregate), the
    cover enumeration stays grid math."""
    from mapchete_spark.tilegrid.grid import Bounds
    from mapchete_spark.geometry.reproject import get_transform

    ext = src_tiles.agg(
        F.min("tile_row").alias("r0"), F.max("tile_row").alias("r1"),
        F.min("tile_col").alias("c0"), F.max("tile_col").alias("c1"),
    ).collect()[0]
    tx, ty = src_pyr.tile_x_size(zoom), src_pyr.tile_y_size(zoom)
    b = Bounds(
        src_pyr.left + ext["c0"] * tx,
        max(src_pyr.top - (ext["r1"] + 1) * ty, src_pyr.bottom),
        src_pyr.left + (ext["c1"] + 1) * tx,
        src_pyr.top - ext["r0"] * ty,
    )
    f = get_transform(src_pyr.crs, dst_pyr.crs)
    xs, ys = f([b.left, b.right], [b.bottom, b.top])
    db = Bounds(float(min(xs)), float(min(ys)), float(max(xs)), float(max(ys)))
    db = dst_pyr.clip_bounds(db)
    return spark.createDataFrame(
        [(t.zoom, t.row, t.col) for t in dst_pyr.tiles_from_bounds(db, zoom)],
        "zoom int, tile_row long, tile_col long",
    )

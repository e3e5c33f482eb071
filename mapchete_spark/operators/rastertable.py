"""Tile raster tables: the engine's at-rest raster representation.

Schema (SURVEY.md §1.1 'Raster payload'):
  zoom int, tile_row long, tile_col long, tile_key long,
  bands int, height int, width int, dtype string, nodata double,
  data binary  -- nodata-filled C-order (bands, h, w) buffer

The mask is implicit (data == nodata), which keeps rows compact and
lets Spark shuffle plain binary. This module is the one codec of that
row: ``raster_row`` builds a row from (Tile, array, nodata) and
``decode_rows`` walks an Arrow batch of rows back into them, both over
the byte codec ``encode_array`` / ``decode_array``; they are numpy-only
and run inside Arrow-batched UDFs.

``materialize_dem`` builds a distributed tile table from the analytic
DEM (FIXTURES.md F2) — the stand-in for the reference's raster_file
input driver (S1): at 100 TB the equivalent is a parquet/Iceberg table
of pre-tiled arrays, which this produces.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapchete_spark.raster.dem import DEM_NODATA, dem_tile
from mapchete_spark.tilegrid.grid import Bounds
from mapchete_spark.tilegrid.pyramid import Tile, TilePyramid
from mapchete_spark.tilegrid.keys import linear_tile_key

RASTER_SCHEMA = (
    "zoom int, tile_row long, tile_col long, tile_key long, "
    "bands int, height int, width int, dtype string, nodata double, data binary"
)


def schema_columns(schema: str) -> list:
    """Column names of a DDL schema string such as RASTER_SCHEMA."""
    return [c.split()[0] for c in schema.split(",")]


RASTER_COLUMNS = schema_columns(RASTER_SCHEMA)
#: the columns that name a tile
ID_COLUMNS = ("zoom", "tile_row", "tile_col", "tile_key")
#: the payload columns, in decode_array's argument order
PAYLOAD_COLUMNS = ("data", "dtype", "bands", "height", "width", "nodata")


def filled_array(arr: np.ndarray, nodata: float) -> np.ndarray:
    """C-contiguous (bands, h, w) array of ``arr`` with masked cells
    set to ``nodata``."""
    a = arr if arr.ndim == 3 else arr[np.newaxis]
    if isinstance(a, np.ma.MaskedArray):
        # skip the filled() copy when nothing is masked (common case)
        a = a.data if not np.ma.is_masked(a) else a.filled(nodata)
    return np.ascontiguousarray(a)


def encode_array(arr: np.ma.MaskedArray, nodata: float) -> Tuple[bytes, str, int, int, int]:
    filled = filled_array(arr, nodata)
    return (
        filled.tobytes(),
        str(filled.dtype),
        filled.shape[0],
        filled.shape[1],
        filled.shape[2],
    )


def mask_nodata(raw: np.ndarray, nodata: float) -> np.ma.MaskedArray:
    """No-copy masked wrap of a nodata-filled array; mask from equality
    (np.ma.masked_equal would copy)."""
    mask = raw == nodata
    if not mask.any():
        mask = np.ma.nomask
    return np.ma.MaskedArray(raw, mask=mask, copy=False, fill_value=nodata)


def decode_array(
    data: bytes, dtype: str, bands: int, height: int, width: int, nodata: float
) -> np.ma.MaskedArray:
    return mask_nodata(
        np.frombuffer(data, dtype=dtype).reshape(int(bands), int(height), int(width)),
        float(nodata),
    )


def raster_row(tile: Tile, arr: np.ndarray, nodata: float) -> dict:
    """The RASTER_SCHEMA row (column -> value) of ``tile`` holding
    ``arr``, a (bands, h, w) or (h, w) array, masked or nodata-filled."""
    data, dtype, bands, height, width = encode_array(arr, nodata)
    return {
        "zoom": tile.zoom, "tile_row": tile.row, "tile_col": tile.col,
        "tile_key": linear_tile_key(tile.zoom, tile.row, tile.col),
        "bands": bands, "height": height, "width": width, "dtype": dtype,
        "nodata": float(nodata), "data": data,
    }


def _decode_payload(data, dtype, bands, height, width, nodata):
    return None if data is None else decode_array(data, dtype, bands, height, width, nodata)


def decode_rows(
    pdf: pd.DataFrame, pyramid: TilePyramid, prefix: str = ""
) -> Iterator[Tuple[Tile, int, Optional[np.ma.MaskedArray], float]]:
    """(Tile, tile_key, masked array, nodata) per row of an Arrow batch
    of RASTER_SCHEMA rows, walking its columns. ``prefix`` reads the
    payload from the columns ``prefix + name`` (the tile id columns keep
    their names); a row whose payload is null (the missing side of an
    outer join) gives array None."""
    for z, r, c, key, *payload in zip(
        *(pdf[col].values for col in ID_COLUMNS),
        *(pdf[prefix + col].values for col in PAYLOAD_COLUMNS),
    ):
        yield (
            Tile(pyramid, int(z), int(r), int(c)), int(key),
            _decode_payload(*payload), float(payload[-1]),
        )


def row_to_array(row) -> np.ma.MaskedArray:
    """Decode one row (a mapping: pandas row, Spark Row, dict) with the
    raster columns."""
    return _decode_payload(*(row[col] for col in PAYLOAD_COLUMNS))


def merge_tile_ranges(ranges) -> list:
    """Sorted (r0, r1, c0, c1) ranges with overlapping/adjacent column
    ranges of the same row extent merged (ADVICE r6 #3): antimeridian-
    wrapped bounds of exactly grid width can hand in two ranges sharing
    a boundary column, which a plain union would emit twice where the
    old OR-filter was idempotent."""
    merged = []
    for rng in sorted(tuple(int(v) for v in r) for r in ranges):
        if merged and merged[-1][0] == rng[0] and merged[-1][1] == rng[1] \
                and rng[2] <= merged[-1][3] + 1:
            merged[-1] = (rng[0], rng[1], merged[-1][2], max(merged[-1][3], rng[3]))
        else:
            merged.append(rng)
    return merged


def aoi_tile_ranges(
    pyramid: TilePyramid, zoom: int, bounds: Optional[Bounds] = None
) -> list:
    """Merged (r0, r1, c0, c1) inclusive tile ranges covering ``bounds``
    at ``zoom`` (the whole matrix when None)."""
    if bounds is None:
        return [
            (0, pyramid.matrix_height(zoom) - 1, 0, pyramid.matrix_width(zoom) - 1)
        ]
    return merge_tile_ranges(pyramid.tile_ranges_from_bounds(bounds, zoom))


def tiles_in_area(pyramid: TilePyramid, area, zooms, rows, cols) -> np.ndarray:
    """V12 area predicate: a mask of the tiles whose bounds intersect
    the AOI geometry (exact test per tile)."""
    return np.array(
        [
            bool(area.intersects_rect(
                Tile(pyramid, int(z), int(r), int(c)).bounds(pixelbuffer=0)
            ))
            for z, r, c in zip(zooms, rows, cols)
        ],
        dtype=bool,
    )


def filter_tiles_to_area(df: DataFrame, pyramid: TilePyramid, area) -> DataFrame:
    """Keep only the rows of tiles that intersect ``area``, distributed
    (the bbox prefilter already happened through the tile ranges)."""
    from mapchete_spark.geometry.wkb import to_wkb

    wkb = bytes(to_wkb(area))
    pyr_dict = pyramid.to_dict()

    def fn(batches):
        from mapchete_spark.geometry.wkb import from_wkb

        geom = from_wkb(wkb)
        p = TilePyramid(**pyr_dict)
        for pdf in batches:
            yield pdf[tiles_in_area(p, geom, pdf["zoom"], pdf["tile_row"], pdf["tile_col"])]

    return df.mapInPandas(fn, df.schema)


def aoi_tile_keys(
    pyramid: TilePyramid,
    zoom: int,
    bounds: Optional[Bounds] = None,
    area=None,
    limit: Optional[int] = None,
) -> Optional[np.ndarray]:
    """Sorted keys of the tiles ``materialize_dem`` generates at
    ``zoom``, enumerated on the driver; None when the covering ranges
    hold more than ``limit`` tiles."""
    ranges = aoi_tile_ranges(pyramid, zoom, bounds)
    if limit is not None and sum(
        (r1 - r0 + 1) * (c1 - c0 + 1) for r0, r1, c0, c1 in ranges
    ) > limit:
        return None
    if not ranges:
        return np.empty(0, dtype=np.int64)
    rows, cols = np.concatenate(
        [np.mgrid[r0 : r1 + 1, c0 : c1 + 1].reshape(2, -1) for r0, r1, c0, c1 in ranges],
        axis=1,
    )
    if area is not None:
        hit = tiles_in_area(pyramid, area, np.full(rows.size, zoom), rows, cols)
        rows, cols = rows[hit], cols[hit]
    return np.unique(linear_tile_key(zoom, rows, cols)).astype(np.int64)


def tile_ids_for_ranges(
    spark: SparkSession, ranges, zoom: int, num_slices: Optional[int] = None
) -> DataFrame:
    """Codegen tile-ID table with one generated row PER TILE INSIDE the
    covering (r0, r1, c0, c1) ranges — not one per matrix cell.

    VERDICT r5 "What's wrong" #3: range-the-whole-matrix + filter
    generates 4^zoom rows to keep a handful (billions at z15+ for a
    small raster). The ranges are merged first (``merge_tile_ranges``)
    and laid end to end in ONE ``spark.range`` of ``num_slices``
    partitions; div/mod arithmetic per range maps an id to its tile.
    Generated row count == covering size at any zoom."""
    spans, n = [], 0
    for (r0, r1, c0, c1) in merge_tile_ranges(ranges):
        w = int(c1 - c0 + 1)
        spans.append((n, int(r0), int(c0), w))
        n += int(r1 - r0 + 1) * w
    row = col = None
    for start, r0, c0, w in spans:
        i = F.col("id") - F.lit(start)
        r = F.lit(r0) + (i / w).cast("long")
        c = (F.lit(c0) + i % w).cast("long")
        later = F.col("id") >= F.lit(start)
        row = r if row is None else F.when(later, r).otherwise(row)
        col = c if col is None else F.when(later, c).otherwise(col)
    return spark.range(0, n, numPartitions=num_slices).select(
        row.alias("tile_row"), col.alias("tile_col"), F.lit(zoom).alias("zoom")
    )


def materialize_dem(
    spark: SparkSession,
    zoom: int,
    pyramid: Optional[TilePyramid] = None,
    bounds: Optional[Bounds] = None,
    pixelbuffer: int = 0,
    hole: bool = True,
    area=None,
) -> DataFrame:
    """Distributed DEM tile table at one zoom: enumerate tile ids with
    spark.range cross arithmetic (no driver-side tile list), then sample
    the analytic field per tile inside mapInPandas.

    ``area`` (optional geometry): tiles whose bounds miss it are
    dropped on the ID table, BEFORE any payload is computed — at scale
    the exactness filter must never pay for excluded tiles."""
    pyr = pyramid or TilePyramid("geodetic")
    ranges = aoi_tile_ranges(pyr, zoom, bounds)
    if not ranges:
        return spark.createDataFrame([], RASTER_SCHEMA)
    ids = tile_ids_for_ranges(spark, ranges, zoom)
    if area is not None:
        ids = filter_tiles_to_area(ids, pyr, area)

    pyr_dict = pyr.to_dict()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = TilePyramid(**pyr_dict)
        for pdf in batches:
            tiles = (
                Tile(p, int(z), int(r), int(c))
                for z, r, c in zip(pdf["zoom"], pdf["tile_row"], pdf["tile_col"])
            )
            yield pd.DataFrame(
                [
                    raster_row(t, dem_tile(t, pixelbuffer=pixelbuffer, hole=hole), DEM_NODATA)
                    for t in tiles
                ],
                columns=RASTER_COLUMNS,
            )

    return ids.repartition(max(spark.sparkContext.defaultParallelism, 8)).mapInPandas(
        gen, schema=RASTER_SCHEMA
    )

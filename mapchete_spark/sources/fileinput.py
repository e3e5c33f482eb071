"""File-based raster / vector INPUTS through the repo's own codecs.

Rounds 1-4 carried S1/S2 as "partial (env: no rasterio/fiona)": inputs
had to already be tile tables. With the from-spec codecs now in-tree
(GeoTIFF `sources/gtiff.py`, FlatGeobuf `sources/fgb.py`, GeoPackage
`sources/gpkg.py`, GeoJSON via `geometry/wkt.guess_geometry`), this
module closes the gap: a user points a job at a ``.tif`` / ``.shp`` /
``.fgb`` / ``.gpkg`` / ``.geojson`` FILE — the reference's
raster_file / vector_file input drivers
(mapchete/formats/default/raster_file.py, vector_file.py:43
``["shp", "geojson", "gpkg"]``, all covered since round 6 via the
from-spec codec sources/shp.py) — and gets the engine's canonical
tile / feature DataFrame.

Scale posture, stated honestly:

- ``GeoTiffSource`` decodes the source ONCE on the driver
  (size-guarded) and broadcasts the array; each tile's window is read
  from it in the task that needs it — a job's process task
  (operators/halo.py ``run_windowed_process``) or
  ``raster_table_from_file``'s map-only ``mapInPandas`` — zero shuffle,
  any tile count. This is the right shape for the reference's actual
  use case (a single input raster per job, usually ≪ 1 GB);
  corpus-scale rasters live as tile TABLES (parquet / TileDirectory),
  which is the documented scale path.
- ``vector_table_from_file`` decodes driver-side under the same guard
  and parallelizes features; corpus-scale vectors live as WKB feature
  tables. Both guards raise with the table-based alternative named.

Raster rows are built and read through the row codec
(operators/rastertable.py ``raster_row`` / ``decode_rows``).
"""

from __future__ import annotations

import json
import os
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapchete_spark.tilegrid import Bounds, TilePyramid

#: refuse to broadcast a decoded source larger than this (bytes)
MAX_SOURCE_BYTES = 256 * 1024 * 1024

VECTOR_FILE_SCHEMA = "fid long, geometry binary, properties string"


class GeoTiffSource:
    """S1: a GeoTIFF file read at each tile's window on a pyramid (the
    reference's read_raster_window over a raster_file input), decoded
    once (size-guarded); ``broadcast`` ships its array to the tasks. A
    source in a DIFFERENT registered CRS is warped on read through the
    CRS pair (WarpedVRT semantics, io/raster/read.py:324-341). Its tiles
    are those of the footprint's tile ranges, less the warped tiles
    entirely outside it; ``nodata`` is the one given, else the file's,
    else 0."""

    def __init__(
        self,
        path: str,
        pyramid: TilePyramid,
        resampling: str = "nearest",
        nodata: Optional[float] = None,
        max_source_bytes: int = MAX_SOURCE_BYTES,
    ):
        from mapchete_spark.geometry.reproject import get_transform
        from mapchete_spark.sources.gtiff import decode_gtiff

        with open(path, "rb") as f:
            arr, src_bounds, epsg, self.file_nodata = decode_gtiff(f.read())
        if arr.nbytes > max_source_bytes:
            raise ValueError(
                f"{path}: decoded raster is {arr.nbytes} bytes (> {max_source_bytes}); "
                "ingest rasters of this size as a parquet tile table / TileDirectory"
            )
        pyr_epsg = int(str(getattr(pyramid, "crs", "EPSG:4326")).split(":")[-1])
        self.pyr_crs = f"EPSG:{pyr_epsg}"
        self.warp_src_crs: Optional[str] = None
        self.resampling = resampling
        fallback = self.file_nodata if self.file_nodata is not None else 0.0
        self.nodata = float(nodata if nodata is not None else fallback)
        self.source = (np.ascontiguousarray(arr), tuple(src_bounds))
        #: the source footprint in the pyramid CRS; None when it has none
        self.cover: Optional[Bounds] = Bounds(*src_bounds)
        if epsg is not None and int(epsg) != pyr_epsg:
            self.warp_src_crs = f"EPSG:{int(epsg)}"
            get_transform(self.pyr_crs, self.warp_src_crs)  # fail fast on unregistered
            # the footprint warped to the pyramid CRS from a dense
            # INTERIOR grid, not just the boundary ring: a polar source
            # containing the pole maps its extreme latitude to an
            # interior point (GDAL's SuggestedWarpOutput samples a grid)
            inv = get_transform(self.warp_src_crs, self.pyr_crs)
            l, b, r, t = src_bounds
            gx, gy = np.meshgrid(np.linspace(l, r, 33), np.linspace(b, t, 33))
            wx, wy = (np.asarray(v) for v in inv(gx.ravel(), gy.ravel()))
            ok = np.isfinite(wx) & np.isfinite(wy)
            self.cover = Bounds(
                float(wx[ok].min()), float(wy[ok].min()),
                float(wx[ok].max()), float(wy[ok].max()),
            ) if np.any(ok) else None

    def broadcast(self, spark: SparkSession) -> "GeoTiffSource":
        """This source with its array broadcast, for Spark tasks."""
        self.source = spark.sparkContext.broadcast(self.source)
        return self

    def extent(self, pyramid: TilePyramid, zoom: int) -> list:
        """The tile ranges of the source footprint at ``zoom``."""
        if self.cover is None:
            return []
        from mapchete_spark.operators.rastertable import merge_tile_ranges

        return merge_tile_ranges(pyramid.tile_ranges_from_bounds(self.cover, zoom))

    def tile_bytes(self, zoom: int) -> int:
        """0: a reader reads a tile's window when it is looked up."""
        return 0

    def open(self, pyramid: TilePyramid, zoom: int, rows=None, cols=None):
        """The reader Tile -> (array, nodata), or None for a tile outside
        the source."""
        from mapchete_spark.geometry.reproject import get_transform

        src, sb = getattr(self.source, "value", self.source)  # a Broadcast or the tuple
        sb, nd, ranges = Bounds(*sb), self.nodata, self.extent(pyramid, zoom)
        fwd = self.warp_src_crs and get_transform(self.pyr_crs, self.warp_src_crs)

        def read(tile):
            if not any(r0 <= tile.row <= r1 and c0 <= tile.col <= c1 for r0, r1, c0, c1 in ranges):
                return None
            if fwd:
                arr = _warped_tile_array(tile, src, sb, nd, self.resampling, fwd)
            else:
                arr = _aligned_tile_array(tile, src, sb, nd, self.resampling)
            return None if arr is None else (arr, nd)

        return read


def raster_table_from_file(
    spark: SparkSession,
    path: str,
    zoom: int,
    pyramid: Optional[TilePyramid] = None,
    resampling: str = "nearest",
    nodata: Optional[float] = None,
    max_source_bytes: int = MAX_SOURCE_BYTES,
) -> DataFrame:
    """A GeoTIFF file as the engine's raster tile table at ``zoom``
    (RASTER_SCHEMA rows): the tiles of its ``GeoTiffSource``, read in a
    map-only ``mapInPandas`` over a codegen-enumerated tile-ID table.
    Tile IDs are enumerated per covering range (never range-the-matrix),
    so non-intersecting tiles cost nothing at any zoom."""
    from mapchete_spark.operators.rastertable import (
        RASTER_COLUMNS,
        RASTER_SCHEMA,
        raster_row,
        tile_ids_for_ranges,
    )
    from mapchete_spark.tilegrid.pyramid import Tile

    pyr = pyramid or TilePyramid("geodetic")
    source = GeoTiffSource(path, pyr, resampling, nodata, max_source_bytes).broadcast(spark)
    ranges = source.extent(pyr, zoom)
    if not ranges:
        return spark.createDataFrame([], RASTER_SCHEMA)
    pyr_dict = pyr.to_dict()

    def gen(batches):
        import pandas as pd

        p = TilePyramid(**pyr_dict)
        read = source.open(p, zoom)
        for pdf in batches:
            out = []
            for z, r, c in zip(pdf["zoom"], pdf["tile_row"], pdf["tile_col"]):
                t = Tile(p, int(z), int(r), int(c))
                got = read(t)
                if got is not None:
                    out.append(raster_row(t, *got))
            yield pd.DataFrame(out, columns=RASTER_COLUMNS)

    par = max(spark.sparkContext.defaultParallelism, 8)
    ids = tile_ids_for_ranges(spark, ranges, zoom)
    return ids.repartition(par).mapInPandas(gen, schema=RASTER_SCHEMA)


def _aligned_tile_array(tile, src, sb: Bounds, nd: float, resampling: str):
    """One tile's window of a SAME-CRS source: resample + mask target
    pixels whose centers fall outside the source bounds (the resample
    kernels clamp at the border, which would otherwise smear border
    pixels across the uncovered region — the reference's
    read_raster_window fills out-of-source area with nodata)."""
    from mapchete_spark.raster.array import resample_from_array

    tb = tile.bounds()
    tile_arr = resample_from_array(
        src, sb, tb, tile.shape(), resampling=resampling, nodata=nd
    )
    if not (
        tb.left >= sb.left - 1e-12
        and tb.right <= sb.right + 1e-12
        and tb.bottom >= sb.bottom - 1e-12
        and tb.top <= sb.top + 1e-12
    ):
        th, tw = tile_arr.shape[-2:]
        pxx = (tb.right - tb.left) / tw
        pxy = (tb.top - tb.bottom) / th
        xs = tb.left + (np.arange(tw) + 0.5) * pxx
        ys = tb.top - (np.arange(th) + 0.5) * pxy
        outside = np.zeros((th, tw), dtype=bool)
        outside[:, (xs < sb.left) | (xs > sb.right)] = True
        outside[(ys > sb.top) | (ys < sb.bottom), :] = True
        tile_arr = np.ma.MaskedArray(
            np.ma.filled(tile_arr, nd),
            mask=np.ma.getmaskarray(tile_arr)
            | np.broadcast_to(outside, tile_arr.shape),
        )
        tile_arr.set_fill_value(nd)
    return tile_arr


def _warped_tile_array(tile, src, sb: Bounds, nd: float, resampling: str, fwd):
    """One tile's window of a DIFFERENT-CRS source: transform the
    tile's pixel-center grid to the source CRS and sample point-wise
    (WarpedVRT semantics). None when the tile is entirely outside."""
    from mapchete_spark.raster.array import sample_at_fractional

    in_h, in_w = src.shape[-2:]
    px_x = (sb.right - sb.left) / in_w
    px_y = (sb.top - sb.bottom) / in_h
    tb = tile.bounds()
    th, tw = tile.shape()
    xs = tb.left + (np.arange(tw) + 0.5) * ((tb.right - tb.left) / tw)
    ys = tb.top - (np.arange(th) + 0.5) * ((tb.top - tb.bottom) / th)
    gx, gy = np.meshgrid(xs, ys)
    wx, wy = fwd(gx.ravel(), gy.ravel())
    fcols = ((np.asarray(wx) - sb.left) / px_x - 0.5).reshape(th, tw)
    frows = ((sb.top - np.asarray(wy)) / px_y - 0.5).reshape(th, tw)
    tile_arr = sample_at_fractional(
        src, frows, fcols, resampling=resampling, nodata=nd
    )
    if tile_arr.mask is not np.ma.nomask and np.all(
        np.ma.getmaskarray(tile_arr)
    ):
        return None
    return tile_arr


def _features_from_geojson(buf: bytes):
    from mapchete_spark.geometry.wkt import guess_geometry

    doc = json.loads(buf.decode("utf-8"))
    if doc.get("type") == "FeatureCollection":
        raw = doc["features"]
    elif doc.get("type") == "Feature":
        raw = [doc]
    else:  # bare geometry
        raw = [{"type": "Feature", "geometry": doc, "properties": {}}]
    out = []
    for f in raw:
        geom, _ = guess_geometry(f["geometry"])
        out.append({"geometry": geom, "properties": f.get("properties") or {}})
    return out


def vector_table_from_file(
    spark: SparkSession,
    path: str,
    layer: Optional[str] = None,
    dst_crs: str = "EPSG:4326",
    max_source_bytes: int = MAX_SOURCE_BYTES,
) -> DataFrame:
    """S2: a Shapefile / FlatGeobuf / GeoPackage / GeoJSON file
    becomes the engine's canonical feature table (fid + WKB geometry
    + JSON properties — the same rows `operators/vector.py`
    consumes), covering every extension of the reference's
    vector_file input driver (formats/default/vector_file.py:43
    ``["shp", "geojson", "gpkg"]``) plus FlatGeobuf.

    The SOURCE CRS comes from the file header — GPKG layer srs_id,
    FGB header crs code, EPSG:4326 for GeoJSON (fixed by RFC 7946
    §4) — and features are reprojected to ``dst_crs`` (the pyramid
    CRS), the reference's read-vector-window behavior
    (mapchete/io/vector/read.py:212-261: fiona reads the source CRS
    and reproject_geometry brings each feature to the process CRS).
    An unregistered source CRS RAISES (never silently assumed);
    GPKG srs_id 0/-1 ("undefined" per OGC 12-128r18) and a missing
    FGB crs record carry no CRS information and pass through
    untransformed."""
    from mapchete_spark.geometry.reproject import (
        get_transform,
        transform_geometry,
    )
    from mapchete_spark.geometry.wkb import to_wkb
    from mapchete_spark.sources.fgb import read_fgb
    from mapchete_spark.sources.gpkg import read_gpkg

    size = os.path.getsize(path)
    if size > max_source_bytes:
        raise ValueError(
            f"vector file is {size} bytes (> {max_source_bytes}); ingest "
            "at this size as a WKB feature parquet table instead"
        )
    ext = os.path.splitext(path)[1].lower()
    src_code: Optional[int]
    if ext == ".fgb":
        with open(path, "rb") as f:
            header, feats = read_fgb(f.read())
        src_code = header.get("crs_code")
    elif ext == ".gpkg":
        header, feats = read_gpkg(path, layer=layer)
        src_code = header.get("srs_id")
    elif ext in (".geojson", ".json"):
        with open(path, "rb") as f:
            feats = _features_from_geojson(f.read())
        src_code = 4326
    elif ext == ".shp":
        from mapchete_spark.sources.shp import read_shapefile

        header, feats = read_shapefile(path)
        src_code = header.get("crs_code")
    else:
        raise ValueError(
            f"unsupported vector extension {ext!r} "
            "(supported: .shp .fgb .gpkg .geojson)"
        )
    if src_code is not None and int(src_code) > 0:
        src_crs = f"EPSG:{int(src_code)}"
        if src_crs != dst_crs:
            # raises ValueError for CRS outside the registered families
            # — never assume coordinates are already in the pyramid CRS
            fn = get_transform(src_crs, dst_crs)
            feats = [
                {
                    "geometry": transform_geometry(f["geometry"], fn),
                    "properties": f["properties"],
                }
                for f in feats
            ]
    rows = [
        (
            i,
            bytearray(to_wkb(f["geometry"])),
            json.dumps(f["properties"], sort_keys=True, default=str),
        )
        for i, f in enumerate(feats)
    ]
    return spark.createDataFrame(rows, VECTOR_FILE_SCHEMA)


def raster_table_from_files(
    spark: SparkSession,
    paths,
    zoom: int,
    pyramid: Optional[TilePyramid] = None,
    resampling: str = "nearest",
    nodata: float = 0.0,
    max_file_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """S1 at corpus scale: MANY raster files -> ONE tile table, fully
    distributed — the scale shape ``raster_table_from_file`` (single
    file, driver decode + broadcast) deliberately is not.

    The FILE LIST is the DataFrame: executors read their files through
    ``GeoTiffSource`` (same-CRS window or warp-on-read per file, not
    broadcast), emit per-(file, tile)
    contributions, and one groupBy(tile) merges overlaps FIRST-VALID
    in path order — rasterio.merge's default, the reference's
    multi-source read_raster_window/mosaic semantics
    (mapchete/io/raster/read.py + mosaic.py). No driver decode, no
    broadcast, no full-matrix enumeration: thousands of input rasters
    scale linearly with executors, and skewed tile overlap degrades
    into a per-tile reduce, not a driver bottleneck.

    Each file is masked by ITS OWN internal nodata; the merged table
    carries the single ``nodata`` given here. Files whose CRS is
    outside the registered families fail their task with a clear
    error (never silently assumed)."""
    from mapchete_spark.operators.rastertable import (
        RASTER_COLUMNS,
        RASTER_SCHEMA,
        decode_rows,
        raster_row,
        schema_columns,
    )

    pyr = pyramid or TilePyramid("geodetic")
    pyr_dict = pyr.to_dict()
    paths = [str(p) for p in paths]
    if not paths:
        return spark.createDataFrame([], RASTER_SCHEMA)
    files = spark.createDataFrame(
        [(i, p) for i, p in enumerate(paths)], "file_idx long, path string"
    ).repartition(min(len(paths), spark.sparkContext.defaultParallelism * 2))

    contrib_schema = RASTER_SCHEMA + ", file_idx long"
    contrib_columns = schema_columns(contrib_schema)

    def window_files(batches):
        import pandas as pd

        from mapchete_spark.tilegrid.pyramid import Tile

        p = TilePyramid(**pyr_dict)
        for pdf in batches:
            out = []
            for fidx, path in zip(pdf["file_idx"], pdf["path"]):
                source = GeoTiffSource(path, p, resampling, max_source_bytes=max_file_bytes)
                if source.file_nodata is None:
                    source.nodata = float(nodata)
                read = source.open(p, zoom)
                for r0, r1, c0, c1 in source.extent(p, zoom):
                    for r in range(int(r0), int(r1) + 1):
                        for c in range(int(c0), int(c1) + 1):
                            t = Tile(p, zoom, r, c)
                            got = read(t)
                            if got is not None and not np.all(np.ma.getmaskarray(got[0])):
                                out.append({**raster_row(t, got[0], nodata), "file_idx": int(fidx)})
            yield pd.DataFrame(out, columns=contrib_columns)

    contribs = files.mapInPandas(window_files, schema=contrib_schema)

    def merge(key, pdf):
        import pandas as pd

        decoded = decode_rows(pdf.sort_values("file_idx"), TilePyramid(**pyr_dict))
        tile, _, acc, _ = next(decoded)
        for _, _, nxt, _ in decoded:
            hole = np.ma.getmaskarray(acc) & ~np.ma.getmaskarray(nxt)
            if hole.any():
                filled = np.where(hole, np.ma.filled(nxt, 0), acc.data)
                acc = np.ma.MaskedArray(
                    filled.astype(acc.dtype),
                    mask=np.ma.getmaskarray(acc) & np.ma.getmaskarray(nxt),
                )
        acc.set_fill_value(float(nodata))
        return pd.DataFrame([raster_row(tile, acc, nodata)], columns=RASTER_COLUMNS)

    return contribs.groupBy("tile_key").applyInPandas(
        merge, schema=RASTER_SCHEMA
    )

"""The user-process contract: execute() over grouped tile batches.

Reference semantics (SURVEY.md §2.9): a process is a Python function
``execute(tile_ctx, **params)`` returning a masked array (raster
process), a list of feature dicts (vector process), or ``Empty`` /
None (skip tile — nothing is written, mirroring the write-skip-on-empty
rewrite, mapchete/formats/base.py:450-460).

Spark mapping: the tile raster table is mapInPandas-ed; each input row
is one tile (already buffered by the halo operator when the process
needs a pixelbuffer, e.g. hillshade needs >= 1,
mapchete/processes/hillshade.py:54-205).  Whole Arrow batches stay in
one Python call; per-tile numpy does the math.  No per-row Python at
the DataFrame level.

Built-in processes (P1-P4): convert, hillshade, contours, clip.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Iterator, List, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapchete_spark.geometry.core import Polygon
from mapchete_spark.geometry.wkb import to_wkb
from mapchete_spark.operators.rastertable import (
    RASTER_SCHEMA,
    decode_array,
    encode_array,
)
from mapchete_spark.raster.array import clip_array_with_vector
from mapchete_spark.raster.terrain import generate_contours, hillshade
from mapchete_spark.tilegrid.pyramid import Tile, TilePyramid


class Empty(Exception):
    """Raise inside a process to skip the tile (MapcheteNodataTile)."""


@dataclass
class TileContext:
    """What a process sees for one tile (the reference's ``mp`` object +
    typed inputs, mapchete/processing/mp.py:7-97)."""

    tile: Tile
    array: Optional[np.ma.MaskedArray]
    nodata: float
    params: dict
    #: named multi-input arrays (reference file_groups semantics):
    #: flat name -> masked array or None when that input has no tile here
    inputs: dict = field(default_factory=dict)

    @property
    def affine(self):
        # affine of the (possibly buffered) window actually carried:
        # translation terms are the window's left/top, mirroring
        # Tile.affine and the reference's tile.affine contract
        # (mapchete/tile.py affine semantics)
        if self.array is not None:
            tw = self.tile.shape(pixelbuffer=0)[1]
            pb = (self.array.shape[-1] - tw) // 2
        else:
            pb = 0
        b = self.tile.bounds(pixelbuffer=pb)
        return (
            self.tile.pixel_x_size,
            0.0,
            b.left,
            0.0,
            -self.tile.pixel_y_size,
            b.top,
        )


RasterProcess = Callable[[TileContext], np.ma.MaskedArray]


def run_raster_process(
    tiles: DataFrame,
    pyramid: TilePyramid,
    process: RasterProcess,
    params: Optional[dict] = None,
    out_dtype: Optional[str] = None,
    out_nodata: Optional[float] = None,
    pixelbuffer: int = 0,
    target_filter=None,
) -> DataFrame:
    """Apply a raster process to every tile row; rows whose process
    raises Empty (or returns None) are dropped. Output arrays replace
    the input payload; tile ids/keys are preserved.

    ``pixelbuffer`` > 0 fuses the halo exchange INTO the process stage:
    edge strips shuffle to neighbors and the process runs directly on
    the assembled buffered window inside the same applyInPandas — the
    buffered arrays never make an extra Python->JVM->Python round trip
    (2x less Arrow traffic than add_buffers + separate process pass).

    ``target_filter`` (continue mode, a checkpoint.KeyFilter): tiles it
    drops are neither assembled nor processed; with a pixelbuffer their
    strips still feed neighbors.
    """
    if pixelbuffer > 0:
        from mapchete_spark.operators.halo import run_buffered_process

        return run_buffered_process(
            tiles, pyramid, pixelbuffer, process, params=params,
            out_dtype=out_dtype, out_nodata=out_nodata,
            target_filter=target_filter,
        )
    if target_filter is not None:
        tiles = target_filter.apply(tiles)
    pyr_dict = pyramid.to_dict()
    params = params or {}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = TilePyramid(**pyr_dict)
        for pdf in batches:
            out = {k: [] for k in (
                "zoom", "tile_row", "tile_col", "tile_key", "bands",
                "height", "width", "dtype", "nodata", "data",
            )}
            for z, trow, tcol, tkey, rdata, rdtype, rbands, rh, rw, rnodata in zip(
                pdf["zoom"].values, pdf["tile_row"].values, pdf["tile_col"].values,
                pdf["tile_key"].values, pdf["data"].values, pdf["dtype"].values,
                pdf["bands"].values, pdf["height"].values, pdf["width"].values,
                pdf["nodata"].values,
            ):
                tile = Tile(p, int(z), int(trow), int(tcol))
                arr = decode_array(
                    rdata, rdtype, int(rbands), int(rh), int(rw), float(rnodata)
                )
                ctx = TileContext(
                    tile=tile, array=arr, nodata=float(rnodata), params=params
                )
                try:
                    result = process(ctx)
                except Empty:
                    continue
                if result is None:
                    continue
                nodata = out_nodata if out_nodata is not None else float(rnodata)
                if out_dtype:
                    result = result.astype(out_dtype)
                if isinstance(result, np.ma.MaskedArray) and result.mask.all():
                    continue  # write-skip on fully masked output
                data, dtype, bands, h, w = encode_array(
                    result if result.ndim == 3 else result[np.newaxis], nodata
                )
                out["zoom"].append(int(z))
                out["tile_row"].append(int(trow))
                out["tile_col"].append(int(tcol))
                out["tile_key"].append(int(tkey))
                out["bands"].append(bands)
                out["height"].append(h)
                out["width"].append(w)
                out["dtype"].append(dtype)
                out["nodata"].append(nodata)
                out["data"].append(data)
            yield pd.DataFrame(out)

    return tiles.mapInPandas(gen, schema=RASTER_SCHEMA)


VECTOR_SCHEMA = (
    "zoom int, tile_row long, tile_col long, tile_key long, "
    "geometry binary, properties string"
)


def run_vector_process(
    tiles: DataFrame,
    pyramid: TilePyramid,
    process: Callable[[TileContext], List[dict]],
    params: Optional[dict] = None,
) -> DataFrame:
    """Raster-in, features-out process (e.g. contours). Output rows:
    one per feature with WKB geometry + JSON properties."""
    import json

    pyr_dict = pyramid.to_dict()
    params = params or {}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = TilePyramid(**pyr_dict)
        for pdf in batches:
            out = {k: [] for k in (
                "zoom", "tile_row", "tile_col", "tile_key", "geometry", "properties",
            )}
            for z, trow, tcol, tkey, rdata, rdtype, rbands, rh, rw, rnodata in zip(
                pdf["zoom"].values, pdf["tile_row"].values, pdf["tile_col"].values,
                pdf["tile_key"].values, pdf["data"].values, pdf["dtype"].values,
                pdf["bands"].values, pdf["height"].values, pdf["width"].values,
                pdf["nodata"].values,
            ):
                tile = Tile(p, int(z), int(trow), int(tcol))
                arr = decode_array(
                    rdata, rdtype, int(rbands), int(rh), int(rw), float(rnodata)
                )
                ctx = TileContext(
                    tile=tile, array=arr, nodata=float(rnodata), params=params
                )
                try:
                    feats = process(ctx)
                except Empty:
                    continue
                for f in feats or []:
                    out["zoom"].append(int(z))
                    out["tile_row"].append(int(trow))
                    out["tile_col"].append(int(tcol))
                    out["tile_key"].append(int(tkey))
                    out["geometry"].append(to_wkb(f["geometry"]))
                    out["properties"].append(json.dumps(f["properties"], sort_keys=True))
            yield pd.DataFrame(out)

    return tiles.mapInPandas(gen, schema=VECTOR_SCHEMA)


# ---- built-in processes (P1-P4) ----------------------------------------------


def process_convert(ctx: TileContext) -> np.ma.MaskedArray:
    """P4 (mapchete/processes/convert.py:15-132): optional scale/offset,
    clip to dtype range, optional vector clip."""
    arr = ctx.array.astype("float64")
    scale_ratio = ctx.params.get("scale_ratio", 1.0)
    scale_offset = ctx.params.get("scale_offset", 0.0)
    if scale_ratio != 1.0 or scale_offset != 0.0:
        arr = arr * scale_ratio + scale_offset
    out_dtype = ctx.params.get("dtype")
    if out_dtype:
        info = (
            np.iinfo(out_dtype)
            if np.issubdtype(np.dtype(out_dtype), np.integer)
            else np.finfo(out_dtype)
        )
        arr = np.ma.clip(arr, info.min, info.max).astype(out_dtype)
    clip_geoms = ctx.params.get("clip_geometries")
    if clip_geoms:
        b = ctx.tile.bounds(pixelbuffer=0)
        arr = clip_array_with_vector(arr, b, clip_geoms)
        if arr.mask.all():
            raise Empty
    return arr


def process_hillshade(ctx: TileContext) -> np.ma.MaskedArray:
    """P1: Horn hillshade; expects the array to carry a pixelbuffer >= 1
    (provided by the halo join). The buffered edge is cropped after
    shading so the output is exactly the unbuffered tile."""
    if ctx.array.mask.all():
        raise Empty
    hs = hillshade(
        ctx.array,
        (ctx.tile.pixel_x_size, 0, 0, 0, -ctx.tile.pixel_y_size, 0),
        azimuth=ctx.params.get("azimuth", 315.0),
        altitude=ctx.params.get("altitude", 45.0),
        z=ctx.params.get("z", 1.0),
        scale=ctx.params.get("scale", 1.0),
    )
    th, tw = ctx.tile.shape(pixelbuffer=0)
    bh, bw = hs.shape[-2:]
    if (bh, bw) != (th, tw):
        # crop buffer: x is symmetric, y top offset from bounds
        b = ctx.tile.bounds(pixelbuffer=(bw - tw) // 2)
        tb = ctx.tile.bounds(pixelbuffer=0)
        up = int(round((b.top - tb.top) / ctx.tile.pixel_y_size))
        left = (bw - tw) // 2
        hs = hs[up : up + th, left : left + tw]
    return hs[np.newaxis]


def process_contours(ctx: TileContext) -> List[dict]:
    """P2: contour LineStrings of the tile window (buffered input allowed;
    vertices outside the unbuffered tile are kept, like the reference
    which clips at write time)."""
    if ctx.array.mask.all():
        raise Empty
    pb_h = ctx.array.shape[-2]
    th, tw = ctx.tile.shape(pixelbuffer=0)
    pb = (ctx.array.shape[-1] - tw) // 2
    b = ctx.tile.bounds(pixelbuffer=pb)
    return generate_contours(
        ctx.array,
        tile_left=b.left,
        tile_top=b.top,
        pixel_x_size=ctx.tile.pixel_x_size,
        pixel_y_size=ctx.tile.pixel_y_size,
        interval=ctx.params.get("interval", 100),
        field=ctx.params.get("field", "elev"),
        base=ctx.params.get("base", 0),
    )


def process_clip(ctx: TileContext) -> np.ma.MaskedArray:
    """P3 (mapchete/processes/clip.py:13-54): mask raster by vector
    geometries; Empty when no overlap."""
    geoms = ctx.params.get("clip_geometries") or []
    b = ctx.tile.bounds(pixelbuffer=0)
    live = [g for g in geoms if g.bounds.intersects(b)]
    if not live:
        raise Empty
    out = clip_array_with_vector(
        ctx.array, b, live,
        inverted=ctx.params.get("inverted", False),
        clip_buffer=ctx.params.get("clip_buffer", 0.0) * ctx.tile.pixel_x_size,
    )
    if out.mask.all():
        raise Empty
    return out


_TILE_ID_COLS = ["zoom", "tile_row", "tile_col", "tile_key"]
_PAYLOAD_COLS = ["bands", "height", "width", "dtype", "nodata", "data"]


def run_multi_raster_process(
    named_tiles: "dict[str, DataFrame]",
    pyramid: TilePyramid,
    process: RasterProcess,
    params: Optional[dict] = None,
    out_dtype: Optional[str] = None,
    out_nodata: Optional[float] = None,
    groups: Optional[dict] = None,
) -> DataFrame:
    """NAMED multi-input raster process — the reference's grouped-input
    jobs (examples/file_groups: ``execute(group1: RasterInputGroup,
    group2: ...)``). The k input tile tables FULL-OUTER join on the
    tile id (one k-way hash shuffle on tile_key — co-partitioned at any
    scale), each row decodes every present input, and the process sees:

    - ``ctx.inputs``: flat name -> masked array (None where that input
      has no tile here);
    - each flat name injected as a process parameter (so a user
      ``execute(mp, dem_a, dem_b)`` binds them positionally by name,
      the reference's named-input injection);
    - each ``groups`` entry injected as a list of (member_name, array)
      tuples — the RasterInputGroup analog.

    ``ctx.array`` is the first non-None input (reading order of
    ``named_tiles``); output nodata/dtype default to that input's.
    Pixelbuffered multi-input is not implemented (apply
    operators/halo.add_buffers per input upstream if needed)."""
    import functools

    params = params or {}
    groups = groups or {}
    names = list(named_tiles)
    # positional column prefixes: input names may contain dots
    # (group.member), which Spark column resolution treats as struct
    # access
    renamed = []
    for i, (name, df) in enumerate(named_tiles.items()):
        sel = [F.col(c) for c in _TILE_ID_COLS] + [
            F.col(c).alias(f"in{i}__{c}") for c in _PAYLOAD_COLS
        ]
        renamed.append(df.select(*sel))
    joined = functools.reduce(
        lambda a, b: a.join(b, on=_TILE_ID_COLS, how="full_outer"), renamed
    )
    pyr_dict = pyramid.to_dict()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = TilePyramid(**pyr_dict)
        for pdf in batches:
            out = {k: [] for k in (
                "zoom", "tile_row", "tile_col", "tile_key", "bands",
                "height", "width", "dtype", "nodata", "data",
            )}
            cols = {c: pdf[c].values for c in pdf.columns}
            for ridx in range(len(pdf)):
                row = {c: cols[c][ridx] for c in cols}
                tile = Tile(p, int(row["zoom"]), int(row["tile_row"]), int(row["tile_col"]))
                inputs = {}
                primary = None
                primary_nodata = None
                for i, name in enumerate(names):
                    data = row[f"in{i}__data"]
                    if data is None:
                        inputs[name] = None
                        continue
                    arr = decode_array(
                        data,
                        row[f"in{i}__dtype"],
                        int(row[f"in{i}__bands"]),
                        int(row[f"in{i}__height"]),
                        int(row[f"in{i}__width"]),
                        float(row[f"in{i}__nodata"]),
                    )
                    inputs[name] = arr
                    if primary is None:
                        primary = arr
                        primary_nodata = float(row[f"in{i}__nodata"])
                if primary is None:
                    continue
                group_params = {
                    g: [(short, inputs.get(flat)) for short, flat in members]
                    for g, members in groups.items()
                }
                ctx = TileContext(
                    tile=tile,
                    array=primary,
                    nodata=primary_nodata,
                    params={**params, **inputs, **group_params},
                    inputs=inputs,
                )
                try:
                    result = process(ctx)
                except Empty:
                    continue
                if result is None:
                    continue
                nodata = (
                    out_nodata if out_nodata is not None else primary_nodata
                )
                if out_dtype:
                    result = result.astype(out_dtype)
                if isinstance(result, np.ma.MaskedArray) and result.mask.all():
                    continue
                enc_data, enc_dtype, enc_bands, enc_h, enc_w = encode_array(
                    result, nodata
                )
                out["zoom"].append(tile.zoom)
                out["tile_row"].append(tile.row)
                out["tile_col"].append(tile.col)
                out["tile_key"].append(int(row["tile_key"]))
                out["bands"].append(enc_bands)
                out["height"].append(enc_h)
                out["width"].append(enc_w)
                out["dtype"].append(enc_dtype)
                out["nodata"].append(float(nodata))
                out["data"].append(enc_data)
            yield pd.DataFrame(out)

    return joined.mapInPandas(gen, schema=RASTER_SCHEMA)


def run_feature_process(
    clipped: DataFrame,
    pyramid: TilePyramid,
    process: Optional[Callable] = None,
    params: Optional[dict] = None,
) -> DataFrame:
    """Features-in, features-out process (round 6): the classic
    mapchete vector workflow — a vector input read per tile (already
    exploded + clipped, the read_vector_window pipeline) flows through
    an optional per-feature function into VECTOR_SCHEMA rows. With
    ``process`` None this is the pass-through 'feature_clip' built-in
    (clip semantics already applied upstream); otherwise ``process``
    is called as ``process(tile, geometry, properties, params)`` and
    returns ``(geometry, properties)`` or None to drop the feature."""
    import json

    pyr_dict = pyramid.to_dict()
    params = params or {}

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapchete_spark.geometry.wkb import from_wkb

        p = TilePyramid(**pyr_dict)
        for pdf in batches:
            out = {k: [] for k in (
                "zoom", "tile_row", "tile_col", "tile_key", "geometry",
                "properties",
            )}
            for z, trow, tcol, tkey, gwkb, props in zip(
                pdf["zoom"].values, pdf["tile_row"].values,
                pdf["tile_col"].values, pdf["tile_key"].values,
                pdf["geometry"].values, pdf["properties"].values,
            ):
                geometry, properties = bytes(gwkb), props
                if process is not None:
                    tile = Tile(p, int(z), int(trow), int(tcol))
                    res = process(
                        tile, from_wkb(geometry), json.loads(props), params
                    )
                    if res is None:
                        continue
                    g2, p2 = res
                    geometry = to_wkb(g2)
                    properties = json.dumps(p2, sort_keys=True)
                out["zoom"].append(int(z))
                out["tile_row"].append(int(trow))
                out["tile_col"].append(int(tcol))
                out["tile_key"].append(int(tkey))
                out["geometry"].append(geometry)
                out["properties"].append(properties)
            yield pd.DataFrame(out)

    return clipped.mapInPandas(gen, schema=VECTOR_SCHEMA)

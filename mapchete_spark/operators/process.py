"""The user-process contract: execute() over grouped tile batches.

Reference semantics (SURVEY.md §2.9): a process is a Python function
``execute(tile_ctx, **params)`` returning a masked array (raster
process), a list of feature dicts (vector process), or ``Empty`` /
None (skip tile — nothing is written, mirroring the write-skip-on-empty
rewrite, mapchete/formats/base.py:450-460).

Spark mapping: ``canvas_rows`` is the one per-tile body: it runs a
single-input process on one tile's canvas (its window, buffered when
the process needs a pixelbuffer — hillshade needs >= 1,
mapchete/processes/hillshade.py:54-205) and returns raster or feature
rows. The two operators in operators/halo.py call it inside one
mapInPandas per stage: over windows read at the source, or over a tile
raster table (assembled by the halo exchange when buffered);
``run_raster_process`` / ``run_vector_process`` are that table
operator. Whole Arrow batches stay in one Python call; per-tile numpy
does the math.  No per-row Python at the DataFrame level. Rows are read
and built through the raster row codec (operators/rastertable.py
``decode_rows`` / ``raster_row``), also by ``run_multi_raster_process``,
which decodes each named input of a joined row with it.

Built-in processes (P1-P4): convert, hillshade, contours, clip.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Callable, Iterator, List, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapchete_spark.geometry.core import Polygon
from mapchete_spark.geometry.wkb import to_wkb
from mapchete_spark.operators.rastertable import (
    ID_COLUMNS,
    PAYLOAD_COLUMNS,
    RASTER_COLUMNS,
    RASTER_SCHEMA,
    decode_rows,
    raster_row,
)
from mapchete_spark.raster.array import clip_array_with_vector
from mapchete_spark.raster.terrain import generate_contours, hillshade
from mapchete_spark.tilegrid.keys import linear_tile_key
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
        pb = 0 if self.array is None else self.tile.window_pixelbuffer(self.array.shape)
        return self.tile.affine(pixelbuffer=pb)


RasterProcess = Callable[[TileContext], np.ma.MaskedArray]


def _crop_to_tile(tile: Tile, arr: np.ndarray) -> np.ndarray:
    """``arr`` (..., height, width), a buffered window of ``tile``, cut
    to the tile by the window's bounds (the reference crops at write
    time by affine and bounds, io/raster/write.py)."""
    th, tw = tile.shape(pixelbuffer=0)
    if arr.shape[-2:] == (th, tw):
        return arr
    up, left = tile.window_offset(tile.window_pixelbuffer(arr.shape))
    return arr[..., up : up + th, left : left + tw]


def raster_tile_row(
    tile: Tile,
    arr: np.ma.MaskedArray,
    nodata: float,
    process: RasterProcess,
    params: dict,
    out_dtype: Optional[str] = None,
    out_nodata: Optional[float] = None,
    inputs: Optional[dict] = None,
) -> Optional[dict]:
    """Run a raster process on one tile's array: its output row
    (column -> value), or None when the process raises Empty, returns
    None or a fully masked array (write-skip on empty). The result of a
    buffered ``arr`` is cut to the tile window (processes that self-crop,
    e.g. hillshade, pass through unchanged). ``inputs`` becomes
    ``TileContext.inputs``."""
    ctx = TileContext(tile=tile, array=arr, nodata=nodata, params=params, inputs=inputs or {})
    try:
        result = process(ctx)
    except Empty:
        return None
    if result is None:
        return None
    nd = out_nodata if out_nodata is not None else nodata
    if out_dtype:
        result = result.astype(out_dtype)
    if isinstance(result, np.ma.MaskedArray) and result.mask.all():
        return None
    result = result if result.ndim == 3 else result[np.newaxis]
    if arr.shape[-2:] != tile.shape(pixelbuffer=0):
        result = _crop_to_tile(tile, result)
    return raster_row(tile, result, nd)


def canvas_rows(
    tile: Tile,
    arr: np.ma.MaskedArray,
    nodata: float,
    process: Callable,
    params: dict,
    out_dtype: Optional[str] = None,
    out_nodata: Optional[float] = None,
    vector: bool = False,
) -> List[dict]:
    """The one per-tile body of every single-input process operator: run
    ``process`` on ``arr``, the tile's masked (bands, h, w) window per
    Tile.shape(pixelbuffer), masked where no source pixel is, and return
    its output rows. A raster process gives one row (see
    raster_tile_row); a ``vector`` process one row per feature, with WKB
    geometry and JSON properties. No rows when the process skips the
    tile."""
    if not vector:
        row = raster_tile_row(
            tile, arr, nodata, process, params, out_dtype, out_nodata
        )
        return [row] if row else []
    ctx = TileContext(tile=tile, array=arr, nodata=nodata, params=params)
    try:
        feats = process(ctx)
    except Empty:
        return []
    tile_key = linear_tile_key(tile.zoom, tile.row, tile.col)
    return [
        {
            "zoom": tile.zoom, "tile_row": tile.row, "tile_col": tile.col,
            "tile_key": tile_key, "geometry": to_wkb(f["geometry"]),
            "properties": json.dumps(f["properties"], sort_keys=True),
        }
        for f in feats or []
    ]


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
    """Apply a raster process to every row of a tile raster table; rows
    whose process raises Empty (or returns None) are dropped. Output
    arrays replace the input payload; tile ids/keys are preserved.

    ``pixelbuffer`` > 0 runs the process on each tile's buffered window,
    assembled by the halo exchange (operators/halo.py
    run_buffered_process: edge strips shuffle to neighbors, and one
    streamed-group mapInPandas assembles and processes). Inputs whose
    windows a task can read itself go through
    ``halo.run_windowed_process`` instead, with no table and no shuffle.

    ``target_filter`` (continue mode, a checkpoint.KeyFilter): tiles it
    drops are neither assembled nor processed; with a pixelbuffer their
    strips still feed neighbors.
    """
    from mapchete_spark.operators.halo import run_buffered_process

    return run_buffered_process(
        tiles, pyramid, pixelbuffer, process, params=params,
        out_dtype=out_dtype, out_nodata=out_nodata, target_filter=target_filter,
    )


VECTOR_SCHEMA = (
    "zoom int, tile_row long, tile_col long, tile_key long, "
    "geometry binary, properties string"
)


def run_vector_process(
    tiles: DataFrame,
    pyramid: TilePyramid,
    process: Callable[[TileContext], List[dict]],
    params: Optional[dict] = None,
    pixelbuffer: int = 0,
    target_filter=None,
) -> DataFrame:
    """Raster-in, features-out process (e.g. contours) over a tile
    raster table. Output rows: one per feature with WKB geometry + JSON
    properties. ``pixelbuffer`` and ``target_filter`` as in
    run_raster_process."""
    from mapchete_spark.operators.halo import run_buffered_process

    return run_buffered_process(
        tiles, pyramid, pixelbuffer, process, params=params,
        target_filter=target_filter, vector=True,
    )


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
    return _crop_to_tile(ctx.tile, hs)[np.newaxis]


def process_contours(ctx: TileContext) -> List[dict]:
    """P2: contour LineStrings of the tile window (buffered input allowed;
    vertices outside the unbuffered tile are kept, like the reference
    which clips at write time)."""
    if ctx.array.mask.all():
        raise Empty
    _, _, left, _, _, top = ctx.affine
    return generate_contours(
        ctx.array,
        tile_left=left,
        tile_top=top,
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
    Pixelbuffered multi-input is not implemented: the halo exchange
    (operators/halo.py) assembles the window of one input table."""
    import functools

    params = params or {}
    groups = groups or {}
    names = list(named_tiles)
    # positional column prefixes: input names may contain dots
    # (group.member), which Spark column resolution treats as struct
    # access
    renamed = []
    for i, (name, df) in enumerate(named_tiles.items()):
        sel = [F.col(c) for c in ID_COLUMNS] + [
            F.col(c).alias(f"in{i}__{c}") for c in PAYLOAD_COLUMNS
        ]
        renamed.append(df.select(*sel))
    joined = functools.reduce(
        lambda a, b: a.join(b, on=list(ID_COLUMNS), how="full_outer"), renamed
    )
    pyr_dict = pyramid.to_dict()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = TilePyramid(**pyr_dict)
        for pdf in batches:
            out = []
            for decoded in zip(*(decode_rows(pdf, p, f"in{i}__") for i in range(len(names)))):
                inputs = {name: arr for name, (_, _, arr, _) in zip(names, decoded)}
                present = [(arr, nodata) for _, _, arr, nodata in decoded if arr is not None]
                if not present:
                    continue
                primary, primary_nodata = present[0]
                group_params = {
                    g: [(short, inputs.get(flat)) for short, flat in members]
                    for g, members in groups.items()
                }
                res = raster_tile_row(
                    decoded[0][0], primary, primary_nodata, process,
                    {**params, **inputs, **group_params}, out_dtype, out_nodata,
                    inputs=inputs,
                )
                if res:
                    out.append(res)
            yield pd.DataFrame(out, columns=RASTER_COLUMNS)

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

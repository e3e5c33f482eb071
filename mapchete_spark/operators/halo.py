"""Pixelbuffered windows: read at the source, or exchanged between tiles.

The reference reads each buffered tile window directly from the source
raster (mapchete/io/raster/read.py:58-206, buffer semantics
tile.py:260-272). Two operators render that here:

- ``run_windowed_process``, for inputs a task can read any tile of (the
  analytic DEM): one ``mapInPandas`` over a ``spark.range`` of tile ids.
  Each task reads its targets' neighbours itself and runs the process on
  the assembled canvas — no shuffle, one Python stage.
- The halo exchange, for tile-table inputs (another job's output): a
  buffered read becomes a shuffle. Every tile mails the <= pixelbuffer
  wide edge strips its neighbors need (keyed by the NEIGHBOR's tile
  key), and a group by target assembles the buffered array — the strips
  are O(pixelbuffer * tile_edge) bytes per neighbor; only the center
  piece (the tile's own array) shuffles at full size (SURVEY.md §7
  step 6). ``add_buffers`` returns the buffered tile table;
  ``run_buffered_process`` assembles and runs the raster process in one
  streamed-group mapInPandas.

Both place pieces by one rule (``_canvas``) and give the same canvas:
only neighbours in the input set fill it, the rest stays nodata.
Antimeridian: neighbours wrap across the x edge on global grids (the
reference splits such reads into up to 3 parts and stitches,
io/raster/read.py:168-183,209-258 — here the wrap is just modular key
arithmetic). North/south: no neighbors beyond the pole rows; the
buffered window is clipped there exactly like Tile.bounds/shape.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Callable, Iterator, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapchete_spark.functions.geo import tile_key_col
from mapchete_spark.operators.rastertable import (
    RASTER_SCHEMA,
    aoi_tile_ranges,
    decode_array,
    encode_array,
    filled_array,
    mask_nodata,
    schema_columns,
    tile_ids_for_ranges,
    tiles_in_area,
)
from mapchete_spark.tilegrid.grid import Bounds
from mapchete_spark.tilegrid.pyramid import Tile, TilePyramid
from mapchete_spark.tilegrid.keys import linear_tile_key, split_linear_tile_key

_PART_SCHEMA = (
    "target_key long, zoom int, tile_row long, tile_col long, "
    "src_dr int, src_dc int, bands int, height int, width int, "
    "dtype string, nodata double, data binary"
)

#: bytes of neighbour arrays a windowed task keeps (least recently used
#: go first); targets run in row order, so at 256 px float32 tiles the
#: rows above and below a row of up to ~80 targets stay cached
WINDOW_CACHE_BYTES = 64 << 20


def _strip(arr: np.ndarray, dr: int, dc: int, pb: int) -> np.ndarray:
    """The part of a tile's (bands, h, w) array that its neighbour at
    offset (dr, dc) needs: the pb-wide side facing it; the whole array
    at (0, 0)."""
    if not (dr or dc):
        return arr
    rs = slice(None) if dr == 0 else (slice(-pb, None) if dr == 1 else slice(0, pb))
    cs = slice(None) if dc == 0 else (slice(-pb, None) if dc == 1 else slice(0, pb))
    return arr[:, rs, cs]


def _canvas(me: Tile, pb: int, pieces, nodata: float) -> np.ndarray:
    """The pixel-buffered canvas of ``me`` (shape per Tile.shape(pb)):
    nodata, with each ``(dr, dc, piece)`` placed where the neighbour at
    offset (dr, dc) from ``me`` sits — (0, 0) is ``me``'s own array,
    the others are ``_strip``s. Pieces reaching past the canvas (it is
    clipped at the pole rows) are clipped with it."""
    bh, bw = me.shape(pixelbuffer=pb)
    th, tw = me.shape(pixelbuffer=0)
    # rows added above = pb unless clipped at the north pyramid edge
    bb = me.bounds(pixelbuffer=pb)
    tb = me.bounds(pixelbuffer=0)
    up = int(round((bb.top - tb.top) / me.pixel_y_size))
    canvas = None
    for dr, dc, piece in pieces:
        if canvas is None:
            canvas = np.full((piece.shape[0], bh, bw), nodata, dtype=piece.dtype)
        r0 = up if dr == 0 else (up - piece.shape[1] if dr == -1 else up + th)
        c0 = pb if dc == 0 else (pb - piece.shape[2] if dc == -1 else pb + tw)
        r0c, c0c = max(r0, 0), max(c0, 0)
        r1c = min(r0 + piece.shape[1], bh)
        c1c = min(c0 + piece.shape[2], bw)
        if r1c <= r0c or c1c <= c0c:
            continue
        canvas[:, r0c:r1c, c0c:c1c] = piece[
            :, r0c - r0 : r1c - r0, c0c - c0 : c1c - c0
        ]
    return canvas


def _buffered_array(canvas: np.ndarray, nodata: float) -> np.ma.MaskedArray:
    """What a raster process gets for a buffered canvas."""
    arr = np.ma.masked_equal(canvas, nodata)
    arr.set_fill_value(nodata)
    return arr


def run_windowed_process(
    spark: SparkSession,
    pyramid: TilePyramid,
    zoom: int,
    read_tile: Callable[[Tile], np.ndarray],
    nodata: float,
    pixelbuffer: int,
    process,
    params: Optional[dict] = None,
    out_dtype: Optional[str] = None,
    out_nodata: Optional[float] = None,
    bounds: Optional[Bounds] = None,
    area=None,
    target_filter=None,
    vector: bool = False,
) -> DataFrame:
    """Run a process on every tile of ``bounds`` (and ``area``) at
    ``zoom`` with its buffered window read at the source: a
    ``spark.range`` of tile ids, ``target_filter`` (a checkpoint
    KeyFilter), then ONE mapInPandas that builds each target's canvas
    from ``read_tile(neighbour)`` strips and runs the process on it.

    The input set is the tiles of ``bounds`` that intersect ``area``, as
    ``materialize_dem`` would generate them: a neighbour outside it
    leaves its part of the canvas nodata, so the output equals the halo
    exchange over that table (``run_buffered_process``; with
    ``vector``, ``add_buffers`` + ``run_vector_process``) byte for byte.
    A bounded per-task cache keeps each neighbour read once per task."""
    from mapchete_spark.operators.process import VECTOR_SCHEMA

    ranges = aoi_tile_ranges(pyramid, zoom, bounds)
    schema = VECTOR_SCHEMA if vector else RASTER_SCHEMA
    if not ranges:
        return spark.createDataFrame([], schema)
    n = sum((r1 - r0 + 1) * (c1 - c0 + 1) for r0, r1, c0, c1 in ranges)
    # one slice per core but one: the core left over serves the JVM
    # threads that write each task's output and, early in a session, the
    # JIT compiler. With a Python worker on every core of a 4-vCPU host,
    # their bursts slowed the whole stage, so a fresh execute's wall time
    # varied more from one session to the next.
    slices = min(n, max(1, spark.sparkContext.defaultParallelism - 1))
    ids = tile_ids_for_ranges(spark, ranges, zoom, slices)
    ids = ids.withColumn(
        "tile_key", tile_key_col(F.col("zoom"), F.col("tile_row"), F.col("tile_col"))
    )
    if target_filter is not None:
        ids = target_filter.apply(ids)
    pb = int(pixelbuffer)
    pyr_dict = pyramid.to_dict()
    params = params or {}
    columns = schema_columns(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapchete_spark.operators.process import raster_tile_row, vector_tile_rows

        p = TilePyramid(**pyr_dict)
        mh, mw = p.matrix_height(zoom), p.matrix_width(zoom)
        is_input: dict = {}
        windows: OrderedDict = OrderedDict()
        held = 0

        def in_input_set(r: int, c: int) -> bool:
            if (r, c) not in is_input:
                is_input[(r, c)] = any(
                    r0 <= r <= r1 and c0 <= c <= c1 for r0, r1, c0, c1 in ranges
                ) and (area is None or bool(tiles_in_area(p, area, [zoom], [r], [c])[0]))
            return is_input[(r, c)]

        def window(r: int, c: int) -> np.ndarray:
            nonlocal held
            arr = windows.pop((r, c), None)
            if arr is None:
                arr = filled_array(read_tile(Tile(p, zoom, r, c)), nodata)
                held += arr.nbytes
                while windows and held > WINDOW_CACHE_BYTES:
                    held -= windows.popitem(last=False)[1].nbytes
            windows[(r, c)] = arr
            return arr

        for pdf in batches:
            out = {k: [] for k in columns}
            for r, c, key in zip(
                pdf["tile_row"].values, pdf["tile_col"].values, pdf["tile_key"].values
            ):
                r, c = int(r), int(c)
                if not in_input_set(r, c):
                    continue
                pieces = []
                for dr in (-1, 0, 1):
                    for dc in (-1, 0, 1):
                        nr, nc = r + dr, c + dc
                        if nr < 0 or nr >= mh:
                            continue
                        if nc < 0 or nc >= mw:
                            if not p.is_global:
                                continue
                            nc %= mw
                        if in_input_set(nr, nc):
                            pieces.append((dr, dc, _strip(window(nr, nc), -dr, -dc, pb)))
                me = Tile(p, zoom, r, c)
                canvas = _canvas(me, pb, pieces, nodata)
                if vector:
                    rows = vector_tile_rows(
                        me, int(key), mask_nodata(canvas, nodata), nodata, process, params
                    )
                else:
                    rows = [raster_tile_row(
                        me, int(key),
                        _buffered_array(canvas, nodata) if pb else mask_nodata(canvas, nodata),
                        nodata, process, params, out_dtype, out_nodata, crop=pb > 0,
                    )]
                for row in filter(None, rows):
                    for k, v in row.items():
                        out[k].append(v)
            yield pd.DataFrame(out)

    return ids.mapInPandas(run, schema=schema)


def _parts_stage(tiles: DataFrame, pyramid: TilePyramid, pb: int) -> DataFrame:
    """Stage 1: every tile emits up to 9 pieces keyed by the NEIGHBOR
    (or itself): edge strips for neighbors, the full array for itself."""
    pyr_dict = pyramid.to_dict()

    def emit_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = TilePyramid(**pyr_dict)
        for pdf in batches:
            rows = {k: [] for k in (
                "target_key", "zoom", "tile_row", "tile_col", "src_dr", "src_dc",
                "bands", "height", "width", "dtype", "nodata", "data",
            )}
            for z, row, col, rdata, rdtype, rbands, rh, rw, rnodata in zip(
                pdf["zoom"].values, pdf["tile_row"].values, pdf["tile_col"].values,
                pdf["data"].values, pdf["dtype"].values, pdf["bands"].values,
                pdf["height"].values, pdf["width"].values, pdf["nodata"].values,
            ):
                z, row, col = int(z), int(row), int(col)
                arr = decode_array(
                    rdata, rdtype, int(rbands), int(rh), int(rw), float(rnodata)
                )
                mh = p.matrix_height(z)
                mw = p.matrix_width(z)
                for dr in (-1, 0, 1):
                    for dc in (-1, 0, 1):
                        tr = row + dr
                        tc = col + dc
                        if tr < 0 or tr >= mh:
                            continue
                        if tc < 0 or tc >= mw:
                            if p.is_global:
                                tc %= mw
                            else:
                                continue
                        # strip of MY array the target at offset (dr, dc) needs
                        data, dtype, bands, h, w = encode_array(
                            _strip(arr, dr, dc, pb), float(rnodata)
                        )
                        rows["target_key"].append(linear_tile_key(z, tr, tc))
                        rows["zoom"].append(z)
                        rows["tile_row"].append(row)
                        rows["tile_col"].append(col)
                        rows["src_dr"].append(dr)
                        rows["src_dc"].append(dc)
                        rows["bands"].append(bands)
                        rows["height"].append(h)
                        rows["width"].append(w)
                        rows["dtype"].append(dtype)
                        rows["nodata"].append(float(rnodata))
                        rows["data"].append(data)
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(emit_parts, schema=_PART_SCHEMA)


def _assemble_canvas(p: TilePyramid, pb: int, target_key: int, pdf: pd.DataFrame):
    """Stage 2 core: place pieces into the buffered canvas.
    Returns (tile, canvas ndarray, nodata, dtype), or ``None`` when the
    group carries no center piece — i.e. the target tile was NOT in the
    input set and only exists because neighbors mailed it strips.  Such
    phantom targets must not produce output (the reference only
    processes tiles of the input set)."""
    if not ((pdf["src_dr"].values == 0) & (pdf["src_dc"].values == 0)).any():
        return None
    z, trow, tcol = split_linear_tile_key(target_key)
    me = Tile(p, int(z), int(trow), int(tcol))
    nodata = float(pdf["nodata"].values[0])
    # a piece came from the neighbor at offset (-src_dr, -src_dc)
    pieces = (
        (
            -int(rsdr),
            -int(rsdc),
            np.frombuffer(rdata, dtype=rdtype).reshape(int(rbands), int(rh), int(rw)),
        )
        for rdata, rdtype, rbands, rh, rw, rsdr, rsdc in zip(
            pdf["data"].values, pdf["dtype"].values, pdf["bands"].values,
            pdf["height"].values, pdf["width"].values,
            pdf["src_dr"].values, pdf["src_dc"].values,
        )
    )
    canvas = _canvas(me, pb, pieces, nodata)
    return me, canvas, nodata, str(canvas.dtype)


def _drop_skipped_targets(parts: DataFrame, target_filter) -> DataFrame:
    """Continue-mode compute skip for halo consumers: drop every strip
    destined for an already-done target BEFORE the shuffle — done tiles
    are neither assembled nor processed, while their own strips still
    reach not-yet-done neighbors (pre-filtering the INPUT would starve
    neighbor canvases instead)."""
    if target_filter is None:
        return parts
    return target_filter.apply(parts, "target_key")


def add_buffers(
    tiles: DataFrame, pyramid: TilePyramid, pixelbuffer: int,
    target_filter=None,
) -> DataFrame:
    """Tile raster table -> same table with each tile's array replaced
    by its pixel-buffered window (shape per Tile.shape(pixelbuffer));
    ``target_filter`` as in run_buffered_process."""
    if pixelbuffer <= 0:
        return tiles if target_filter is None else target_filter.apply(tiles)
    pb = int(pixelbuffer)
    pyr_dict = pyramid.to_dict()
    parts = _drop_skipped_targets(_parts_stage(tiles, pyramid, pb), target_filter)

    def assemble(key: Tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        p = TilePyramid(**pyr_dict)
        assembled = _assemble_canvas(p, pb, int(key[0]), pdf)
        if assembled is None:  # phantom target (not an input tile)
            return pd.DataFrame({k: [] for k in (
                "zoom", "tile_row", "tile_col", "tile_key", "bands",
                "height", "width", "dtype", "nodata", "data",
            )})
        me, canvas, nodata, dtype = assembled
        return pd.DataFrame(
            {
                "zoom": [me.zoom],
                "tile_row": [me.row],
                "tile_col": [me.col],
                "tile_key": [int(key[0])],
                "bands": [canvas.shape[0]],
                "height": [canvas.shape[1]],
                "width": [canvas.shape[2]],
                "dtype": [dtype],
                "nodata": [nodata],
                "data": [canvas.tobytes()],
            }
        )

    return parts.groupBy("target_key").applyInPandas(assemble, schema=RASTER_SCHEMA)


def streamed_groupby(
    df: DataFrame,
    key_col: str,
    group_fn,
    schema: str,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """groupBy(key).applyInPandas without the per-group overhead:
    repartition on the key, sort within partitions, then ONE
    mapInPandas that walks the sorted Arrow batches and calls
    ``group_fn(key, group_pdf)`` per key run (stitching groups that
    straddle batch boundaries).  applyInPandas materializes a separate
    pandas frame + Arrow round trip per group, which at ~5ms/group
    dominates pipelines with 10^4+ small groups; this streams instead.
    ``group_fn`` returns a dict of lists (column -> values) or None."""
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    arranged = df.repartition(n, key_col).sortWithinPartitions(key_col)

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending_key = None
        pending: list = []

        def flush():
            if pending_key is None:
                return None
            grp = pd.concat(pending, ignore_index=True) if len(pending) > 1 else pending[0]
            return group_fn(int(pending_key), grp)

        out_rows: list = []
        for pdf in batches:
            if pdf.empty:
                continue
            keys = pdf[key_col].values
            # boundaries of key runs within this sorted batch
            change = np.nonzero(keys[1:] != keys[:-1])[0] + 1
            starts = np.concatenate([[0], change])
            ends = np.concatenate([change, [len(pdf)]])
            for s, e in zip(starts, ends):
                k = keys[s]
                chunk = pdf.iloc[s:e]
                if pending_key is not None and k == pending_key:
                    pending.append(chunk)
                    continue
                res = flush()
                if res:
                    out_rows.append(res)
                pending_key = k
                pending = [chunk]
            # emit accumulated results per input batch to bound memory
            if out_rows:
                yield pd.DataFrame(
                    {c: sum((r[c] for r in out_rows), []) for c in out_rows[0]}
                )
                out_rows = []
        res = flush()
        if res:
            out_rows.append(res)
        if out_rows:
            yield pd.DataFrame(
                {c: sum((r[c] for r in out_rows), []) for c in out_rows[0]}
            )

    return arranged.mapInPandas(walk, schema=schema)


def run_buffered_process(
    tiles: DataFrame,
    pyramid: TilePyramid,
    pixelbuffer: int,
    process,
    params: Optional[dict] = None,
    out_dtype: Optional[str] = None,
    out_nodata: Optional[float] = None,
    target_filter=None,
) -> DataFrame:
    """Fused halo + process for tile-table inputs: one strip shuffle,
    then assemble AND run the raster process inside one streamed-group
    mapInPandas.
    ``target_filter`` (continue mode, a checkpoint.KeyFilter) drops the
    strips of targets it excludes before the shuffle."""
    pb = int(pixelbuffer)
    pyr_dict = pyramid.to_dict()
    params = params or {}
    parts = _drop_skipped_targets(_parts_stage(tiles, pyramid, pb), target_filter)

    def assemble_and_run(target_key: int, pdf: pd.DataFrame):
        from mapchete_spark.operators.process import raster_tile_row

        assembled = _assemble_canvas(TilePyramid(**pyr_dict), pb, target_key, pdf)
        if assembled is None:  # phantom target (not an input tile)
            return None
        me, canvas, nodata, _ = assembled
        row = raster_tile_row(
            me, target_key, _buffered_array(canvas, nodata), nodata, process,
            params, out_dtype, out_nodata, crop=True,
        )
        return row and {k: [v] for k, v in row.items()}

    return streamed_groupby(parts, "target_key", assemble_and_run, RASTER_SCHEMA)

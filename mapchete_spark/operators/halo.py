"""Pixelbuffered windows: read at the source, or exchanged between tiles.

The reference reads each buffered tile window directly from the source
raster (mapchete/io/raster/read.py:58-206, buffer semantics
tile.py:260-272). Two operators render that here, with one per-tile body
(operators/process.py ``canvas_rows``: canvas -> raster or, with
``vector``, feature rows) and one halo exchange:

- ``run_windowed_process``, for inputs a task can read any tile of (the
  analytic DEM): one ``mapInPandas`` over a ``spark.range`` of 2x2
  block ids. Each task reads its tiles' neighbours itself and runs the
  process on the assembled canvas — no shuffle, one Python stage — and
  can reduce each block's tiles into their parent right away (the
  reference builds an overview tile as soon as its four children are
  done, processing/tasks.py:570-617).
- ``run_buffered_process``, for tile-table inputs (another job's output,
  or any DataFrame of tiles): a buffered read becomes a shuffle. Every
  tile mails the <= pixelbuffer wide edge strips its neighbours need
  (keyed by the NEIGHBOUR's tile key), and one streamed-group
  mapInPandas assembles each target's canvas and runs the process on it
  — the strips are O(pixelbuffer * tile_edge) bytes per neighbour; only
  the centre piece (the tile's own array) shuffles at full size
  (SURVEY.md §7 step 6). Without a pixelbuffer it is one mapInPandas
  over the table.

Both place pieces by one rule (``_canvas``) and give the same canvas:
only neighbours in the input set fill it, the rest stays nodata.
Antimeridian: neighbours wrap across the x edge on global grids (the
reference splits such reads into up to 3 parts and stitches,
io/raster/read.py:168-183,209-258 — here the wrap is just modular key
arithmetic). North/south, and left/right on a non-global grid: no
neighbours beyond the grid edge; the buffered window is clipped there
exactly like Tile.bounds/shape.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Callable, Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from mapchete_spark.operators.checkpoint import PASS_ALL, KeyFilter
from mapchete_spark.operators.overviews import reduce_children
from mapchete_spark.operators.process import VECTOR_SCHEMA, canvas_rows
from mapchete_spark.operators.rastertable import (
    RASTER_SCHEMA,
    aoi_tile_ranges,
    decode_rows,
    filled_array,
    mask_nodata,
    merge_tile_ranges,
    raster_row,
    row_to_array,
    schema_columns,
    tile_ids_for_ranges,
    tiles_in_area,
)
from mapchete_spark.tilegrid.grid import Bounds
from mapchete_spark.tilegrid.pyramid import Tile, TilePyramid
from mapchete_spark.tilegrid.keys import linear_tile_key, split_linear_tile_key

#: a strip of a tile's array, mailed to the neighbour ``target_key``;
#: ``src_dr``/``src_dc`` is the target's offset from the tile
_PART_SCHEMA = RASTER_SCHEMA + ", target_key long, src_dr int, src_dc int"
_PART_COLUMNS = schema_columns(_PART_SCHEMA)

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


def _canvas(me: Tile, pb: int, pieces, nodata: float) -> np.ma.MaskedArray:
    """The pixel-buffered canvas of ``me`` (shape per Tile.shape(pb)),
    masked where it is nodata: nodata, with each ``(dr, dc, piece)``
    placed where the neighbour at offset (dr, dc) from ``me`` sits —
    (0, 0) is ``me``'s own array, the others are ``_strip``s. Pieces
    reaching past the canvas (it is clipped at the grid edge) are
    clipped with it."""
    bh, bw = me.shape(pixelbuffer=pb)
    th, tw = me.shape(pixelbuffer=0)
    up, left = me.window_offset(pb)
    canvas = None
    for dr, dc, piece in pieces:
        if canvas is None:
            canvas = np.full((piece.shape[0], bh, bw), nodata, dtype=piece.dtype)
        r0 = up if dr == 0 else (up - piece.shape[1] if dr == -1 else up + th)
        c0 = left if dc == 0 else (left - piece.shape[2] if dc == -1 else left + tw)
        r0c, c0c = max(r0, 0), max(c0, 0)
        r1c = min(r0 + piece.shape[1], bh)
        c1c = min(c0 + piece.shape[2], bw)
        if r1c <= r0c or c1c <= c0c:
            continue
        canvas[:, r0c:r1c, c0c:c1c] = piece[
            :, r0c - r0 : r1c - r0, c0c - c0 : c1c - c0
        ]
    return mask_nodata(canvas, nodata)


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
    target_filter: Optional[KeyFilter] = None,
    vector: bool = False,
    parents: Optional[KeyFilter] = None,
    resampling: str = "nearest",
) -> DataFrame:
    """Run a process on every tile of ``bounds`` (and ``area``) at
    ``zoom`` with its buffered window read at the source, walking 2x2
    blocks: a ``spark.range`` of block ids (the tiles' parents at
    ``zoom - 1``; at zoom 0 just their row and column halved), then ONE
    mapInPandas. Per block, the task takes the block's tiles that are in
    the input set and pass ``target_filter`` (a checkpoint KeyFilter,
    applied in the task), builds each one's canvas from
    ``read_tile(neighbour)`` strips and runs the process on it.

    ``parents`` (raster only, a KeyFilter of keys at ``zoom - 1``): a
    block whose parent passes it and whose tiles gave rows also emits
    the parent, reduced from those rows by
    ``overviews.reduce_children`` with ``resampling`` — the first
    overview zoom, in the same task.

    The input set is the tiles of ``bounds`` that intersect ``area``, as
    ``materialize_dem`` would generate them: a neighbour outside it
    leaves its part of the canvas nodata, so the output equals the halo
    exchange over that table (``run_buffered_process``, with the same
    ``vector`` flag) byte for byte. A bounded per-task cache keeps each
    neighbour read once per task."""
    if parents is not None and (vector or zoom < 1):
        raise ValueError("only a raster process above zoom 0 can reduce its parents")
    ranges = aoi_tile_ranges(pyramid, zoom, bounds)
    schema = VECTOR_SCHEMA if vector else RASTER_SCHEMA
    if not ranges:
        return spark.createDataFrame([], schema)
    blocks = merge_tile_ranges((r0 // 2, r1 // 2, c0 // 2, c1 // 2) for r0, r1, c0, c1 in ranges)
    n = sum((r1 - r0 + 1) * (c1 - c0 + 1) for r0, r1, c0, c1 in blocks)
    # one slice per core but one: the core left over serves the JVM
    # threads that write each task's output and, early in a session, the
    # JIT compiler. With a Python worker on every core of a 4-vCPU host,
    # their bursts slowed the whole stage, so a fresh execute's wall time
    # varied more from one session to the next.
    slices = min(n, max(1, spark.sparkContext.defaultParallelism - 1))
    ids = tile_ids_for_ranges(spark, blocks, zoom - 1, slices)
    target_filter = target_filter or PASS_ALL
    pb = int(pixelbuffer)
    pyr_dict = pyramid.to_dict()
    params = params or {}
    columns = schema_columns(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
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

        def tile_rows(r: int, c: int) -> list:
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
            return canvas_rows(
                me, _canvas(me, pb, pieces, nodata), nodata, process, params,
                out_dtype, out_nodata, vector,
            )

        def parent_row(br: int, bc: int, children: list) -> dict:
            arrays = [
                (Tile(p, zoom, ch["tile_row"], ch["tile_col"]), row_to_array(ch))
                for ch in children
            ]
            return reduce_children(
                Tile(p, zoom - 1, br, bc), arrays, children[0]["nodata"], resampling
            )

        for pdf in batches:
            out = {k: [] for k in columns}
            brs = pdf["tile_row"].values.astype(np.int64)
            bcs = pdf["tile_col"].values.astype(np.int64)
            # the block's four tiles, row-major; tiles off the matrix fail
            # the input-set test below
            rows = (2 * brs[:, None] + np.array([0, 0, 1, 1])).ravel()
            cols = (2 * bcs[:, None] + np.array([0, 1, 0, 1])).ravel()
            keys = linear_tile_key(zoom, rows, cols)
            todo = target_filter.passes(keys).reshape(-1, 4)
            emit = (
                parents.passes(linear_tile_key(zoom - 1, brs, bcs))
                if parents is not None
                else np.zeros(len(brs), dtype=bool)
            )
            for i, (br, bc) in enumerate(zip(brs.tolist(), bcs.tolist())):
                children = []
                for j in range(4):
                    r, c = int(rows[4 * i + j]), int(cols[4 * i + j])
                    if todo[i, j] and in_input_set(r, c):
                        children += tile_rows(r, c)
                if emit[i] and children:
                    children.append(parent_row(br, bc, children))
                for row in children:
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
            parts = []
            for tile, _, arr, nodata in decode_rows(pdf, p):
                mh = p.matrix_height(tile.zoom)
                mw = p.matrix_width(tile.zoom)
                for dr in (-1, 0, 1):
                    for dc in (-1, 0, 1):
                        tr = tile.row + dr
                        tc = tile.col + dc
                        if tr < 0 or tr >= mh:
                            continue
                        if tc < 0 or tc >= mw:
                            if p.is_global:
                                tc %= mw
                            else:
                                continue
                        # strip of MY array the target at offset (dr, dc) needs
                        part = raster_row(tile, _strip(arr, dr, dc, pb), nodata)
                        part.update(
                            target_key=linear_tile_key(tile.zoom, tr, tc),
                            src_dr=dr, src_dc=dc,
                        )
                        parts.append(part)
            yield pd.DataFrame(parts, columns=_PART_COLUMNS)

    return tiles.mapInPandas(emit_parts, schema=_PART_SCHEMA)


def _assemble_canvas(p: TilePyramid, pb: int, target_key: int, pdf: pd.DataFrame):
    """Stage 2 core: place pieces into the buffered canvas.
    Returns (tile, masked canvas, nodata), or ``None`` when the
    group carries no center piece — i.e. the target tile was NOT in the
    input set and only exists because neighbors mailed it strips.  Such
    phantom targets must not produce output (the reference only
    processes tiles of the input set)."""
    if not ((pdf["src_dr"].values == 0) & (pdf["src_dc"].values == 0)).any():
        return None
    z, trow, tcol = split_linear_tile_key(target_key)
    me = Tile(p, int(z), int(trow), int(tcol))
    decoded = list(decode_rows(pdf, p))
    nodata = decoded[0][3]
    # a piece came from the neighbor at offset (-src_dr, -src_dc)
    pieces = (
        (-int(sdr), -int(sdc), arr.data)
        for (_, _, arr, _), sdr, sdc in zip(decoded, pdf["src_dr"].values, pdf["src_dc"].values)
    )
    return me, _canvas(me, pb, pieces, nodata), nodata


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
    vector: bool = False,
) -> DataFrame:
    """Run a process on every tile of a tile raster table, on its
    buffered window: with a pixelbuffer, one strip shuffle, then ONE
    streamed-group mapInPandas that assembles each target's canvas and
    runs the process on it; without one, one mapInPandas over the table.
    Raster rows, or feature rows with ``vector``.
    ``target_filter`` (continue mode, a checkpoint.KeyFilter) drops the
    targets it excludes — with a pixelbuffer it drops their strips
    before the shuffle, so those tiles are neither assembled nor
    processed while their own strips still reach unfinished neighbours
    (filtering the input would starve neighbour canvases instead)."""
    pb = int(pixelbuffer)
    pyr_dict = pyramid.to_dict()
    params = params or {}
    schema = VECTOR_SCHEMA if vector else RASTER_SCHEMA
    columns = schema_columns(schema)

    def rows(tile: Tile, arr: np.ma.MaskedArray, nodata: float):
        return canvas_rows(
            tile, arr, nodata, process, params, out_dtype, out_nodata, vector,
        )

    if pb <= 0:
        if target_filter is not None:
            tiles = target_filter.apply(tiles)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            p = TilePyramid(**pyr_dict)
            for pdf in batches:
                out = [row for t, _, arr, nd in decode_rows(pdf, p) for row in rows(t, arr, nd)]
                yield pd.DataFrame(out, columns=columns)

        return tiles.mapInPandas(run, schema=schema)

    parts = _parts_stage(tiles, pyramid, pb)
    if target_filter is not None:
        parts = target_filter.apply(parts, "target_key")

    def assemble_and_run(target_key: int, pdf: pd.DataFrame):
        assembled = _assemble_canvas(TilePyramid(**pyr_dict), pb, target_key, pdf)
        if assembled is None:  # phantom target (not an input tile)
            return None
        me, canvas, nodata = assembled
        out = rows(me, canvas, nodata)
        return {k: [r[k] for r in out] for k in columns} if out else None

    return streamed_groupby(parts, "target_key", assemble_and_run, schema)

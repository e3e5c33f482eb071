"""Pixelbuffered windows: read at the source, or exchanged between tiles.

The reference reads each buffered tile window directly from the source
raster (mapchete/io/raster/read.py:58-206, buffer semantics
tile.py:260-272). Two operators render that here, with one per-tile body
(operators/process.py ``canvas_rows``: canvas -> raster or, with
``vector``, feature rows) and one halo exchange:

- ``run_windowed_process``, the job runner's one process operator: one
  ``mapInPandas`` over a ``spark.range`` of 2x2 block ids. Each task
  reads its tiles' neighbours from the input's window source itself
  (the DEM, a tile table's row groups, a broadcast GeoTIFF, or
  ``NamedInputs``, several of them by name) and runs the process on
  the assembled canvas — no shuffle, one Python stage — and can reduce
  each block's tiles into their parent right away (the reference
  builds an overview tile as soon as its four children are done,
  tasks.py:570-617).
- ``run_buffered_process``, for any DataFrame of tiles (the table
  operators ``run_raster_process`` / ``run_vector_process``): a
  buffered read becomes a shuffle. Every tile mails the <= pixelbuffer
  wide edge strips its neighbours need (keyed by the NEIGHBOUR's tile
  key), and one streamed-group mapInPandas assembles each target's
  canvas and runs the process on it — the strips are O(pixelbuffer *
  tile_edge) bytes per neighbour; only the centre piece (the tile's own
  array) shuffles at full size (SURVEY.md §7 step 6). Without a
  pixelbuffer it is one mapInPandas over the table.

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
from typing import Callable, Iterator, NamedTuple, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from mapchete_spark.operators.checkpoint import PASS_ALL, KeyFilter
from mapchete_spark.operators.overviews import reduce_children
from mapchete_spark.operators.process import VECTOR_SCHEMA, canvas_rows, raster_tile_row
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

#: bytes of encoded tiles an open reader of a windowed task may hold (a
#: tile table's); with the window cache and the one row group a reader
#: reads at a time (at most 128 MB as Spark writes them), a Python
#: worker stays within Spark's 512 MB ``spark.python.worker.memory``
READ_BYTES = 256 << 20


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


class TileFunction(NamedTuple):
    """The window source of a function Tile -> array whose tiles share
    one ``nodata`` (the analytic DEM: every tile, nothing read up front)."""

    read_tile: Callable[[Tile], np.ndarray]
    nodata: float

    def extent(self, pyramid: TilePyramid, zoom: int) -> None:
        return None

    def tile_bytes(self, zoom: int) -> int:
        return 0

    def open(self, pyramid: TilePyramid, zoom: int, rows, cols):
        return lambda tile: (self.read_tile(tile), self.nodata)


class NamedInputs(NamedTuple):
    """Named inputs of a process: flat name -> window source, a group's
    members named ``group.member``; and group -> [(member, flat name)]."""

    sources: dict
    groups: dict


def _cut(ranges: list, extents: list) -> list:
    """``ranges`` cut to the box around the sources' ``extents`` (lists
    of tile ranges; None for a source with no edge)."""
    if any(e is None for e in extents):
        return ranges
    boxes = [b for e in extents for b in e]
    if not boxes:
        return []
    r0, r1 = min(b[0] for b in boxes), max(b[1] for b in boxes)
    c0, c1 = min(b[2] for b in boxes), max(b[3] for b in boxes)
    cut = [(max(a0, r0), min(a1, r1), max(b0, c0), min(b1, c1)) for a0, a1, b0, b1 in ranges]
    return [(a0, a1, b0, b1) for a0, a1, b0, b1 in cut if a0 <= a1 and b0 <= b1]


#: a tile's 3x3 neighbourhood, itself included, row-major
_RING_DR = np.repeat([-1, 0, 1], 3)
_RING_DC = np.tile([-1, 0, 1], 3)


def _with_ring(p: TilePyramid, zoom: int, rows: np.ndarray, cols: np.ndarray, pb: int):
    """(rows, cols) of the tiles and, with a pixelbuffer, of their 3x3
    neighbourhoods, wrapped across the x edge of a global grid (a
    neighbour off the grid matches no tile)."""
    if not pb:
        return rows, cols
    rows, cols = (rows[:, None] + _RING_DR).ravel(), (cols[:, None] + _RING_DC).ravel()
    return rows, (cols % p.matrix_width(zoom) if p.is_global else cols)


def _chunks(p: TilePyramid, zoom: int, walks: list, pb: int, limit: int) -> list:
    """``walks`` (per batch: block rows, block columns, and the blocks'
    tile rows, tile columns and todo flags) cut into runs of blocks
    whose todo tiles and their neighbourhoods number at most ``limit``
    tiles (at least one block a run), one walk per run."""
    brs, bcs, rows, cols, todo = (np.concatenate(a) for a in zip(*walks))
    cuts, held = [0], set()
    for i in range(brs.size):
        t = slice(4 * i, 4 * i + 4)
        ring = set(zip(*(a.tolist() for a in _with_ring(
            p, zoom, rows[t][todo[t]], cols[t][todo[t]], pb
        ))))
        if held and len(held) + len(ring - held) > limit:
            cuts.append(i)
            held = ring
        else:
            held |= ring
    cuts.append(brs.size)
    return [
        (brs[i:j], bcs[i:j], rows[4 * i : 4 * j], cols[4 * i : 4 * j], todo[4 * i : 4 * j])
        for i, j in zip(cuts, cuts[1:])
    ]


def run_windowed_process(
    spark: SparkSession,
    pyramid: TilePyramid,
    zoom: int,
    read_tile,
    nodata: Optional[float],
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
    applied in the task), builds each one's canvas from its neighbours'
    strips and runs the process on it.

    ``read_tile`` is the input: a window source, whose ``extent(pyramid,
    zoom)`` gives the tile ranges it holds (None: every tile), whose
    ``open(pyramid, zoom, rows, cols)``, called in the task with tiles
    it reads, gives a reader Tile -> (array, nodata) or None, and whose
    ``tile_bytes(zoom)`` is what an open reader holds per tile (0 for a
    source that reads a tile when it is looked up) — TileFunction,
    rastertable.TileTableSource, sources/fileinput.GeoTiffSource; a bare
    function Tile -> array, whose tiles share ``nodata`` (the DEM, read
    through a TileFunction); or NamedInputs. Named inputs run a raster
    process without a pixelbuffer on every tile one of them holds; it
    sees ``TileContext.inputs`` (name -> masked array or None), each
    name as a parameter and each group as a list of (member, array), and
    takes its array and nodata from the first input holding the tile
    (the reference's file_groups example).

    The blocks walked are those of the ``bounds`` ranges cut to the
    sources' extents. The input set is the tiles of those ranges that
    intersect ``area`` and that the source holds: a neighbour outside
    it leaves its part of the canvas nodata, so the output equals the
    halo exchange over the input's tile table (``run_buffered_process``,
    same ``vector`` flag) byte for byte. The sources open once per
    Arrow batch of blocks; a source whose readers hold tiles opens once
    per run of blocks whose tiles take at most READ_BYTES
    (``_chunks``). A cache of at most WINDOW_CACHE_BYTES of decoded
    windows keeps each neighbour read once per task while it fits.

    ``parents`` (raster only, a KeyFilter of keys at ``zoom - 1``): a
    block whose parent passes it and whose tiles gave rows also emits
    the parent, reduced from those rows by
    ``overviews.reduce_children`` with ``resampling`` — the first
    overview zoom, in the same task."""
    if parents is not None and (vector or zoom < 1):
        raise ValueError("only a raster process above zoom 0 can reduce its parents")
    if callable(read_tile):
        read_tile = TileFunction(read_tile, nodata)
    named = isinstance(read_tile, NamedInputs)
    if named and (vector or pixelbuffer):
        raise ValueError("named inputs run a raster process without a pixelbuffer")
    sources, groups = read_tile if named else ({None: read_tile}, {})
    ranges = _cut(
        aoi_tile_ranges(pyramid, zoom, bounds), [s.extent(pyramid, zoom) for s in sources.values()]
    )
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
    tile_bytes = max(s.tile_bytes(zoom) for s in sources.values())
    chunk_tiles = max(1, READ_BYTES // tile_bytes) if tile_bytes else None
    cache_bytes = WINDOW_CACHE_BYTES

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = TilePyramid(**pyr_dict)
        mh, mw = p.matrix_height(zoom), p.matrix_width(zoom)
        is_input: dict = {}
        windows: OrderedDict = OrderedDict()
        held = 0
        # the tiles whose strips reach a canvas: without a pixelbuffer
        # only the tile itself, so no reader is asked for a neighbour it
        # was not opened for
        ring = list(zip(_RING_DR.tolist(), _RING_DC.tolist())) if pb else [(0, 0)]

        def in_input_set(r: int, c: int) -> bool:
            if (r, c) not in is_input:
                is_input[(r, c)] = any(
                    r0 <= r <= r1 and c0 <= c <= c1 for r0, r1, c0, c1 in ranges
                ) and (area is None or bool(tiles_in_area(p, area, [zoom], [r], [c])[0]))
            return is_input[(r, c)]

        def window(r: int, c: int):
            """(nodata-filled array, nodata) of tile (r, c), or None."""
            nonlocal held
            if (r, c) in windows:
                windows.move_to_end((r, c))
                return windows[(r, c)]
            got = read(Tile(p, zoom, r, c))
            if got is not None:
                got = (filled_array(got[0], got[1]), got[1])
                held += got[0].nbytes
                while windows and held > cache_bytes:
                    old = windows.popitem(last=False)[1]
                    held -= 0 if old is None else old[0].nbytes
            windows[(r, c)] = got
            return got

        def tile_rows(r: int, c: int) -> list:
            centre = window(r, c)
            if centre is None:
                return []
            pieces = []
            for dr, dc in ring:
                nr, nc = r + dr, c + dc
                if nr < 0 or nr >= mh:
                    continue
                if nc < 0 or nc >= mw:
                    if not p.is_global:
                        continue
                    nc %= mw
                got = window(nr, nc) if in_input_set(nr, nc) else None
                if got is not None:
                    pieces.append((dr, dc, _strip(got[0], -dr, -dc, pb)))
            me, nd = Tile(p, zoom, r, c), centre[1]
            return canvas_rows(
                me, _canvas(me, pb, pieces, nd), nd, process, params,
                out_dtype, out_nodata, vector,
            )

        def named_rows(r: int, c: int) -> list:
            me = Tile(p, zoom, r, c)
            got = {name: read_named(me) for name, read_named in readers.items()}
            inputs = {n: g and mask_nodata(filled_array(*g), g[1]) for n, g in got.items()}
            present = [(inputs[n], g[1]) for n, g in got.items() if g]
            if not present:
                return []
            params_in = {**params, **inputs, **{
                g: [(short, inputs[flat]) for short, flat in members]
                for g, members in groups.items()
            }}
            row = raster_tile_row(
                me, *present[0], process, params_in, out_dtype, out_nodata, inputs=inputs
            )
            return [row] if row else []

        def parent_row(br: int, bc: int, children: list) -> dict:
            arrays = [
                (Tile(p, zoom, ch["tile_row"], ch["tile_col"]), row_to_array(ch))
                for ch in children
            ]
            return reduce_children(
                Tile(p, zoom - 1, br, bc), arrays, children[0]["nodata"], resampling
            )

        walks = []
        for pdf in batches:
            brs = pdf["tile_row"].values.astype(np.int64)
            bcs = pdf["tile_col"].values.astype(np.int64)
            # the block's four tiles, row-major; tiles off the matrix fail
            # the input-set test below
            rows = (2 * brs[:, None] + np.array([0, 0, 1, 1])).ravel()
            cols = (2 * bcs[:, None] + np.array([0, 1, 0, 1])).ravel()
            todo = target_filter.passes(linear_tile_key(zoom, rows, cols))
            walks.append((brs, bcs, rows, cols, todo))
        rows_of = named_rows if named else tile_rows
        if chunk_tiles and walks:
            walks = _chunks(p, zoom, walks, pb, chunk_tiles)
        for brs, bcs, rows, cols, todo in walks:
            # the sources open for the todo tiles and the neighbours
            # their windows take pieces of
            needed = _with_ring(p, zoom, rows[todo], cols[todo], pb)
            readers = {name: s.open(p, zoom, *needed) for name, s in sources.items()}
            read = readers.get(None)
            out = {k: [] for k in columns}
            todo = todo.reshape(-1, 4)
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
                        children += rows_of(r, c)
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

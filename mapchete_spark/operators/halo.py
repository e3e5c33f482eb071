"""Pixelbuffer halo exchange — buffered reads as an 8-neighbor self-join.

The reference reads each buffered tile window directly from the source
raster (mapchete/io/raster/read.py:58-206, buffer semantics
tile.py:260-272).  In the engine the raster lives as a tile table, so a
buffered read becomes a shuffle: every tile mails the <= pixelbuffer-wide
edge strips its neighbors need (keyed by the NEIGHBOR's tile key), and a
groupBy(target) assembles the buffered array — the strips are
O(pixelbuffer * tile_edge) bytes per neighbor; only the center piece
(the tile's own array) shuffles at full size (SURVEY.md §7 step 6).

Antimeridian: strips wrap across the x edge on global grids (the
reference splits such reads into up to 3 parts and stitches,
io/raster/read.py:168-183,209-258 — here the wrap is just modular key
arithmetic).  North/south: no neighbors beyond the pole rows; the
buffered window is clipped there exactly like Tile.bounds/shape.

Two consumers:
- ``add_buffers``: returns the buffered tile table (generic).
- ``run_buffered_process``: fuses assemble + raster process in ONE
  applyInPandas so the buffered window never makes an extra
  Python->JVM->Python Arrow round trip (2x less transfer than
  add_buffers followed by a separate process stage).
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapchete_spark.operators.rastertable import (
    RASTER_SCHEMA,
    decode_array,
    encode_array,
)
from mapchete_spark.tilegrid.pyramid import Tile, TilePyramid
from mapchete_spark.tilegrid.keys import linear_tile_key, split_linear_tile_key

_PART_SCHEMA = (
    "target_key long, zoom int, tile_row long, tile_col long, "
    "src_dr int, src_dc int, bands int, height int, width int, "
    "dtype string, nodata double, data binary"
)


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
                        # strip of MY array the target needs: target sits
                        # at offset (dr, dc); it needs my side facing it
                        rs = slice(None) if dr == 0 else (
                            slice(-pb, None) if dr == 1 else slice(0, pb)
                        )
                        cs = slice(None) if dc == 0 else (
                            slice(-pb, None) if dc == 1 else slice(0, pb)
                        )
                        piece = arr[:, rs, cs] if (dr or dc) else arr
                        data, dtype, bands, h, w = encode_array(
                            piece, float(rnodata)
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
    bh, bw = me.shape(pixelbuffer=pb)
    th, tw = me.shape(pixelbuffer=0)
    # rows added above = pb unless clipped at the north pyramid edge
    bb = me.bounds(pixelbuffer=pb)
    tb = me.bounds(pixelbuffer=0)
    up = int(round((bb.top - tb.top) / me.pixel_y_size))
    sample = pdf.iloc[0]
    nodata = float(sample["nodata"])
    bands = int(sample["bands"])
    dtype = sample["dtype"]
    canvas = np.full((bands, bh, bw), nodata, dtype=dtype)
    for rdata, rdtype, rbands, rh, rw, rsdr, rsdc in zip(
        pdf["data"].values, pdf["dtype"].values, pdf["bands"].values,
        pdf["height"].values, pdf["width"].values,
        pdf["src_dr"].values, pdf["src_dc"].values,
    ):
        piece = np.frombuffer(rdata, dtype=rdtype).reshape(
            int(rbands), int(rh), int(rw)
        )
        # piece came from the neighbor at relative position (dr, dc)
        dr, dc = -int(rsdr), -int(rsdc)
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
    return me, canvas, nodata, dtype


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
    """Fused halo + process: one strip shuffle, then assemble AND run
    the raster process inside one streamed-group mapInPandas.
    ``target_filter`` (continue mode, a checkpoint.KeyFilter) drops the
    strips of targets it excludes before the shuffle."""
    pb = int(pixelbuffer)
    pyr_dict = pyramid.to_dict()
    params = params or {}
    parts = _drop_skipped_targets(_parts_stage(tiles, pyramid, pb), target_filter)

    def assemble_and_run(target_key: int, pdf: pd.DataFrame):
        from mapchete_spark.operators.process import Empty, TileContext

        p = TilePyramid(**pyr_dict)
        assembled = _assemble_canvas(p, pb, target_key, pdf)
        if assembled is None:  # phantom target (not an input tile)
            return None
        me, canvas, nodata, dtype = assembled
        arr = np.ma.masked_equal(canvas, nodata)
        arr.set_fill_value(nodata)
        ctx = TileContext(tile=me, array=arr, nodata=nodata, params=params)
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
        # crop to the unbuffered tile window (the reference crops at
        # write time, io/raster/write.py) — processes that self-crop
        # (e.g. hillshade) pass through unchanged
        result = result if result.ndim == 3 else result[np.newaxis]
        th, tw = me.shape(pixelbuffer=0)
        rh, rw = result.shape[-2:]
        if (rh, rw) != (th, tw):
            cb = me.bounds(pixelbuffer=(rw - tw) // 2)
            tb = me.bounds(pixelbuffer=0)
            up = int(round((cb.top - tb.top) / me.pixel_y_size))
            left = (rw - tw) // 2
            result = result[:, up : up + th, left : left + tw]
        data, odtype, bands, h, w = encode_array(
            result if result.ndim == 3 else result[np.newaxis], nd
        )
        return {
            "zoom": [me.zoom], "tile_row": [me.row], "tile_col": [me.col],
            "tile_key": [target_key], "bands": [bands], "height": [h],
            "width": [w], "dtype": [odtype], "nodata": [nd], "data": [data],
        }

    return streamed_groupby(parts, "target_key", assemble_and_run, RASTER_SCHEMA)

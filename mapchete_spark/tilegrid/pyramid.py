"""Tile pyramid + tile objects (pure Python, driver- and UDF-side).

Semantics re-derived from the WMTS-simple spec to match the behavior of
the reference engine's grid layer:

- mapchete/tile.py:63-220 (BufferedTilePyramid), :223-351 (BufferedTile)
- metatiling values {1,2,4,...,256} (mapchete/tile.py:46)
- pixelbuffer clipping at north/south pyramid edge on global grids,
  antimeridian overflow allowed left/right (tilematrix Tile.bounds
  semantics used by mapchete/io/raster/read.py:168-183)
- neighbors: 4/8-connected, antimeridian-wrapping, deduplicated
  (mapchete/tile.py:297-320)
- rounding of tile/pixel sizes to ROUND decimals (mapchete/tile.py:184-191)
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator, List, Optional, Tuple

from mapchete_spark.tilegrid.grid import (
    Bounds,
    GridDef,
    ROUND,
    grid_from_name_or_dict,
)

METATILING_VALUES = (1, 2, 4, 8, 16, 32, 64, 128, 256)


class TilePyramid:
    """WMTS-style tile pyramid with metatiling and pixelbuffer."""

    def __init__(
        self,
        grid="geodetic",
        metatiling: int = 1,
        tile_size: int = 256,
        pixelbuffer: int = 0,
    ):
        if metatiling not in METATILING_VALUES:
            raise ValueError(f"metatiling must be one of {METATILING_VALUES}")
        if pixelbuffer < 0:
            raise ValueError("pixelbuffer has to be a non-negative int")
        self.grid: GridDef = grid_from_name_or_dict(grid)
        self.metatiling = int(metatiling)
        self.tile_size = int(tile_size)
        self.pixelbuffer = int(pixelbuffer)

    # ---- matrix geometry -------------------------------------------------

    def matrix_width(self, zoom: int) -> int:
        w = int(math.ceil(self.grid.base_cols * 2**zoom / self.metatiling))
        return max(w, 1)

    def matrix_height(self, zoom: int) -> int:
        h = int(math.ceil(self.grid.base_rows * 2**zoom / self.metatiling))
        return max(h, 1)

    def base_tile_x_size(self, zoom: int) -> float:
        """Map-unit width of an unmetatiled base tile."""
        return self.grid.x_size / (self.grid.base_cols * 2**zoom)

    def base_tile_y_size(self, zoom: int) -> float:
        return self.grid.y_size / (self.grid.base_rows * 2**zoom)

    def tile_x_size(self, zoom: int) -> float:
        """Map-unit width of a full (uncropped) metatile."""
        return round(self.base_tile_x_size(zoom) * self.metatiling, ROUND)

    def tile_y_size(self, zoom: int) -> float:
        return round(self.base_tile_y_size(zoom) * self.metatiling, ROUND)

    def pixel_x_size(self, zoom: int) -> float:
        return round(self.base_tile_x_size(zoom) / self.tile_size, ROUND)

    def pixel_y_size(self, zoom: int) -> float:
        return round(self.base_tile_y_size(zoom) / self.tile_size, ROUND)

    # ---- bounds shortcuts --------------------------------------------------

    @property
    def bounds(self) -> Bounds:
        return self.grid.bounds

    @property
    def left(self) -> float:
        return self.grid.left

    @property
    def bottom(self) -> float:
        return self.grid.bottom

    @property
    def right(self) -> float:
        return self.grid.right

    @property
    def top(self) -> float:
        return self.grid.top

    @property
    def is_global(self) -> bool:
        return self.grid.is_global

    @property
    def crs(self) -> str:
        return self.grid.srs

    # ---- tiles -------------------------------------------------------------

    def tile(self, zoom: int, row: int, col: int) -> "Tile":
        if not self.is_valid_tile(zoom, row, col):
            raise ValueError(
                f"invalid tile ({zoom},{row},{col}) for matrix "
                f"{self.matrix_height(zoom)}x{self.matrix_width(zoom)}"
            )
        return Tile(self, zoom, row, col)

    def is_valid_tile(self, zoom: int, row: int, col: int) -> bool:
        return (
            zoom >= 0
            and 0 <= row < self.matrix_height(zoom)
            and 0 <= col < self.matrix_width(zoom)
        )

    def tile_from_xy(
        self, x: float, y: float, zoom: int, on_edge_use: str = "rb"
    ) -> "Tile":
        """Tile containing point (x, y).

        ``on_edge_use`` resolves points lying exactly on a tile boundary:
        two characters from {l,r} x {t,b} choosing the left/right and
        top/bottom candidate (reference semantics: config/base.py:831-832
        uses the default; snap_geometry uses "rt"/"lb", tile.py:506-507).
        """
        if not (self.left <= x <= self.right and self.bottom <= y <= self.top):
            raise ValueError(f"point ({x}, {y}) outside of pyramid bounds")
        if on_edge_use[0] not in "lr" or on_edge_use[1] not in "tb":
            raise ValueError(f"invalid on_edge_use: {on_edge_use}")
        tx = self.tile_x_size(zoom)
        ty = self.tile_y_size(zoom)
        fcol = (x - self.left) / tx
        frow = (self.top - y) / ty
        col = int(math.floor(fcol))
        row = int(math.floor(frow))
        mw = self.matrix_width(zoom)
        mh = self.matrix_height(zoom)
        if fcol == col and col > 0 and on_edge_use[0] == "l":
            col -= 1
        if frow == row and row > 0 and on_edge_use[1] == "t":
            row -= 1
        col = min(col, mw - 1)
        row = min(row, mh - 1)
        return Tile(self, zoom, row, col)

    def tile_ranges_from_bounds(
        self, bounds: Bounds, zoom: int
    ) -> List[Tuple[int, int, int, int]]:
        """(row_min, row_max, col_min, col_max) inclusive ranges of tiles
        intersecting ``bounds``; on global grids, bounds overflowing the
        antimeridian are wrapped and may yield two column ranges.

        Right/bottom edges of the input bounds are exclusive (a bounds
        only touching a tile's left edge does not select that tile),
        matching the reference's enumeration semantics.
        """
        mw = self.matrix_width(zoom)
        mh = self.matrix_height(zoom)
        tx = self.tile_x_size(zoom)
        ty = self.tile_y_size(zoom)

        top = min(bounds.top, self.top)
        bottom = max(bounds.bottom, self.bottom)
        if top <= self.bottom or bottom >= self.top:
            return []
        row_min = int(math.floor((self.top - top) / ty))
        row_max = int(math.ceil((self.top - bottom) / ty)) - 1
        row_min = max(row_min, 0)
        row_max = min(row_max, mh - 1)
        if row_max < row_min:
            return []

        def col_range(left: float, right: float):
            if right <= self.left or left >= self.right:
                return None
            left = max(left, self.left)
            right = min(right, self.right)
            c0 = int(math.floor((left - self.left) / tx))
            c1 = int(math.ceil((right - self.left) / tx)) - 1
            c0 = max(c0, 0)
            c1 = min(c1, mw - 1)
            if c1 < c0:
                return None
            return (c0, c1)

        ranges = []
        if self.is_global and (bounds.left < self.left or bounds.right > self.right):
            # wrap overflow across the antimeridian
            width = self.grid.x_size
            segs = []
            if bounds.left < self.left:
                segs.append((bounds.left + width, self.right))
                segs.append((self.left, min(bounds.right, self.right)))
            elif bounds.right > self.right:
                segs.append((max(bounds.left, self.left), self.right))
                segs.append((self.left, bounds.right - width))
            cols = set()
            for sl, sr in segs:
                r = col_range(sl, sr)
                if r:
                    cols.add(r)
            ranges = sorted(cols)
        else:
            r = col_range(bounds.left, bounds.right)
            if r:
                ranges = [r]
        return [(row_min, row_max, c0, c1) for (c0, c1) in ranges]

    def tiles_from_bounds(self, bounds: Bounds, zoom: int) -> Iterator["Tile"]:
        """Yield tiles intersecting bounds, row-major (batch-by-row order,
        mapchete/tile.py:106-114)."""
        ranges = self.tile_ranges_from_bounds(bounds, zoom)
        if not ranges:
            return
        row_min = min(r[0] for r in ranges)
        row_max = max(r[1] for r in ranges)
        for row in range(row_min, row_max + 1):
            for (r0, r1, c0, c1) in ranges:
                if r0 <= row <= r1:
                    for col in range(c0, c1 + 1):
                        yield Tile(self, zoom, row, col)

    def snap_bounds(self, bounds: Bounds, zoom: int) -> Bounds:
        """Expand bounds outward to the tile grid of ``zoom``, growing by
        pixelbuffer (mapchete/config/base.py:813-833)."""
        ranges = self.tile_ranges_from_bounds(bounds, zoom)
        if not ranges:
            return bounds
        lb = None
        for (r0, r1, c0, c1) in ranges:
            for (row, col) in ((r1, c0), (r0, c1)):
                t = Tile(self, zoom, row, col).bounds(pixelbuffer=self.pixelbuffer)
                lb = t if lb is None else lb + t
        return lb

    def clip_bounds(self, bounds: Bounds) -> Bounds:
        return bounds.intersection(self.grid.bounds)

    def intersecting_tiles(self, other_tile: "Tile", zoom: Optional[int] = None):
        """Tiles of THIS pyramid intersecting a tile of another pyramid
        with the same grid but possibly different metatiling
        (mapchete/tile.py:167-174)."""
        z = other_tile.zoom if zoom is None else zoom
        return list(self.tiles_from_bounds(other_tile.bounds(), z))

    def to_dict(self) -> dict:
        return dict(
            grid=self.grid.name
            if self.grid.name in ("geodetic", "mercator")
            else dict(
                grid="custom",
                shape=(self.grid.base_rows, self.grid.base_cols),
                bounds=tuple(self.grid.bounds),
                srs=self.grid.srs,
                is_global=self.grid.is_global,
            ),
            metatiling=self.metatiling,
            tile_size=self.tile_size,
            pixelbuffer=self.pixelbuffer,
        )

    def without_pixelbuffer(self) -> "TilePyramid":
        d = self.to_dict()
        d["pixelbuffer"] = 0
        return TilePyramid(**d)

    def __eq__(self, other) -> bool:
        return isinstance(other, TilePyramid) and self.to_dict() == other.to_dict()

    def __repr__(self) -> str:
        return (
            f"TilePyramid({self.grid.name}, tile_size={self.tile_size}, "
            f"metatiling={self.metatiling}, pixelbuffer={self.pixelbuffer})"
        )


@dataclass(frozen=True)
class Tile:
    """One tile of a pyramid; all geometry derived on demand."""

    pyramid: TilePyramid
    zoom: int
    row: int
    col: int

    @property
    def id(self) -> Tuple[int, int, int]:
        return (self.zoom, self.row, self.col)

    def _raw_bounds(self) -> Bounds:
        tp = self.pyramid
        tx = tp.tile_x_size(self.zoom)
        ty = tp.tile_y_size(self.zoom)
        left = round(tp.left + self.col * tx, ROUND)
        top = round(tp.top - self.row * ty, ROUND)
        # edge metatiles are cropped to the pyramid bounds
        right = min(round(left + tx, ROUND), tp.right)
        bottom = max(round(top - ty, ROUND), tp.bottom)
        return Bounds(left, bottom, right, top)

    def bounds(self, pixelbuffer: Optional[int] = None) -> Bounds:
        """Tile bounds, optionally buffered by ``pixelbuffer`` pixels.

        The buffer is clipped at the north/south pyramid edge on global
        grids; left/right may overflow across the antimeridian
        (consumers split reads into wrapped parts,
        mapchete/io/raster/read.py:168-183).
        """
        pb = self.pyramid.pixelbuffer if pixelbuffer is None else pixelbuffer
        b = self._raw_bounds()
        if not pb:
            return b
        px = self.pyramid.pixel_x_size(self.zoom)
        py = self.pyramid.pixel_y_size(self.zoom)
        left = b.left - pb * px
        right = b.right + pb * px
        bottom = b.bottom - pb * py
        top = b.top + pb * py
        if self.pyramid.is_global:
            top = min(top, self.pyramid.top)
            bottom = max(bottom, self.pyramid.bottom)
        else:
            left = max(left, self.pyramid.left)
            right = min(right, self.pyramid.right)
            top = min(top, self.pyramid.top)
            bottom = max(bottom, self.pyramid.bottom)
        return Bounds(left, bottom, right, top)

    def shape(self, pixelbuffer: Optional[int] = None) -> Tuple[int, int]:
        """(height, width) in pixels, derived from (buffered) bounds."""
        pb = self.pyramid.pixelbuffer if pixelbuffer is None else pixelbuffer
        b = self.bounds(pixelbuffer=pb)
        px = self.pyramid.pixel_x_size(self.zoom)
        py = self.pyramid.pixel_y_size(self.zoom)
        height = int(round(b.height / py))
        width = int(round(b.width / px))
        return (height, width)

    def window_offset(self, pixelbuffer: int) -> Tuple[int, int]:
        """(rows, columns) of the buffered window above and left of the
        tile: ``pixelbuffer``, or fewer where bounds() clips the buffer
        at the pyramid edge (north/south, and left/right on a non-global
        grid)."""
        bb = self.bounds(pixelbuffer=pixelbuffer)
        tb = self.bounds(pixelbuffer=0)
        return (
            int(round((bb.top - tb.top) / self.pixel_y_size)),
            int(round((tb.left - bb.left) / self.pixel_x_size)),
        )

    def window_pixelbuffer(self, shape) -> int:
        """The pixelbuffer of a window of this tile whose last two axes
        are ``shape``'s: the smallest one whose shape() is (height,
        width). A clipped buffer adds fewer than 2 * pixelbuffer columns,
        so the width alone does not give it; (width - tile width) // 2
        when no pixelbuffer fits."""
        th, tw = self.shape(pixelbuffer=0)
        h, w = shape[-2:]
        for pb in sorted({(w - tw) // 2, w - tw, (h - th) // 2, h - th}):
            if pb >= 0 and self.shape(pixelbuffer=pb) == (h, w):
                return pb
        return (w - tw) // 2

    @property
    def pixel_x_size(self) -> float:
        return self.pyramid.pixel_x_size(self.zoom)

    @property
    def pixel_y_size(self) -> float:
        return self.pyramid.pixel_y_size(self.zoom)

    def affine(self, pixelbuffer: Optional[int] = None):
        """(a, b, c, d, e, f) affine: x = a*col + c, y = e*row + f."""
        b = self.bounds(pixelbuffer=pixelbuffer)
        return (
            self.pixel_x_size,
            0.0,
            b.left,
            0.0,
            -self.pixel_y_size,
            b.top,
        )

    def is_on_edge(self) -> bool:
        """Tile touches or exceeds the pyramid edge (mapchete/tile.py:322-329)."""
        b = self.bounds(pixelbuffer=0)
        tp = self.pyramid
        return (
            b.left <= tp.left
            or b.bottom <= tp.bottom
            or b.right >= tp.right
            or b.top >= tp.top
        )

    # ---- family ------------------------------------------------------------

    def get_parent(self) -> Optional["Tile"]:
        if self.zoom == 0:
            return None
        return Tile(self.pyramid, self.zoom - 1, self.row // 2, self.col // 2)

    def get_children(self) -> List["Tile"]:
        z = self.zoom + 1
        mh = self.pyramid.matrix_height(z)
        mw = self.pyramid.matrix_width(z)
        out = []
        for dr in (0, 1):
            for dc in (0, 1):
                r, c = 2 * self.row + dr, 2 * self.col + dc
                if r < mh and c < mw:
                    out.append(Tile(self.pyramid, z, r, c))
        return out

    def get_neighbors(self, connectedness: int = 8) -> List["Tile"]:
        """Neighbor tiles in reference order
        (up, right, down, left[, up-right, down-right, down-left, up-left]),
        antimeridian-wrapping and deduplicated (mapchete/tile.py:297-320)."""
        if connectedness not in (4, 8):
            raise ValueError("connectedness must be 4 or 8")
        offsets = [(-1, 0), (0, 1), (1, 0), (0, -1)]
        if connectedness == 8:
            offsets += [(-1, 1), (1, 1), (1, -1), (-1, -1)]
        mh = self.pyramid.matrix_height(self.zoom)
        mw = self.pyramid.matrix_width(self.zoom)
        seen = set()
        out: List[Tile] = []
        for dr, dc in offsets:
            r = self.row + dr
            c = self.col + dc
            if r < 0 or r >= mh:
                continue
            if c < 0 or c >= mw:
                if self.pyramid.is_global:
                    c %= mw
                else:
                    continue
            if (r, c) == (self.row, self.col):
                continue
            if (r, c) in seen:
                continue
            seen.add((r, c))
            out.append(Tile(self.pyramid, self.zoom, r, c))
        return out

    def intersecting(self, other_pyramid: TilePyramid) -> List["Tile"]:
        """Tiles of another pyramid (same grid, different metatiling)
        intersecting this tile (mapchete/tile.py:167-174)."""
        return list(other_pyramid.tiles_from_bounds(self.bounds(pixelbuffer=0), self.zoom))

    def __repr__(self) -> str:
        return f"Tile(zoom={self.zoom}, row={self.row}, col={self.col})"

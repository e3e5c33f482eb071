"""Golden tests for the tile-pyramid core.

Golden values replicate the reference's grid semantics:
- geodetic grid: zoom 0 = 1 row x 2 cols over (-180,-90,180,90)
  (doc/source/tiling.rst:39-52)
- mercator grid: zoom 0 = 1x1 over +/-20037508.3427892
- pixelbuffer bounds clipping (mapchete/tile.py:260-272)
- neighbors dedup + antimeridian wrap (mapchete/tile.py:297-320)
- count_tiles closed form (mapchete/tile.py:393-406) and the
  reference's own test `test_count_tiles_mercator`
  (test/test_processing_base.py:525-531)
"""

import math

import numpy as np
import pytest

from mapchete_spark.geometry.core import Polygon
from mapchete_spark.tilegrid import (
    GEODETIC,
    MERCATOR,
    Bounds,
    Tile,
    TilePyramid,
    pack_tile_key,
    unpack_tile_key,
)
from mapchete_spark.tilegrid.cover import (
    bounds_to_tile_ranges,
    count_tiles,
    points_to_tiles,
    snap_geometry_to_tiles,
    tiles_from_geom,
)

GEO = TilePyramid("geodetic")
MERC = TilePyramid("mercator")


class TestMatrix:
    def test_geodetic_zoom0(self):
        assert GEO.matrix_height(0) == 1
        assert GEO.matrix_width(0) == 2

    def test_mercator_zoom0(self):
        assert MERC.matrix_height(0) == 1
        assert MERC.matrix_width(0) == 1

    @pytest.mark.parametrize("zoom", range(13))
    def test_geodetic_shape(self, zoom):
        assert GEO.matrix_height(zoom) == 2**zoom
        assert GEO.matrix_width(zoom) == 2 ** (zoom + 1)

    @pytest.mark.parametrize("metatiling", [1, 2, 4, 8, 16])
    def test_metatiling_matrix(self, metatiling):
        tp = TilePyramid("geodetic", metatiling=metatiling)
        for z in range(8):
            assert tp.matrix_width(z) == max(
                1, math.ceil(2 ** (z + 1) / metatiling)
            )
            assert tp.matrix_height(z) == max(1, math.ceil(2**z / metatiling))


class TestBounds:
    def test_geodetic_zoom0_tiles(self):
        t = GEO.tile(0, 0, 0)
        assert tuple(t.bounds()) == (-180.0, -90.0, 0.0, 90.0)
        t = GEO.tile(0, 0, 1)
        assert tuple(t.bounds()) == (0.0, -90.0, 180.0, 90.0)

    def test_geodetic_zoom1(self):
        t = GEO.tile(1, 0, 0)
        assert tuple(t.bounds()) == (-180.0, 0.0, -90.0, 90.0)
        t = GEO.tile(1, 1, 3)
        assert tuple(t.bounds()) == (90.0, -90.0, 180.0, 0.0)

    def test_mercator_zoom0(self):
        t = MERC.tile(0, 0, 0)
        b = t.bounds()
        assert b.left == pytest.approx(-20037508.3427892)
        assert b.top == pytest.approx(20037508.3427892)

    def test_pixel_sizes(self):
        # geodetic zoom 0: 180 deg over 256 px
        assert GEO.pixel_x_size(0) == pytest.approx(180.0 / 256)
        assert GEO.pixel_y_size(5) == pytest.approx(180.0 / 32 / 256)

    def test_shape_unbuffered(self):
        assert GEO.tile(3, 2, 5).shape() == (256, 256)

    def test_pixelbuffer_bounds(self):
        tp = TilePyramid("geodetic", pixelbuffer=2)
        t = tp.tile(2, 1, 2)
        b = t.bounds()
        px = tp.pixel_x_size(2)
        assert b.left == pytest.approx(-90.0 - 2 * px)
        assert b.right == pytest.approx(-45.0 + 2 * px)
        assert t.shape() == (260, 260)

    def test_pixelbuffer_clipped_at_north(self):
        tp = TilePyramid("geodetic", pixelbuffer=2)
        t = tp.tile(2, 0, 0)  # touches the north pole
        b = t.bounds()
        assert b.top == 90.0  # clipped on global grid
        assert b.bottom == pytest.approx(45.0 - 2 * tp.pixel_y_size(2))
        assert t.shape() == (258, 260)  # buffer only south, both x sides

    def test_pixelbuffer_antimeridian_overflow(self):
        tp = TilePyramid("geodetic", pixelbuffer=2)
        t = tp.tile(2, 1, 0)  # west edge
        b = t.bounds()
        assert b.left < -180.0  # overflow allowed (wrapped by readers)
        assert t.shape() == (260, 260)

    def test_window_offset_and_pixelbuffer(self):
        """Where the buffered window puts the tile, and which buffer a
        window shape stands for: a clipped side adds no pixels, so on a
        non-global grid the edge columns' windows are one-sided."""
        edge = TilePyramid(
            {"shape": [1, 2], "bounds": [-180, -90, 180, 90], "srs": "EPSG:4326",
             "is_global": False}
        )
        geo = TilePyramid("geodetic")
        for tile, pb, shape, offset in (
            (geo.tile(2, 1, 2), 2, (260, 260), (2, 2)),
            (geo.tile(2, 0, 0), 2, (258, 260), (0, 2)),  # north pole row
            (edge.tile(3, 1, 0), 2, (260, 258), (2, 0)),  # left edge
            (edge.tile(3, 1, 15), 2, (260, 258), (2, 2)),  # right edge
            (edge.tile(3, 0, 0), 1, (257, 257), (0, 0)),  # top-left corner
            (edge.tile(3, 1, 3), 0, (256, 256), (0, 0)),
        ):
            assert tile.shape(pixelbuffer=pb) == shape
            assert tile.window_offset(pb) == offset
            assert tile.window_pixelbuffer((1,) + shape) == pb

    def test_metatile_cropped_at_edge(self):
        # geodetic metatiling 8 at zoom 2: 4x8 base tiles -> 1x1 metatile
        tp = TilePyramid("geodetic", metatiling=8)
        assert tp.matrix_width(2) == 1
        assert tp.matrix_height(2) == 1
        t = tp.tile(2, 0, 0)
        assert tuple(t.bounds()) == (-180.0, -90.0, 180.0, 90.0)
        # 8 metatile: full width 8*256=2048 px, but cropped: zoom2 has
        # 8 cols x 4 rows of 256px -> 2048 x 1024
        assert t.shape() == (1024, 2048)

    def test_is_on_edge(self):
        assert GEO.tile(2, 0, 0).is_on_edge()
        assert not GEO.tile(3, 3, 3).is_on_edge()


class TestFamily:
    def test_parent(self):
        t = GEO.tile(5, 17, 23)
        assert t.get_parent().id == (4, 8, 11)
        assert GEO.tile(0, 0, 0).get_parent() is None

    def test_children(self):
        t = GEO.tile(4, 8, 11)
        ids = {c.id for c in t.get_children()}
        assert ids == {(5, 16, 22), (5, 16, 23), (5, 17, 22), (5, 17, 23)}

    def test_children_parent_roundtrip(self):
        t = GEO.tile(6, 33, 99)
        for c in t.get_children():
            assert c.get_parent().id == t.id

    def test_neighbors_interior(self):
        t = GEO.tile(3, 3, 3)
        n8 = {x.id for x in t.get_neighbors()}
        assert len(n8) == 8
        n4 = {x.id for x in t.get_neighbors(connectedness=4)}
        assert n4 == {(3, 2, 3), (3, 3, 4), (3, 4, 3), (3, 3, 2)}
        assert n4 < n8

    def test_neighbors_antimeridian_wrap(self):
        # west-edge tile: left neighbors wrap to the last column
        t = GEO.tile(2, 1, 0)
        ids = {x.id for x in t.get_neighbors()}
        assert (2, 1, 7) in ids  # wrapped left neighbor
        assert len(ids) == 8

    def test_neighbors_at_pole_excluded(self):
        t = GEO.tile(2, 0, 3)  # top row: no northern neighbors
        ids = {x.id for x in t.get_neighbors()}
        assert all(z_r_c[1] >= 0 for z_r_c in ids)
        assert len(ids) == 5  # left, right, down, down-left, down-right

    def test_neighbors_dedup_tiny_matrix(self):
        # mercator zoom 0: single tile, no neighbors at all
        t = MERC.tile(0, 0, 0)
        assert t.get_neighbors() == []


class TestPointLookup:
    def test_center(self):
        t = GEO.tile_from_xy(-123.0, 45.0, 5)
        b = t.bounds()
        assert b.left <= -123.0 < b.right and b.bottom < 45.0 <= b.top

    def test_edge_rules(self):
        # x=0 is a tile boundary at every zoom
        assert GEO.tile_from_xy(0.0, 10.0, 2, on_edge_use="rb").col == 4
        assert GEO.tile_from_xy(0.0, 10.0, 2, on_edge_use="lb").col == 3
        # y=0 boundary
        assert GEO.tile_from_xy(10.0, 0.0, 2, on_edge_use="rb").row == 2
        assert GEO.tile_from_xy(10.0, 0.0, 2, on_edge_use="rt").row == 1

    def test_pyramid_edge_clamp(self):
        t = GEO.tile_from_xy(180.0, -90.0, 3)
        assert t.col == GEO.matrix_width(3) - 1
        assert t.row == GEO.matrix_height(3) - 1

    def test_vectorized_matches_scalar(self):
        rng = np.random.default_rng(42)
        lon = rng.uniform(-180, 180, 500)
        lat = rng.uniform(-90, 90, 500)
        for zoom in (0, 3, 8, 12):
            row, col = points_to_tiles(GEO, lon, lat, zoom)
            for i in range(0, 500, 37):
                t = GEO.tile_from_xy(lon[i], lat[i], zoom)
                assert (row[i], col[i]) == (t.row, t.col)


class TestEnumerate:
    def test_tiles_from_bounds(self):
        tiles = list(GEO.tiles_from_bounds(Bounds(-10, -10, 10, 10), 3))
        ids = {t.id for t in tiles}
        assert ids == {
            (3, r, c) for r in (3, 4) for c in (7, 8)
        }

    def test_touching_right_edge_excluded(self):
        # bounds ending exactly on tile boundary do not pull in next col
        tiles = list(GEO.tiles_from_bounds(Bounds(-45, 0, 0, 45), 2))
        cols = {t.col for t in tiles}
        assert cols == {3}

    def test_antimeridian_wrap_bounds(self):
        tiles = list(GEO.tiles_from_bounds(Bounds(170, -10, 190, 10), 3))
        cols = {t.col for t in tiles}
        assert 15 in cols and 0 in cols

    def test_row_major_order(self):
        tiles = list(GEO.tiles_from_bounds(Bounds(-10, -10, 10, 10), 5))
        rows = [t.row for t in tiles]
        assert rows == sorted(rows)

    def test_tiles_from_geom_exact(self):
        # thin diagonal polygon: bbox covers 4 tiles, geometry only 2
        poly = Polygon(
            np.array(
                [[-44, 1], [-1, 44], [-1, 43], [-44, 0], [-44, 1]], dtype=float
            )
        )
        bbox_tiles = {t.id for t in tiles_from_geom(GEO, poly, 2, exact=False)}
        exact_tiles = {t.id for t in tiles_from_geom(GEO, poly, 2, exact=True)}
        assert exact_tiles <= bbox_tiles
        assert (2, 1, 3) in exact_tiles
        # lower-left tile of bbox is not touched by the diagonal
        assert (2, 1, 2) not in exact_tiles or (2, 0, 3) not in exact_tiles

    def test_vectorized_bounds_ranges(self):
        r0, r1, c0, c1 = bounds_to_tile_ranges(
            GEO, np.array([-10.0]), np.array([-10.0]), np.array([10.0]), np.array([10.0]), 3
        )
        assert (r0[0], r1[0], c0[0], c1[0]) == (3, 4, 7, 8)


class TestCountTiles:
    @pytest.mark.parametrize("metatiling", [1, 2, 4, 8, 16])
    @pytest.mark.parametrize("zoom", range(10))
    def test_full_pyramid_mercator(self, metatiling, zoom):
        # replicates reference test_count_tiles_mercator
        tp = TilePyramid("mercator", metatiling=metatiling)
        got = count_tiles(Polygon.from_bounds(tp.bounds), tp, zoom, zoom)
        assert got == tp.matrix_width(zoom) * tp.matrix_height(zoom)

    @pytest.mark.parametrize("zoom", range(8))
    def test_count_matches_enumeration(self, zoom):
        poly = Polygon.regular(20.0, 30.0, 15.0, n=7, phase=0.3)
        got = count_tiles(poly, GEO, zoom, zoom)
        want = len(list(tiles_from_geom(GEO, poly, zoom, exact=True)))
        assert got == want

    def test_count_range_closed_form(self):
        # full pyramid zooms 0..5 geodetic: sum of 2*4^z
        poly = Polygon.from_bounds(GEO.bounds)
        assert count_tiles(poly, GEO, 0, 5) == sum(2 * 4**z for z in range(6))

    @pytest.mark.parametrize("mnmx", [(0, 6), (3, 6), (6, 6)])
    def test_rasterized_matches_quadtree(self, mnmx):
        """Golden: the rasterize fallback (tile.py:410-459 semantics)
        equals the quadtree on bbox, n-gon and polygon-with-hole
        AOIs."""
        from mapchete_spark.tilegrid.cover import count_tiles_rasterized

        mn, mx = mnmx
        import numpy as np

        hole_outer = Polygon.regular(-60.0, -30.0, 12.0, n=16)
        hole_inner = Polygon.regular(-60.0, -30.0, 5.0, n=16)
        for geom in [
            Polygon.from_bounds(Bounds(-12.3, 4.7, 61.2, 58.9)),
            Polygon.regular(20.0, 30.0, 15.0, n=7, phase=0.3),
            Polygon(hole_outer.exterior, (hole_inner.exterior,)),
        ]:
            assert count_tiles_rasterized(geom, GEO, mn, mx) == count_tiles(
                geom, GEO, mn, mx
            )

    def test_rasterized_matches_quadtree_overlapping_parts(self):
        """Regression (round 4): a MultiPolygon with OVERLAPPING parts
        can sum per-part intersection areas past the tile area and
        falsely trigger the quadtree's full-cover 4^z shortcut; the
        fixed quadtree, the rasterized count and brute enumeration all
        agree."""
        from mapchete_spark.geometry.core import MultiPolygon
        from mapchete_spark.tilegrid.cover import count_tiles_rasterized

        mp = MultiPolygon(
            (
                Polygon.from_bounds(Bounds(10.1, 10.1, 30.3, 25.2)),
                Polygon.from_bounds(Bounds(18.7, 14.3, 41.9, 31.7)),
                Polygon.from_bounds(Bounds(-20.4, -15.8, -5.2, -3.1)),
            )
        )
        for mn, mx in [(0, 7), (5, 7)]:
            q = count_tiles(mp, GEO, mn, mx)
            ras = count_tiles_rasterized(mp, GEO, mn, mx)
            assert q == ras
        brute = sum(
            len(list(tiles_from_geom(GEO, mp, z, exact=True)))
            for z in range(5, 8)
        )
        assert count_tiles(mp, GEO, 5, 7) == brute


class TestSnap:
    def test_snap_bounds(self):
        snapped = GEO.snap_bounds(Bounds(-10, -10, 10, 10), 3)
        assert tuple(snapped) == (-22.5, -22.5, 22.5, 22.5)

    def test_snap_bounds_pixelbuffer(self):
        tp = TilePyramid("geodetic", pixelbuffer=2)
        snapped = tp.snap_bounds(Bounds(-10, -10, 10, 10), 3)
        px = tp.pixel_x_size(3)
        assert snapped.left == pytest.approx(-22.5 - 2 * px)

    def test_snap_geometry(self):
        poly = Polygon.regular(20.0, 30.0, 5.0, n=6)
        snapped = snap_geometry_to_tiles(poly, GEO, 4)
        assert snapped.intersection_area(poly.bounds) > 0
        # snapped covers the original
        b = poly.bounds
        sb = snapped.bounds
        assert sb.left <= b.left and sb.right >= b.right


class TestKeys:
    def test_roundtrip(self):
        rng = np.random.default_rng(0)
        zoom = rng.integers(0, 13, 1000)
        row = np.array([rng.integers(0, 2**z) for z in zoom])
        col = np.array([rng.integers(0, 2 ** (z + 1)) for z in zoom])
        keys = pack_tile_key(zoom, row, col)
        z2, r2, c2 = unpack_tile_key(keys)
        assert (z2 == zoom).all() and (r2 == row).all() and (c2 == col).all()

    def test_zorder_locality(self):
        # adjacent tiles at the same zoom have nearby keys more often
        # than random pairs — weak sanity check on interleaving
        k1 = pack_tile_key(8, 10, 10)
        k2 = pack_tile_key(8, 10, 11)
        k3 = pack_tile_key(8, 200, 400)
        assert abs(int(k1) - int(k2)) < abs(int(k1) - int(k3))

    def test_zoom_separated(self):
        assert pack_tile_key(3, 0, 0) >> 58 == 3
        # zoom 16+ must not flip the int64 sign bit
        assert pack_tile_key(31, 0, 0) > 0


class TestIntersecting:
    def test_metatiling_intersection(self):
        tp1 = TilePyramid("geodetic", metatiling=1)
        tp4 = TilePyramid("geodetic", metatiling=4)
        meta = tp4.tile(3, 0, 0)
        small = meta.intersecting(tp1)
        assert len(small) == 16
        assert all(s.bounds().intersects(meta.bounds()) for s in small)


def test_zorder_column_twin_matches_numpy(spark):
    """functions.geo.zorder_key_col == tilegrid.keys.pack_tile_key —
    the z-order key is the physical write-sort key (job.py), packed
    identically JVM-side and numpy-side."""
    import numpy as np
    from pyspark.sql import functions as F

    from mapchete_spark.functions.geo import zorder_key_col
    from mapchete_spark.tilegrid.keys import pack_tile_key, unpack_tile_key

    rng = np.random.RandomState(7)
    zoom = rng.randint(0, 13, 200)
    row = np.array([rng.randint(0, 2**z) for z in zoom], dtype=np.int64)
    col = np.array([rng.randint(0, 2 * 2**z) for z in zoom], dtype=np.int64)
    want = pack_tile_key(zoom, row, col)
    df = spark.createDataFrame(
        [(int(z), int(r), int(c)) for z, r, c in zip(zoom, row, col)],
        "zoom int, tile_row long, tile_col long",
    )
    got = [
        r["k"]
        for r in df.select(
            zorder_key_col(F.col("zoom"), F.col("tile_row"), F.col("tile_col")).alias("k")
        ).collect()
    ]
    assert got == [int(x) for x in want]
    z2, r2, c2 = unpack_tile_key(np.array(got))
    assert (z2 == zoom).all() and (r2 == row).all() and (c2 == col).all()


def test_refresh_parent_key_exact_at_high_rowcol(spark):
    """The old double-division decode rounded wrong near 2^27; the
    bit-op decode must be exact across the full row/col range."""
    from pyspark.sql import functions as F

    from mapchete_spark.operators.refresh import parent_key_col

    cases = [
        (12, 3000, 5000),
        (26, 2**26 - 1, 2**27 - 1),
        (27, 2**27 - 2, 2**27 - 1),
    ]
    rows = [
        (int((z << 54) | (r << 27) | c), int(((z - 1) << 54) | ((r // 2) << 27) | (c // 2)))
        for z, r, c in cases
    ]
    df = spark.createDataFrame(rows, "tile_key long, want long")
    got = df.select(
        parent_key_col(F.col("tile_key")).alias("got"), "want"
    ).collect()
    for r in got:
        assert r["got"] == r["want"]


class TestProjStringCustomGrid:
    """The reference's own custom-grid example verbatim: a UTM-32 grid
    given as a proj4 string (examples/custom_grid/custom_grid.mapchete:
    shape [1525, 125], bounds [166020, 0, 934020, 9369600],
    metatiling 4)."""

    GRID = {
        "shape": [1525, 125],
        "bounds": [166020, 0, 934020, 9369600],
        "is_global": False,
        "proj": "+proj=utm +zone=32 +datum=WGS84 +units=m +no_defs",
    }

    def test_proj_string_resolves_to_utm_epsg(self):
        from mapchete_spark.tilegrid.grid import grid_from_name_or_dict

        gd = grid_from_name_or_dict(self.GRID)
        assert gd.srs == "EPSG:32632"
        assert gd.matrix_shape(3) == (12200, 1000)

    def test_south_and_unknown_proj_strings(self):
        from mapchete_spark.tilegrid.grid import _srs_from_proj_string

        assert (
            _srs_from_proj_string("+proj=utm +zone=59 +south +datum=WGS84")
            == "EPSG:32759"
        )
        laea = "+proj=laea +lat_0=52 +lon_0=10"
        assert _srs_from_proj_string(laea) == laea  # preserved verbatim

    def test_tile_bounds_arithmetic(self):
        from mapchete_spark.tilegrid.grid import grid_from_name_or_dict

        pyr = TilePyramid(grid_from_name_or_dict(self.GRID), metatiling=4)
        # base cell is 6144 m; metatiling 4 at zoom 3 -> 3072 m tiles
        t = pyr.tile(3, 0, 0)
        b = t.bounds()
        assert b.left == 166020.0
        assert b.top == 9369600.0
        assert b.right - b.left == pytest.approx(6144.0 / 8 * 4)

    def test_points_reproject_and_assign(self):
        """4326 points -> ellipsoidal UTM-32 -> closed-form tile
        assignment on the projected grid (the reference job's core)."""
        import numpy as np

        from mapchete_spark.geometry.reproject import get_transform
        from mapchete_spark.tilegrid.grid import grid_from_name_or_dict

        gd = grid_from_name_or_dict(self.GRID)
        pyr = TilePyramid(gd, metatiling=4)
        zoom = 3
        fwd = get_transform("EPSG:4326", gd.srs)
        rng = np.random.RandomState(13)
        lon = rng.uniform(6.5, 11.5, 200)   # inside zone 32
        lat = rng.uniform(1.0, 60.0, 200)
        x, y = fwd(lon, lat)
        ts_x = gd.x_size / (gd.base_cols << zoom) * 4  # metatile size
        ts_y = gd.y_size / (gd.base_rows << zoom) * 4
        for xi, yi in zip(x, y):
            if not (gd.left <= xi < gd.right and gd.bottom < yi <= gd.top):
                continue
            t = pyr.tile_from_xy(xi, yi, zoom)
            want_col = int((xi - gd.left) // ts_x)
            want_row = int((gd.top - yi) // ts_y)
            assert (t.row, t.col) == (want_row, want_col)
            b = t.bounds()
            assert b.left <= xi <= b.right and b.bottom <= yi <= b.top

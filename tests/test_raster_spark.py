"""End-to-end Spark raster pipeline tests: DEM tile table -> halo
buffered reads -> hillshade/contours/convert processes -> overview
reduction. Goldens computed directly from the analytic DEM."""

import functools
import json
import os

import numpy as np
import pytest

from mapchete_spark.geometry.core import Polygon
from mapchete_spark.operators.overviews import (
    build_overviews,
    overview_upsample,
)
from mapchete_spark.operators.process import (
    process_clip,
    process_contours,
    process_convert,
    process_hillshade,
    run_raster_process,
    run_vector_process,
)
from mapchete_spark.operators.rastertable import (
    materialize_dem,
    row_to_array,
)
from mapchete_spark.raster.dem import DEM_NODATA, dem_tile
from mapchete_spark.raster.mosaic import create_mosaic
from mapchete_spark.raster.array import resample_from_array
from mapchete_spark.raster.terrain import hillshade as np_hillshade
from mapchete_spark.tilegrid import Bounds, TilePyramid
from mapchete_spark.tilegrid.keys import split_linear_tile_key

GEO = TilePyramid("geodetic")
AOI = Bounds(0.0, 20.0, 45.0, 50.0)
ZOOM = 5
#: a non-global grid: Tile.bounds clips a buffer at its left and right
#: edge too, not only at the top and bottom rows
EDGE = TilePyramid(
    {"shape": [1, 2], "bounds": [-180, -90, 180, 90], "srs": "EPSG:4326", "is_global": False}
)
EDGE_ZOOM = 3
#: tiles of EDGE whose neighbours are all in ``edge_table``: the left-
#: and right-edge tile of the second row
EDGE_TILES = ((1, 0), (1, 15))


@pytest.fixture(scope="module")
def dem_table(spark):
    df = materialize_dem(spark, ZOOM, GEO, bounds=AOI, hole=False).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def edge_table(spark):
    """The DEM tiles of EDGE's two left and two right columns, rows 0-2."""
    df = functools.reduce(lambda a, b: a.unionByName(b), (
        materialize_dem(spark, EDGE_ZOOM, EDGE, bounds=b, hole=False)
        for b in (Bounds(-180.0, 30.0, -140.0, 90.0), Bounds(140.0, 30.0, 180.0, 90.0))
    )).cache()
    df.count()
    yield df
    df.unpersist()


def _interior(keys):
    """A tile of ``keys`` whose 8 neighbours are all in ``keys``."""
    inner = next(
        (rc for rc in sorted(keys)
         if all((rc[0] + dr, rc[1] + dc) in keys for dr in (-1, 0, 1) for dc in (-1, 0, 1))),
        None,
    )
    assert inner, "no interior tile in AOI"
    return inner


def _probe(report):
    """A raster process whose tile holds ``report(ctx)`` in every pixel."""
    def probe(ctx):
        return np.ma.masked_array(
            np.full((1,) + ctx.tile.shape(pixelbuffer=0), float(report(ctx)))
        )
    return probe


def _reported(out):
    """(row, col) -> what a ``_probe`` reported for that tile."""
    return {
        (r["tile_row"], r["tile_col"]): float(row_to_array(r.asDict())[0, 0, 0])
        for r in out.collect()
    }


def test_materialize_matches_direct(dem_table):
    rows = dem_table.collect()
    assert rows
    for r in rows[:4]:
        t = GEO.tile(r["zoom"], r["tile_row"], r["tile_col"])
        direct = dem_tile(t, hole=False)
        got = row_to_array(r.asDict())
        np.testing.assert_allclose(got.data, direct.filled(DEM_NODATA), atol=1e-5)


def test_halo_buffered_equals_direct_window(spark, dem_table, edge_table):
    """The halo exchange gives a tile whose neighbours are all in its
    table the DEM window read directly: an interior AOI tile, and the
    edge tiles of a non-global grid, where Tile.bounds clips the
    buffer."""
    pb = 2

    def window_error(ctx):
        # largest difference from the direct window; inf for another shape
        direct = dem_tile(ctx.tile, pixelbuffer=pb, hole=False).filled(DEM_NODATA)
        if ctx.array.shape != direct.shape:
            return np.inf
        return np.abs(ctx.array.filled(DEM_NODATA) - direct).max()

    for table, pyr, tiles in (
        (dem_table, GEO, None),
        (edge_table, EDGE, EDGE_TILES),
    ):
        errors = _reported(
            run_raster_process(table, pyr, _probe(window_error), pixelbuffer=pb)
        )
        for rc in tiles or [_interior(set(errors))]:
            assert errors[rc] <= 1e-5, (pyr, rc, errors[rc])


def test_halo_edge_tile_nodata_outside_aoi(spark, dem_table):
    pb = 2
    # corner tile of the AOI: missing neighbors -> masked strips; the
    # probe reports whether the top-left buffer corner is masked
    corner_masked = _reported(run_raster_process(
        dem_table, GEO,
        _probe(lambda ctx: np.ma.getmaskarray(ctx.array)[:, 0, 0].all()),
        pixelbuffer=pb,
    ))
    assert corner_masked[min(corner_masked)] == 1.0


def test_hillshade_pipeline_matches_direct(spark, dem_table, edge_table):
    """Hillshade of the assembled window equals the hillshade of the
    direct window cut to the tile by the window's bounds: an interior
    AOI tile, and the edge tiles of a non-global grid."""
    for table, pyr, zoom, pb, tiles in (
        (dem_table, GEO, ZOOM, 1, None),
        (edge_table, EDGE, EDGE_ZOOM, 2, EDGE_TILES),
    ):
        hs = run_raster_process(
            table, pyr, process_hillshade,
            params={"azimuth": 315.0, "altitude": 45.0}, pixelbuffer=pb,
        )
        rows = {(r["tile_row"], r["tile_col"]): r for r in hs.collect()}
        for rc in tiles or [_interior(set(rows))]:
            t = pyr.tile(zoom, *rc)
            got = row_to_array(rows[rc].asDict())
            assert got.shape == (1,) + t.shape(pixelbuffer=0)
            direct_dem = dem_tile(t, pixelbuffer=pb, hole=False)
            direct_hs = np_hillshade(direct_dem, (t.pixel_x_size, 0, 0, 0, -t.pixel_y_size, 0))
            bb, tb = t.bounds(pixelbuffer=pb), t.bounds(pixelbuffer=0)
            up = round((bb.top - tb.top) / t.pixel_y_size)
            left = round((tb.left - bb.left) / t.pixel_x_size)
            th, tw = t.shape(pixelbuffer=0)
            np.testing.assert_array_equal(
                got[0].data, direct_hs.data[up : up + th, left : left + tw], err_msg=str(rc)
            )


def test_convert_scale(spark, dem_table):
    out = run_raster_process(
        dem_table, GEO, process_convert,
        params={"scale_ratio": 0.5, "scale_offset": 10.0, "dtype": "int16"},
        out_dtype="int16",
    )
    r = out.limit(1).collect()[0]
    t = GEO.tile(r["zoom"], r["tile_row"], r["tile_col"])
    direct = dem_tile(t, hole=False)[0].astype("float64") * 0.5 + 10.0
    got = row_to_array(r.asDict())
    np.testing.assert_allclose(got[0].data.astype("float64"), np.clip(direct, -32768, 32767).astype("int16"), atol=1)


def test_clip_process(spark, dem_table):
    clip_poly = Polygon.from_bounds(Bounds(10.0, 25.0, 30.0, 45.0))
    out = run_raster_process(
        dem_table, GEO, process_clip, params={"clip_geometries": [clip_poly]}
    )
    rows = out.collect()
    assert rows  # tiles intersecting the clip poly survive
    # a tile fully outside the polygon must be dropped
    for r in rows:
        t = GEO.tile(r["zoom"], r["tile_row"], r["tile_col"])
        assert t.bounds().intersects(Bounds(10.0, 25.0, 30.0, 45.0))


def test_contours_vector_process(spark, dem_table):
    out = run_vector_process(
        dem_table, GEO, process_contours, params={"interval": 200, "field": "elev"}
    )
    rows = out.collect()
    assert rows
    props = json.loads(rows[0]["properties"])
    assert props["elev"] % 200 == 0
    from mapchete_spark.geometry.wkb import from_wkb

    geom = from_wkb(rows[0]["geometry"])
    assert geom.geom_type == "LineString"


def test_overview_reduce_matches_direct(spark, dem_table):
    levels = build_overviews(dem_table, GEO, ZOOM, ZOOM - 2, resampling="average")
    assert [z for z, _ in levels] == [4, 3]
    z4 = dict()
    for r in levels[0][1].collect():
        z4[(r["tile_row"], r["tile_col"])] = r
    assert z4
    # verify one parent against direct mosaic+resample of its children
    (prow, pcol), r = sorted(z4.items())[len(z4) // 2]
    parent = GEO.tile(4, prow, pcol)
    children = [
        (c, dem_tile(c, hole=False))
        for c in parent.get_children()
        if AOI.intersects(c.bounds())
    ]
    mosaic, mb = create_mosaic(children, nodata=DEM_NODATA)
    expect = resample_from_array(
        mosaic, mb, parent.bounds(), parent.shape(), resampling="average",
        nodata=DEM_NODATA,
    )
    got = row_to_array(r.asDict())
    np.testing.assert_allclose(got.data, expect.filled(DEM_NODATA), atol=1e-4)


def test_overview_upsample_children(spark, dem_table):
    up = overview_upsample(dem_table.limit(2), GEO, resampling="nearest")
    rows = up.collect()
    assert len(rows) == 8  # 2 parents x 4 children
    zooms = {r["zoom"] for r in rows}
    assert zooms == {ZOOM + 1}


HOLE_AOI = Bounds(101.25, -2.8125, 109.6875, 2.8125)  # z6: the DEM hole cuts in
TRIANGLE = Polygon(np.array([[0.0, 20.0], [45.0, 20.0], [0.0, 50.0], [0.0, 20.0]]))
#: name -> (pyramid, zoom, bounds, pixelbuffer, hole, area, process, filter)
WINDOW_CASES = {
    "pb1": (GEO, ZOOM, AOI, 1, False, None, "hillshade", None),
    "pb2": (GEO, ZOOM, AOI, 2, False, None, "hillshade", None),
    "pb1_hole": (GEO, 6, HOLE_AOI, 1, True, None, "hillshade", None),
    "pb2_hole": (GEO, 6, HOLE_AOI, 2, True, None, "hillshade", None),
    "globe_pb1": (GEO, 2, None, 1, False, None, "hillshade", None),
    "globe_pb2_hole": (GEO, 2, None, 2, True, None, "hillshade", None),
    "antimeridian_pb1": (GEO, ZOOM, Bounds(170.0, -10.0, 190.0, 10.0), 1, False, None, "hillshade", None),
    "north_pole_pb1": (GEO, 4, Bounds(-30.0, 70.0, 30.0, 90.0), 1, False, None, "hillshade", None),
    "south_pole_pb2_hole": (GEO, 4, Bounds(100.0, -90.0, 150.0, -70.0), 2, True, None, "hillshade", None),
    "metatiling2_pb1": (TilePyramid("geodetic", metatiling=2), 4, AOI, 1, False, None, "hillshade", None),
    "metatiling2_globe_pb2": (TilePyramid("geodetic", metatiling=2), 2, None, 2, False, None, "hillshade", None),
    "area_pb1": (GEO, ZOOM, AOI, 1, False, TRIANGLE, "hillshade", None),
    "area_pb2_hole": (GEO, 6, HOLE_AOI, 2, True, Polygon.regular(105.5, 0.0, 3.0), "hillshade", None),
    "half_drop_pb1": (GEO, ZOOM, AOI, 1, False, None, "hillshade", False),
    "half_keep_pb2": (GEO, ZOOM, AOI, 2, False, None, "hillshade", True),
    "pb0_convert": (GEO, ZOOM, AOI, 0, True, TRIANGLE, "convert", None),
    "pb2_convert": (GEO, ZOOM, AOI, 2, False, None, "convert", None),
    "contours_pb1": (GEO, ZOOM, AOI, 1, False, None, "contours", None),
    "contours_globe_pb2": (GEO, 2, None, 2, False, None, "contours", None),
    "contours_antimeridian_pb1": (GEO, ZOOM, Bounds(170.0, -10.0, 190.0, 10.0), 1, False, None, "contours", None),
}


def _write_row_groups(table, path, per_group):
    """Write the Arrow ``table`` of tiles to one parquet file at
    ``path``, sorted by row and column, in row groups of ``per_group``
    tiles."""
    import pyarrow.parquet as pq

    os.makedirs(path)
    pq.write_table(
        table.sort_by([("tile_row", "ascending"), ("tile_col", "ascending")]),
        os.path.join(path, "part-0.parquet"), row_group_size=per_group,
    )


def test_windowed_process_equals_halo_exchange(spark, tmp_path, monkeypatch):
    """Windows read in the process task give the halo exchange's tiles
    byte for byte: pixelbuffer 0-2, the DEM hole, the antimeridian, the
    pole rows, metatiling, an area, a continue-mode key filter, and
    vector (contours) rows, compared by md5 of geometry and properties.
    The windows are read from the DEM and from its tile table, written
    to parquet in several row groups, once with the table opened once per
    task and once per block (READ_BYTES of 1)."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from mapchete_spark.operators import halo
    from mapchete_spark.operators.checkpoint import KeyFilter
    from mapchete_spark.operators.halo import run_windowed_process
    from mapchete_spark.operators.rastertable import TileTableSource, aoi_tile_keys

    dems = {
        name: materialize_dem(spark, zoom, pyr, bounds=bounds, hole=hole, area=area)
        for name, (pyr, zoom, bounds, pb, hole, area, *_) in WINDOW_CASES.items()
    }
    tables = functools.reduce(lambda a, b: a.unionByName(b), (
        dem.withColumn("case", F.lit(name)) for name, dem in dems.items()
    )).toArrow()
    for name in WINDOW_CASES:
        table = tables.filter(pc.equal(tables["case"], name)).drop_columns(["case"])
        _write_row_groups(table, str(tmp_path / name), max(1, table.num_rows // 5))

    processes = {"hillshade": process_hillshade, "convert": process_convert}
    frames = []
    for name, (pyr, zoom, bounds, pb, hole, area, proc, keep) in WINDOW_CASES.items():
        todo = None
        if keep is not None:
            todo = KeyFilter(aoi_tile_keys(pyr, zoom, bounds)[::2], keep=keep)
        vector = proc == "contours"
        if vector:
            out = dict(process=process_contours, params={"interval": 200})
            digest = F.md5(F.concat("geometry", F.encode("properties", "utf-8")))
        else:
            out = dict(process=processes[proc], params={"dtype": "int16"},
                       out_dtype="uint8" if proc == "hillshade" else "int16", out_nodata=0)
            digest = F.md5("data")
        def windowed(source):
            return run_windowed_process(
                spark, pyr, zoom, source, DEM_NODATA, pb, bounds=bounds, area=area,
                target_filter=todo, vector=vector, **out,
            )

        sides = {
            "windowed": windowed(functools.partial(dem_tile, hole=hole)),
            "table": windowed(TileTableSource(str(tmp_path / name))),
        }
        with monkeypatch.context() as m:
            m.setattr(halo, "READ_BYTES", 1)
            sides["table_per_block"] = windowed(TileTableSource(str(tmp_path / name)))
        run = run_vector_process if vector else run_raster_process
        sides["halo"] = run(dems[name], pyr, pixelbuffer=pb, target_filter=todo, **out)
        frames += [
            df.select(F.lit(side).alias("side"), F.lit(name).alias("case"), "tile_key",
                      digest.alias("h"))
            for side, df in sides.items()
        ]

    got: dict = {}
    for r in functools.reduce(lambda a, b: a.unionByName(b), frames).collect():
        got.setdefault((r["side"], r["case"]), {}).setdefault(r["tile_key"], []).append(r["h"])
    for name in WINDOW_CASES:
        windowed, table, per_block, reference = (
            {k: sorted(v) for k, v in got.get((side, name), {}).items()}
            for side in ("windowed", "table", "table_per_block", "halo")
        )
        assert reference and windowed == reference, name
        assert table == reference and per_block == reference, name


def _list_accumulator(spark):
    """An accumulator that concatenates the lists tasks add."""
    from pyspark import AccumulatorParam

    class Lists(AccumulatorParam):
        def zero(self, value):
            return []

        def addInPlace(self, a, b):
            return a + b

    return spark.sparkContext.accumulator([], Lists())


def test_table_task_reads_its_row_groups(spark, tmp_path):
    """A task reads only the row groups that hold its tiles and their
    neighbours: over a table of many row groups, with a key filter that
    keeps one tile row, no task reads all of them, and the tiles equal
    the halo exchange's. Each read row group comes back with its task
    through an accumulator."""
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    from mapchete_spark.operators.checkpoint import KeyFilter
    from mapchete_spark.operators.halo import run_windowed_process
    from mapchete_spark.operators.rastertable import TileTableSource, aoi_tile_keys

    reads = _list_accumulator(spark)

    class Counted(TileTableSource):
        def read_row_groups(self, groups, *args):
            task = TaskContext.get().partitionId()
            reads.add([(task, int(g["file"]), int(g["index"])) for g in groups])
            return super().read_row_groups(groups, *args)

    dem = materialize_dem(spark, ZOOM, GEO, bounds=AOI, hole=False)
    path = str(tmp_path / "dem")
    _write_row_groups(dem.toArrow(), path, 4)
    source = Counted(path)
    keys = aoi_tile_keys(GEO, ZOOM, AOI)
    _, rows, _ = split_linear_tile_key(keys)
    todo = KeyFilter(keys[rows == 9], keep=True)
    out = dict(process=process_hillshade, params={}, out_dtype="uint8", out_nodata=0)
    windowed = run_windowed_process(
        spark, GEO, ZOOM, source, DEM_NODATA, 1, bounds=AOI, target_filter=todo, **out
    )
    halo = run_raster_process(dem, GEO, pixelbuffer=1, target_filter=todo, **out)

    def md5s(df):
        return sorted(tuple(r) for r in df.select("tile_key", F.md5("data")).collect())

    assert md5s(windowed) == md5s(halo) and len(md5s(halo)) == todo.keys.size
    per_task: dict = {}
    for task, *group in reads.value:
        per_task.setdefault(task, set()).add(tuple(group))
    assert len(source.row_groups) >= 10 and per_task
    assert max(map(len, per_task.values())) < len(source.row_groups), per_task


def test_table_task_holds_at_most_its_read_budget(spark, tmp_path, monkeypatch):
    """Over a tile table larger than a task's budgets (READ_BYTES of
    encoded tiles, WINDOW_CACHE_BYTES of decoded windows), a task opens
    the table once per run of blocks, and each open holds at most
    READ_BYTES; the tiles equal the halo exchange's at pixelbuffer 1.
    The bytes each open holds come back with its task through an
    accumulator."""
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    from mapchete_spark.operators import halo
    from mapchete_spark.operators.rastertable import TileTableSource

    monkeypatch.setattr(halo, "READ_BYTES", 8 << 20)
    monkeypatch.setattr(halo, "WINDOW_CACHE_BYTES", 4 << 20)
    opens = _list_accumulator(spark)

    class Counted(TileTableSource):
        def read_row_groups(self, *args):
            held = 0
            for tile, payload in super().read_row_groups(*args):
                held += len(payload[0])
                yield tile, payload
            opens.add([(TaskContext.get().partitionId(), held)])

    zoom = ZOOM + 1
    dem = materialize_dem(spark, zoom, GEO, bounds=AOI, hole=True)
    table = dem.toArrow()
    path = str(tmp_path / "dem")
    _write_row_groups(table, path, 8)
    out = dict(process=process_hillshade, params={}, out_dtype="uint8", out_nodata=0)
    windowed = halo.run_windowed_process(
        spark, GEO, zoom, Counted(path), None, 1, bounds=AOI, **out
    )
    reference = run_raster_process(dem, GEO, pixelbuffer=1, **out)

    def md5s(df):
        return sorted(tuple(r) for r in df.select("tile_key", F.md5("data")).collect())

    assert md5s(reference) and md5s(windowed) == md5s(reference)
    assert sum(map(len, table.column("data").to_pylist())) > 2 * (12 << 20)
    per_task: dict = {}
    for task, held in opens.value:
        per_task.setdefault(task, []).append(held)
    assert max(held for _, held in opens.value) <= 8 << 20, per_task
    assert max(map(len, per_task.values())) > 1, per_task


#: name -> (pyramid, zoom, bounds, pixelbuffer, hole, area, resampling, keep)
FUSED_CASES = {
    **{
        # AOI rows 7-12: odd top and bottom edges, half-filled blocks
        r: (GEO, ZOOM, AOI, 1, False, None, r, None)
        for r in (
            "nearest", "average", "bilinear", "cubic", "cubic_spline",
            "lanczos", "max", "min", "mode",
        )
    },
    "hole_average": (GEO, 6, HOLE_AOI, 2, True, None, "average", None),
    "area_average": (GEO, ZOOM, AOI, 1, False, TRIANGLE, "average", None),
    "antimeridian_bilinear": (GEO, ZOOM, Bounds(170.0, -10.0, 190.0, 10.0), 1, False, None, "bilinear", None),
    "north_pole_cubic": (GEO, 4, Bounds(-30.0, 70.0, 30.0, 90.0), 1, False, None, "cubic", None),
    "south_pole_mode_hole": (GEO, 4, Bounds(100.0, -90.0, 150.0, -70.0), 2, True, None, "mode", None),
    # the fused level is zoom 0: both pole rows, wrapped canvases
    "globe_z1_average": (GEO, 1, None, 1, False, None, "average", None),
    "metatiling2_average": (TilePyramid("geodetic", metatiling=2), 4, AOI, 1, False, None, "average", None),
    "half_drop_max": (GEO, ZOOM, AOI, 1, False, None, "max", False),
}


def test_fused_parents_equal_overview_reduce(spark):
    """The parents ``run_windowed_process`` reduces in its task equal
    ``overview_reduce_once`` over the tiles it writes, by md5: every
    lower resampling, Empty tiles of the DEM hole, odd AOI edges and an
    area (parents with fewer than four children), the antimeridian,
    both pole rows, zoom 0 as the parent level, metatiling and a
    continue-mode key filter. Its tiles are those of the walk without
    parents."""
    from pyspark.sql import functions as F

    from mapchete_spark.operators.checkpoint import PASS_ALL, KeyFilter
    from mapchete_spark.operators.halo import run_windowed_process
    from mapchete_spark.operators.overviews import overview_reduce_once
    from mapchete_spark.operators.rastertable import aoi_tile_keys

    frames = []
    for name, (pyr, zoom, bounds, pb, hole, area, resampling, keep) in FUSED_CASES.items():
        todo = None
        if keep is not None:
            todo = KeyFilter(aoi_tile_keys(pyr, zoom, bounds)[::2], keep=keep)

        def walk(**kw):
            return run_windowed_process(
                spark, pyr, zoom, functools.partial(dem_tile, hole=hole), DEM_NODATA, pb,
                process_hillshade, params={"dtype": "int16"}, out_dtype="uint8",
                out_nodata=0, bounds=bounds, area=area, target_filter=todo, **kw,
            )

        tiles = walk()
        sides = (
            ("fused", walk(parents=PASS_ALL, resampling=resampling)),
            ("tiles", tiles),
            ("reduced", overview_reduce_once(tiles, pyr, resampling)),
        )
        frames += [
            df.select(F.lit(side).alias("side"), F.lit(name).alias("case"), "zoom",
                      "tile_key", F.md5("data").alias("h"))
            for side, df in sides
        ]

    got: dict = {}
    for r in functools.reduce(lambda a, b: a.unionByName(b), frames).collect():
        got.setdefault((r["side"], r["case"]), []).append((r["zoom"], r["tile_key"], r["h"]))
    for name, (_, zoom, *_rest) in FUSED_CASES.items():
        fused = sorted(got.get(("fused", name), []))
        want = sorted(got[("tiles", name)] + got[("reduced", name)])
        assert any(z == zoom - 1 for z, _, _ in want), name
        assert fused == want, name


def test_zoom0_walk_has_no_parent_level(spark):
    """At zoom 0 the blocks have no parent tile: the walk gives the halo
    exchange's tiles, and asking it for parents raises."""
    from pyspark.sql import functions as F

    from mapchete_spark.operators.checkpoint import PASS_ALL
    from mapchete_spark.operators.halo import run_windowed_process

    dem = functools.partial(dem_tile, hole=False)
    out = dict(process=process_hillshade, params={"dtype": "int16"},
               out_dtype="uint8", out_nodata=0)
    windowed = run_windowed_process(spark, GEO, 0, dem, DEM_NODATA, 1, **out)
    halo = run_raster_process(materialize_dem(spark, 0, GEO, hole=False), GEO, pixelbuffer=1, **out)

    def md5s(df):
        return sorted(tuple(r) for r in df.select("tile_key", F.md5("data")).collect())

    assert len(md5s(windowed)) == 2 and md5s(windowed) == md5s(halo)
    with pytest.raises(ValueError):
        run_windowed_process(spark, GEO, 0, dem, DEM_NODATA, 1, parents=PASS_ALL, **out)

"""End-to-end Spark raster pipeline tests: DEM tile table -> halo
buffered reads -> hillshade/contours/convert processes -> overview
reduction. Goldens computed directly from the analytic DEM."""

import json

import numpy as np
import pytest

from mapchete_spark.geometry.core import Polygon
from mapchete_spark.operators.halo import add_buffers
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

GEO = TilePyramid("geodetic")
AOI = Bounds(0.0, 20.0, 45.0, 50.0)
ZOOM = 5


@pytest.fixture(scope="module")
def dem_table(spark):
    df = materialize_dem(spark, ZOOM, GEO, bounds=AOI, hole=False).cache()
    df.count()
    yield df
    df.unpersist()


def test_materialize_matches_direct(dem_table):
    rows = dem_table.collect()
    assert rows
    for r in rows[:4]:
        t = GEO.tile(r["zoom"], r["tile_row"], r["tile_col"])
        direct = dem_tile(t, hole=False)
        got = row_to_array(r.asDict())
        np.testing.assert_allclose(got.data, direct.filled(DEM_NODATA), atol=1e-5)


def test_halo_buffered_equals_direct_window(spark, dem_table):
    pb = 2
    buffered = add_buffers(dem_table, GEO, pb)
    rows = {(r["tile_row"], r["tile_col"]): r for r in buffered.collect()}
    # pick an interior tile of the AOI (all 8 neighbors present)
    inner = None
    keys = set(rows)
    for (rr, cc) in keys:
        if all((rr + dr, cc + dc) in keys for dr in (-1, 0, 1) for dc in (-1, 0, 1)):
            inner = (rr, cc)
            break
    assert inner, "no interior tile in AOI"
    r = rows[inner]
    t = GEO.tile(ZOOM, *inner)
    assert (r["height"], r["width"]) == t.shape(pixelbuffer=pb)
    direct = dem_tile(t, pixelbuffer=pb, hole=False)
    got = row_to_array(r.asDict())
    np.testing.assert_allclose(got.data, direct.filled(DEM_NODATA), atol=1e-5)


def test_halo_edge_tile_nodata_outside_aoi(spark, dem_table):
    pb = 2
    buffered = add_buffers(dem_table, GEO, pb)
    rows = {(r["tile_row"], r["tile_col"]): r for r in buffered.collect()}
    # corner tile of the AOI: missing neighbors -> masked strips
    corner = min(rows)
    arr = row_to_array(rows[corner].asDict())
    assert arr.mask[:, 0, 0].all()  # top-left buffer corner has no source


def test_hillshade_pipeline_matches_direct(spark, dem_table):
    pb = 1
    buffered = add_buffers(dem_table, GEO, pb)
    hs = run_raster_process(
        buffered, GEO, process_hillshade, params={"azimuth": 315.0, "altitude": 45.0}
    )
    rows = {(r["tile_row"], r["tile_col"]): r for r in hs.collect()}
    keys = set(rows)
    inner = next(
        (rc for rc in keys
         if all((rc[0] + dr, rc[1] + dc) in keys for dr in (-1, 0, 1) for dc in (-1, 0, 1))),
        None,
    )
    assert inner
    t = GEO.tile(ZOOM, *inner)
    got = row_to_array(rows[inner].asDict())
    assert got.shape == (1,) + t.shape(pixelbuffer=0)
    direct_dem = dem_tile(t, pixelbuffer=pb, hole=False)
    direct_hs = np_hillshade(direct_dem, (t.pixel_x_size, 0, 0, 0, -t.pixel_y_size, 0))
    th, tw = t.shape(pixelbuffer=0)
    np.testing.assert_array_equal(got[0].data, direct_hs.data[pb : pb + th, pb : pb + tw])


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
}


def test_windowed_process_equals_halo_exchange(spark):
    """Windows read in the process task give the halo exchange's tiles
    byte for byte: pixelbuffer 0-2, the DEM hole, the antimeridian, the
    pole rows, metatiling, an area and a continue-mode key filter."""
    import functools

    from pyspark.sql import functions as F

    from mapchete_spark.operators.checkpoint import KeyFilter
    from mapchete_spark.operators.halo import run_windowed_process
    from mapchete_spark.operators.rastertable import aoi_tile_keys

    processes = {"hillshade": process_hillshade, "convert": process_convert}
    windowed, halo = [], []
    for name, (pyr, zoom, bounds, pb, hole, area, proc, keep) in WINDOW_CASES.items():
        todo = None
        if keep is not None:
            todo = KeyFilter(aoi_tile_keys(pyr, zoom, bounds)[::2], keep=keep)
        out = dict(process=processes[proc], params={"dtype": "int16"},
                   out_dtype="uint8" if proc == "hillshade" else "int16", out_nodata=0)
        windowed.append(run_windowed_process(
            spark, pyr, zoom, functools.partial(dem_tile, hole=hole), DEM_NODATA,
            pb, bounds=bounds, area=area, target_filter=todo, **out,
        ).withColumn("case", F.lit(name)))
        dem = materialize_dem(spark, zoom, pyr, bounds=bounds, hole=hole, area=area)
        halo.append(run_raster_process(
            dem, pyr, pixelbuffer=pb, target_filter=todo, **out,
        ).withColumn("case", F.lit(name)))

    got: dict = {}
    both = [df.withColumn("side", F.lit(side)) for side, dfs in (("windowed", windowed), ("halo", halo)) for df in dfs]
    for r in functools.reduce(lambda a, b: a.unionByName(b), both).select(
        "side", "case", "tile_key", F.md5("data").alias("h")
    ).collect():
        got.setdefault((r["side"], r["case"]), {})[r["tile_key"]] = r["h"]
    for name in WINDOW_CASES:
        assert got.get(("windowed", name)) == got[("halo", name)], name

"""'mapchete convert' analog (J9): retile/copy an existing output."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapchete_spark.operators.rastertable import materialize_dem, row_to_array
from mapchete_spark.plans.convert import convert
from mapchete_spark.tilegrid import Bounds, TilePyramid

GEO = TilePyramid("geodetic")
AOI = Bounds(0.0, 20.0, 45.0, 50.0)


@pytest.fixture()
def src_output(spark, tmp_path):
    out = str(tmp_path / "src")
    dem = materialize_dem(spark, 4, GEO, bounds=AOI, hole=False)
    dem.write.mode("overwrite").partitionBy("zoom").parquet(
        os.path.join(out, "tiles")
    )
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "metadata.json"), "w") as f:
        json.dump(dict(pyramid=GEO.to_dict(), dtype="float32", nodata=-9999.0), f)
    return out


def test_convert_copy_with_scale(spark, tmp_path, src_output):
    dst = str(tmp_path / "dst")
    counts = convert(spark, src_output, dst, scale_ratio=2.0, scale_offset=5.0)
    assert counts["convert_z4"] > 0
    src = spark.read.parquet(os.path.join(src_output, "tiles"))
    got = spark.read.parquet(os.path.join(dst, "tiles"))
    assert got.count() == src.count()
    s = src.orderBy("tile_row", "tile_col").limit(1).collect()[0].asDict()
    g = got.where(
        (F.col("tile_row") == s["tile_row"]) & (F.col("tile_col") == s["tile_col"])
    ).collect()[0].asDict()
    np.testing.assert_allclose(
        np.asarray(row_to_array(g)),
        np.asarray(row_to_array(s)) * 2.0 + 5.0,
        rtol=1e-6,
    )
    with open(os.path.join(dst, "metadata.json")) as f:
        meta = json.load(f)
    assert meta["process"] == "convert"


def test_convert_cross_grid(spark, tmp_path, src_output):
    dst = str(tmp_path / "dst_merc")
    merc = TilePyramid("mercator")
    counts = convert(spark, src_output, dst, dst_pyramid=merc)
    assert counts["convert_z4"] > 0
    got = spark.read.parquet(os.path.join(dst, "tiles"))
    assert got.count() == counts["convert_z4"]
    with open(os.path.join(dst, "metadata.json")) as f:
        meta = json.load(f)
    assert "mercator" in str(meta["pyramid"])


def test_convert_metatiling_guard(spark, tmp_path, src_output):
    bigger = TilePyramid("geodetic", metatiling=2)
    with pytest.raises(ValueError, match="metatiling"):
        convert(spark, src_output, str(tmp_path / "x"), dst_pyramid=bigger)


def test_convert_cli_smoke(spark, tmp_path, src_output):
    import subprocess
    import sys

    dst = str(tmp_path / "dst_cli")
    from tests.conftest import run_cli_inproc

    rc, out_txt = run_cli_inproc("convert", [src_output, dst, "--scale-ratio", "1.0"])
    assert rc == 0
    out = json.loads(out_txt.strip().splitlines()[-1])
    assert out["status"] == "done" and out["stages"]["convert_z4"] > 0


def test_convert_reads_source_with_its_schema(spark, tmp_path, src_output):
    """A same-grid convert of one zoom reads the source tile table with
    the raster schema: its Spark jobs run no ``parallelize`` stage, the
    schema-inference job a read without a schema starts."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    group = f"convert-{tmp_path.name}"
    sc.setJobGroup(group, "convert")
    try:
        counts = convert(spark, src_output, str(tmp_path / "dst"), zoom_levels=[4])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts["convert_z4"] > 0

    def scopes(cluster):  # operator scopes of a stage's RDD graph
        children = cluster.childClusters()
        return [cluster.name()] + [
            n for i in range(children.size()) for n in scopes(children.apply(i))
        ]

    jobs = sc.statusTracker().getJobIdsForGroup(group)
    stages = {s for j in jobs for s in sc.statusTracker().getJobInfo(j).stageIds}
    names = [n for s in stages for n in scopes(store.operationGraphForStage(s).rootCluster())]
    assert jobs and names and "parallelize" not in names, names

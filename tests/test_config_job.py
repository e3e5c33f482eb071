"""Config parsing (zoom conditionals, validation) and end-to-end job
runs of the example configs (reference test strategy §5: every example
config is executed, test_examples.py:8-27)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapchete_spark.plans.config import ConfigError, JobConfig, element_at_zoom
from mapchete_spark.plans.job import execute, tile_index

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONFIGS = os.path.join(HERE, "configs")


class TestZoomConditional:
    def test_plain_passthrough(self):
        assert element_at_zoom("x", 12, 5) == 12
        assert element_at_zoom("x", "abc", 5) == "abc"

    @pytest.mark.parametrize(
        "cond,zoom,expect",
        [
            ("zoom=5", 5, "v"),
            ("zoom=5", 6, None),
            ("zoom<=7", 7, "v"),
            ("zoom<=7", 8, None),
            ("zoom>7", 8, "v"),
            ("zoom>7", 7, None),
            ("zoom<9", 8, "v"),
            ("zoom>=10", 10, "v"),
        ],
    )
    def test_operators(self, cond, zoom, expect):
        assert element_at_zoom("p", {cond: "v"}, zoom) == expect

    def test_nested_dict(self):
        conf = {
            "a": {"zoom<=5": 1, "zoom>5": 2},
            "b": 3,
        }
        assert element_at_zoom("params", conf, 4) == {"a": 1, "b": 3}
        assert element_at_zoom("params", conf, 9) == {"a": 2, "b": 3}

    def test_mixed_keys_raise(self):
        with pytest.raises(ConfigError):
            element_at_zoom("p", {"zoom<=5": 1, "other": 2}, 4)

    def test_overlapping_raise(self):
        with pytest.raises(ConfigError):
            element_at_zoom("p", {"zoom<=5": 1, "zoom<4": 2}, 3)


class TestConfigParse:
    def test_hillshade_config(self):
        cfg = JobConfig.from_file(os.path.join(CONFIGS, "hillshade.mapchete"))
        assert cfg.process == "hillshade"
        assert cfg.zoom_levels == [3, 4, 5, 6]
        assert cfg.pyramid.pixelbuffer == 2
        assert cfg.params_at_zoom(4)["azimuth"] == 315.0

    def test_zoom_dependent_params(self):
        cfg = JobConfig.from_file(os.path.join(CONFIGS, "zoom_dependent.mapchete"))
        assert cfg.params_at_zoom(5)["scale_ratio"] == 1.0
        assert cfg.params_at_zoom(6)["scale_ratio"] == 0.5

    def test_baselevels_split(self):
        cfg = JobConfig.from_file(os.path.join(CONFIGS, "baselevels.mapchete"))
        assert cfg.process_zooms() == [6, 5]
        assert cfg.overview_zooms_lower() == [4, 3]
        assert cfg.overview_zooms_higher() == []

    def test_output_metatiling_guard(self):
        with pytest.raises(ConfigError):
            JobConfig.from_dict(
                dict(
                    process="convert",
                    zoom_levels=3,
                    pyramid=dict(grid="geodetic", metatiling=2),
                    output=dict(path="/tmp/x", metatiling=4),
                )
            )

    def test_baselevels_out_of_range(self):
        with pytest.raises(ConfigError):
            JobConfig.from_dict(
                dict(
                    process="convert",
                    zoom_levels=dict(min=3, max=5),
                    pyramid=dict(grid="geodetic"),
                    output=dict(path="/tmp/x"),
                    baselevels=dict(min=2, max=5),
                )
            )


@pytest.fixture(scope="module")
def executed_jobs(spark, tmp_path_factory):
    """The module's nine end-to-end config jobs are INDEPENDENT Spark
    jobs on the shared session, so they run CONCURRENTLY here (the
    oracle-parity pool pattern); each test asserts on its own
    precomputed result. Failures stay per-test: a thunk's exception is
    stored and re-raised by the owning test only."""
    import traceback
    from concurrent.futures import ThreadPoolExecutor

    base = tmp_path_factory.mktemp("cfgjobs")

    def from_file(name, sub, **over):
        cfg = JobConfig.from_file(os.path.join(CONFIGS, name))
        cfg.output["path"] = str(base / sub)
        for k, v in over.items():
            setattr(cfg, k, v)
        return cfg

    def hillshade():
        cfg = from_file("hillshade.mapchete", "hs")
        return cfg, execute(spark, cfg, mode="overwrite")

    def continue2():
        cfg = from_file("hillshade.mapchete", "hs2", zoom_levels=[4])
        c1 = execute(spark, cfg, mode="continue")
        c2 = execute(spark, cfg, mode="continue")
        return cfg, (c1, c2)

    def baselevels():
        cfg = from_file("baselevels.mapchete", "bl")
        return cfg, execute(spark, cfg, mode="overwrite")

    def zoom_dependent():
        cfg = from_file("zoom_dependent.mapchete", "zd")
        return cfg, execute(spark, cfg, mode="overwrite")

    def tidx():
        cfg = from_file("hillshade.mapchete", "hs3", zoom_levels=[4])
        execute(spark, cfg, mode="overwrite")
        return cfg, tile_index(spark, cfg.output["path"], 4).collect()

    def custom_grid():
        cfg = from_file("custom_grid.mapchete", "cg")
        return cfg, execute(spark, cfg, mode="overwrite")

    def split():
        cfg = JobConfig.from_dict(
            dict(
                process="convert",
                zoom_levels=4,
                pyramid=dict(grid="geodetic", metatiling=4),
                input="dem",
                output=dict(
                    path=str(base / "split"),
                    dtype="float32",
                    nodata=-9999.0,
                    metatiling=1,
                ),
                bounds=[0.0, 20.0, 45.0, 50.0],
            )
        )
        return cfg, execute(spark, cfg, mode="overwrite")

    def utm_grid():
        cfg = from_file("custom_grid_utm.mapchete", "cgu")
        return cfg, execute(spark, cfg, mode="overwrite")

    def ts1000():
        cfg = JobConfig.from_dict(
            {
                "process": "convert",
                "zoom_levels": {"min": 1, "max": 1},
                "pyramid": {"grid": "geodetic", "tile_size": 1000},
                "bounds": [0.0, 0.0, 90.0, 90.0],
                "input": "dem",
                "output": {
                    "format": "parquet_tiles",
                    "dtype": "float32",
                    "nodata": -9999.0,
                    "path": str(base / "ts1000"),
                },
                "process_parameters": {"scale_ratio": 1.0},
            }
        )
        return cfg, execute(spark, cfg, mode="overwrite")

    def file_groups():
        cfg = from_file("file_groups.mapchete", "fg")
        return cfg, execute(spark, cfg, mode="overwrite")

    def file_groups_split():
        # the same job on process metatiles of 2, split into output tiles of 1
        import yaml

        with open(os.path.join(CONFIGS, "file_groups.mapchete")) as f:
            conf = yaml.safe_load(f)
        conf["pyramid"]["metatiling"] = 2
        conf["output"].update(metatiling=1, path=str(base / "fg_split"))
        cfg = JobConfig.from_dict({**conf, "config_dir": CONFIGS})
        return cfg, execute(spark, cfg, mode="overwrite")

    thunks = dict(
        hillshade=hillshade, continue2=continue2, baselevels=baselevels,
        zoom_dependent=zoom_dependent, tidx=tidx, custom_grid=custom_grid,
        split=split, utm_grid=utm_grid, ts1000=ts1000,
        file_groups=file_groups, file_groups_split=file_groups_split,
    )

    def run(item):
        key, fn = item
        try:
            return key, ("ok",) + fn()
        except Exception:
            return key, ("err", traceback.format_exc())

    with ThreadPoolExecutor(max_workers=6) as pool:
        return dict(pool.map(run, thunks.items()))


def _job(executed_jobs, key):
    res = executed_jobs[key]
    assert res[0] == "ok", f"{key} job raised:\n{res[1]}"
    return res[1], res[2]


class TestExecute:
    def test_hillshade_job(self, spark, executed_jobs):
        cfg, counts = _job(executed_jobs, "hillshade")
        assert all(counts[f"process_z{z}"] > 0 for z in (3, 4, 5, 6))
        out = spark.read.parquet(os.path.join(cfg.output["path"], "tiles"))
        assert set(r["zoom"] for r in out.select("zoom").distinct().collect()) == {3, 4, 5, 6}
        assert out.where(F.col("dtype") != "uint8").count() == 0
        assert os.path.exists(os.path.join(cfg.output["path"], "metadata.json"))

    def test_continue_mode_skips(self, spark, executed_jobs):
        _, (c1, c2) = _job(executed_jobs, "continue2")
        assert c1["process_z4"] > 0
        assert c2["process_z4"] == 0

    def test_baselevels_job(self, spark, executed_jobs):
        cfg, counts = _job(executed_jobs, "baselevels")
        assert counts["process_z6"] > 0 and counts["process_z5"] > 0
        assert counts["overview_z4"] > 0 and counts["overview_z3"] > 0
        out = spark.read.parquet(os.path.join(cfg.output["path"], "tiles"))
        zooms = {r["zoom"] for r in out.select("zoom").distinct().collect()}
        assert zooms == {3, 4, 5, 6}
        # overview z4 content: average of z5 children (spot check row count)
        n4 = out.where(F.col("zoom") == 4).count()
        n5 = out.where(F.col("zoom") == 5).count()
        assert 0 < n4 <= n5
        # the stored lower chain (z4 from stored z5, z3 from stored z4)
        # is byte for byte the in-memory chain over the stored z5 level
        from mapchete_spark.operators.overviews import build_overviews

        def md5s(df):
            return {
                (r["tile_row"], r["tile_col"]): r["h"]
                for r in df.select(
                    "tile_row", "tile_col", F.md5("data").alias("h")
                ).collect()
            }

        want = build_overviews(
            out.where(F.col("zoom") == 5), cfg.pyramid, 5, 3,
            resampling=cfg.baselevels.lower,
        )
        for z, df in want:
            assert md5s(out.where(F.col("zoom") == z)) == md5s(df), z

    def test_zoom_dependent_job(self, spark, executed_jobs):
        cfg, _counts = _job(executed_jobs, "zoom_dependent")
        out = spark.read.parquet(os.path.join(cfg.output["path"], "tiles"))
        from mapchete_spark.operators.rastertable import row_to_array

        r5 = out.where(F.col("zoom") == 5).limit(1).collect()[0]
        r6 = out.where(
            (F.col("zoom") == 6)
            & (F.col("tile_row") == r5["tile_row"] * 2)
            & (F.col("tile_col") == r5["tile_col"] * 2)
        ).collect()[0]
        a5 = row_to_array(r5.asDict())
        a6 = row_to_array(r6.asDict())
        # zoom 6 scaled by 0.5: values about half of zoom 5's range
        m5 = float(np.ma.median(a5))
        m6 = float(np.ma.median(a6))
        assert m6 < m5

    def test_tile_index(self, spark, executed_jobs):
        _, idx = _job(executed_jobs, "tidx")
        assert idx
        for r in idx:
            assert r["left"] < r["right"] and r["bottom"] < r["top"]


class TestCustomGridAndSplit:
    def test_custom_grid_job(self, spark, executed_jobs):
        cfg, counts = _job(executed_jobs, "custom_grid")
        assert all(counts[f"process_z{z}"] > 0 for z in (2, 3, 4))
        out = spark.read.parquet(os.path.join(cfg.output["path"], "tiles"))
        # non-global 1x1 grid: zoom 2 has a 4x4 matrix
        z2 = out.where(F.col("zoom") == 2)
        assert z2.count() == 16
        # values match the analytic DEM on the custom grid
        from mapchete_spark.operators.rastertable import row_to_array
        from mapchete_spark.raster.dem import dem_tile
        from mapchete_spark.tilegrid import TilePyramid

        pyr = cfg.pyramid
        r = z2.limit(1).collect()[0]
        t = pyr.tile(2, r["tile_row"], r["tile_col"])
        import numpy as np

        got = row_to_array(r.asDict())
        direct = dem_tile(t)
        np.testing.assert_allclose(
            got.filled(-9999.0).astype("float32"),
            direct.filled(-9999.0).astype("float32"),
            atol=1e-2,
        )

    def test_output_metatiling_split_in_job(self, spark, executed_jobs):
        cfg, _counts = _job(executed_jobs, "split")
        out = spark.read.parquet(os.path.join(cfg.output["path"], "tiles"))
        r = out.limit(1).collect()[0]
        # output rows are BASE tiles (256x256), not 1024px metatiles
        assert (r["height"], r["width"]) == (256, 256)
        assert out.count() > 4


class TestProjStringGridJob:
    def test_utm_proj_grid_job(self, spark, executed_jobs):
        """End-to-end convert job on the reference's UTM-32 proj-string
        custom grid (examples/custom_grid), AOI-restricted."""
        import numpy as np

        from mapchete_spark.operators.rastertable import row_to_array
        from mapchete_spark.raster.dem import dem_tile

        cfg, counts = _job(executed_jobs, "utm_grid")
        assert cfg.pyramid.grid.srs == "EPSG:32632"
        assert counts["process_z0"] > 0 and counts["process_z1"] > 0
        out = spark.read.parquet(os.path.join(cfg.output["path"], "tiles"))
        # tile count == closed-form cover of the AOI on the meter grid
        for z in (0, 1):
            want = sum(
                (rmax - rmin + 1) * (cmax - cmin + 1)
                for rmin, rmax, cmin, cmax in
                cfg.pyramid.tile_ranges_from_bounds(cfg.bounds, z)
            )
            assert out.where(F.col("zoom") == z).count() == want
        # payload matches the analytic DEM sampled on the projected grid
        r = out.where(F.col("zoom") == 1).limit(1).collect()[0]
        t = cfg.pyramid.tile(1, r["tile_row"], r["tile_col"])
        got = row_to_array(r.asDict())
        np.testing.assert_allclose(
            got.filled(-9999.0).astype("float32"),
            dem_tile(t).filled(-9999.0).astype("float32"),
            atol=1e-2,
        )


class TestCustomTileSize:
    def test_tile_size_1000_job(self, spark, executed_jobs):
        """The reference's examples/custom_tile_size shape: geodetic
        grid with 1000-px tiles. Pixel size scales by 256/1000 and the
        convert job produces 1000x1000 payloads that match the analytic
        DEM sampled on the wider lattice."""
        import numpy as np

        from mapchete_spark.operators.rastertable import row_to_array
        from mapchete_spark.raster.dem import dem_tile
        from mapchete_spark.tilegrid import TilePyramid

        cfg, counts = _job(executed_jobs, "ts1000")
        assert cfg.pyramid.tile_size == 1000
        # pixel size: 90 deg tile / 1000 px
        assert cfg.pyramid.pixel_x_size(1) == pytest.approx(0.09)
        assert counts["process_z1"] == 1  # one tile covers the AOI
        out = spark.read.parquet(os.path.join(cfg.output["path"], "tiles"))
        r = out.collect()[0]
        got = row_to_array(r.asDict())
        assert got.shape[-2:] == (1000, 1000)
        t = cfg.pyramid.tile(1, r["tile_row"], r["tile_col"])
        np.testing.assert_allclose(
            np.squeeze(got.filled(-9999.0)).astype("float32"),
            np.squeeze(dem_tile(t).filled(-9999.0)).astype("float32"),
            atol=1e-2,
        )


class TestFileGroups:
    def test_named_and_grouped_inputs(self, spark, executed_jobs):
        """Reference examples/file_groups semantics: a group of two DEM
        variants plus a plain named input, combined by a user process
        receiving (member, array) tuples; output equals the hand-built
        mean of the three lattices."""
        import numpy as np

        from mapchete_spark.operators.rastertable import row_to_array
        from mapchete_spark.raster.dem import dem_tile

        cfg, counts = _job(executed_jobs, "file_groups")
        assert counts["process_z3"] > 0
        out = spark.read.parquet(os.path.join(cfg.output["path"], "tiles"))
        r = out.limit(1).collect()[0]
        t = cfg.pyramid.tile(3, r["tile_row"], r["tile_col"])
        got = np.squeeze(row_to_array(r.asDict()).filled(-9999.0))
        a = dem_tile(t, hole=True).filled(np.nan)
        b = dem_tile(t, hole=False).filled(np.nan)
        c = dem_tile(t, hole=True).filled(np.nan)  # base default hole=True
        # ma.mean skips masked members (only all-masked stays masked)
        with np.errstate(invalid="ignore"):
            g1 = np.nanmean(np.stack([a, b]), axis=0)
            want = np.nanmean(np.stack([g1, c]), axis=0)
        want = np.where(np.isnan(want), -9999.0, want)
        np.testing.assert_allclose(
            got.astype("float64"), np.squeeze(want), atol=1e-2
        )

    def test_named_inputs_output_split(self, spark, executed_jobs):
        """Named inputs on process metatiles split into smaller output
        tiles: the output tiles of the unsplit job, byte for byte."""
        from pyspark.sql import functions as F

        def stored(key):
            cfg, _ = _job(executed_jobs, key)
            out = spark.read.parquet(os.path.join(cfg.output["path"], "tiles"))
            return sorted(
                (r["tile_row"], r["tile_col"], r["h"])
                for r in out.select("tile_row", "tile_col", F.md5("data").alias("h")).collect()
            )

        want = stored("file_groups")
        assert len(want) == 4 and stored("file_groups_split") == want

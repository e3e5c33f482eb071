"""Tile-pyramid phases: fresh ``execute``, continue-mode resume, the
no-op resume and the closed single-tile read loop.

Set-up runs small executes of the same config, which warm every plan
shape of the session. Then each run measures:

1. ``raster_pyramid``: a fresh execute of the base AOI;
2. ``resume_read`` step 1: a continue run of that output over the
   widened AOI, which adds the seeded strip;
3. ``resume_read`` step 2: the same continue run again, with nothing
   left to do, repeated for ``--seconds``;
4. ``resume_read`` step 3 (traced runs): one client reading tiles in a
   closed loop.

Outputs are checked against the tile grid, the payloads written before
and every tile computed again in this process from the program's
kernels; traced runs also check the single-tile path
(``plans.job.execute_tile``).
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import time
from typing import Dict, Tuple

import numpy as np

from inputs import TILE_DEG, ZOOM_MAX, ZOOM_MIN, RasterInputs, raster_inputs, read_keys
from tracing import cpu_ticks, steal_share

PIXELBUFFER = 2
HILLSHADE = dict(azimuth=315.0, altitude=45.0, z=1.0, scale=1.0)

Key = Tuple[int, int, int]
#: tiles the reader keeps decoded; the output holds several times more,
#: so only repeated keys are served from the cache
READ_CACHE = 16
#: p95 needs at least ten samples above it
MIN_READS = 200
#: a timed execute during which the hypervisor stole more than this
#: share of the CPUs' time is timed again once the host is quiet
STEAL_MAX = 0.02
#: seconds one run may spend on waiting for a quiet host and retiming
RETRY_BUDGET_S = 45.0


def job_config(bounds, out_path: str):
    from mapchete_spark.plans.config import JobConfig

    return JobConfig.from_dict(
        dict(
            process="hillshade",
            zoom_levels=dict(min=ZOOM_MIN, max=ZOOM_MAX),
            pyramid=dict(grid="geodetic", pixelbuffer=PIXELBUFFER),
            baselevels=dict(min=ZOOM_MAX, max=ZOOM_MAX, lower="average"),
            input=dict(source="dem", hole=False),
            output=dict(format="parquet_tiles", dtype="uint8", nodata=0, path=out_path),
            process_parameters=HILLSHADE,
            bounds=list(bounds),
        )
    )


def expected_tiles(bounds) -> set:
    from mapchete_spark.tilegrid import Bounds, TilePyramid

    pyr = TilePyramid("geodetic")
    return {
        (t.zoom, t.row, t.col)
        for z in range(ZOOM_MIN, ZOOM_MAX + 1)
        for t in pyr.tiles_from_bounds(Bounds(*bounds), z)
    }


def stored_payloads(out_path: str) -> Dict[Key, bytes]:
    """Every stored tile payload, read with DuckDB (not through the
    program's reader)."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT zoom, tile_row, tile_col, data FROM read_parquet(?, "
            "hive_partitioning = true)",
            [os.path.join(out_path, "tiles", "**", "*.parquet")],
        ).fetchall()
    finally:
        con.close()
    out: Dict[Key, bytes] = {}
    for z, r, c, data in rows:
        key = (int(z), int(r), int(c))
        if key in out:  # a tile written twice is a wrong output
            out[key] = b""
        else:
            out[key] = bytes(data)
    return out


def recomputed_payloads(base, wide) -> Dict[Key, bytes]:
    """Every tile of the widened AOI, computed again in this process with
    the program's kernels but without Spark. A zoom-7 tile is hillshaded
    from the DEM of itself and of those of its eight neighbours that were
    inputs of the execute that wrote it: the base AOI for base tiles, the
    widened AOI for strip tiles. Other neighbours leave the halo nodata.
    A zoom-6 tile is the ``average`` of its four recomputed children."""
    from mapchete_spark.operators.process import TileContext, process_hillshade
    from mapchete_spark.operators.rastertable import decode_array, encode_array
    from mapchete_spark.raster.array import resample_from_array
    from mapchete_spark.raster.dem import DEM_NODATA, dem_tile
    from mapchete_spark.raster.mosaic import create_mosaic
    from mapchete_spark.tilegrid import TilePyramid

    pyr = TilePyramid("geodetic", pixelbuffer=PIXELBUFFER)
    base_in = {k[1:] for k in expected_tiles(base) if k[0] == ZOOM_MAX}
    wide_in = {k[1:] for k in expected_tiles(wide) if k[0] == ZOOM_MAX}
    dem: Dict[Tuple[int, int], np.ndarray] = {}

    def dem_of(r, c):
        if (r, c) not in dem:
            dem[(r, c)] = dem_tile(pyr.tile(ZOOM_MAX, r, c), hole=False).data[0]
        return dem[(r, c)]

    out: Dict[Key, bytes] = {}
    children = {}
    pb = PIXELBUFFER
    for r, c in sorted(wide_in):
        tile = pyr.tile(ZOOM_MAX, r, c)
        h, w = tile.shape(pixelbuffer=0)
        inputs = base_in if (r, c) in base_in else wide_in
        block = np.full((3 * h, 3 * w), DEM_NODATA, dtype=np.float32)
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                if (r + dr, c + dc) in inputs:
                    block[(dr + 1) * h : (dr + 2) * h, (dc + 1) * w : (dc + 2) * w] = dem_of(
                        r + dr, c + dc
                    )
        canvas = np.ma.masked_equal(block[h - pb : 2 * h + pb, w - pb : 2 * w + pb], DEM_NODATA)
        canvas.set_fill_value(DEM_NODATA)
        ctx = TileContext(tile=tile, array=canvas[np.newaxis], nodata=DEM_NODATA, params=HILLSHADE)
        shaded = process_hillshade(ctx).astype("uint8")
        data, dtype, bands, th, tw = encode_array(
            shaded if shaded.ndim == 3 else shaded[np.newaxis], 0.0
        )
        out[(ZOOM_MAX, r, c)] = data
        children.setdefault((r // 2, c // 2), []).append(
            (tile, decode_array(data, dtype, bands, th, tw, 0.0))
        )
    for (r, c), kids in sorted(children.items()):
        parent = pyr.tile(ZOOM_MIN, r, c)
        mosaic, mbounds = create_mosaic(kids, nodata=0.0)
        avg = resample_from_array(
            mosaic,
            mbounds,
            parent.bounds(pixelbuffer=0),
            parent.shape(pixelbuffer=0),
            resampling="average",
            nodata=0.0,
        )
        out[(ZOOM_MIN, r, c)] = encode_array(avg, 0.0)[0]
    return out


def kernel_matches_sql_twin(keys) -> Tuple[Key, bool]:
    """The hillshade kernel the recompute above shares with the program,
    checked on one tile against the program's closed-form DuckDB twin
    (``functions.rastersql.hillshade_sql``). The twin reads the DEM on
    every side of the tile, so the kernel gets the full buffered DEM here.
    Of ``keys`` the tile with the most distinct shades is checked: where
    every slope faces away from the sun a tile is shaded 1 throughout,
    which would hide a wrong kernel."""
    import duckdb

    from mapchete_spark.functions.rastersql import TILE_SIZE, WMOD, hillshade_sql
    from mapchete_spark.operators.process import TileContext, process_hillshade
    from mapchete_spark.raster.dem import DEM_NODATA, dem_tile
    from mapchete_spark.tilegrid import TilePyramid

    pyr = TilePyramid("geodetic", pixelbuffer=PIXELBUFFER)

    def shade(key):
        tile = pyr.tile(*key)
        dem = dem_tile(tile, pixelbuffer=PIXELBUFFER, hole=False)
        ctx = TileContext(tile=tile, array=dem, nodata=DEM_NODATA, params=HILLSHADE)
        out = process_hillshade(ctx).astype("uint8")
        return np.asarray(out).reshape(TILE_SIZE, TILE_SIZE)

    shades = {k: shade(k) for k in keys}
    key = max(sorted(shades), key=lambda k: len(np.unique(shades[k])))
    z, r, c = key
    con = duckdb.connect()
    try:
        twin = con.execute(hillshade_sql(z, r, r, c, c, **HILLSHADE)).fetchall()
    finally:
        con.close()
    mine = shades[key]
    i, j = np.indices(mine.shape)
    weights = (i * TILE_SIZE + j) % WMOD
    digest = (z, r, c, mine.size, int(mine.astype(np.int64).sum()), int((mine * weights).sum()))
    return key, [tuple(int(v) for v in row) for row in twin] == [digest]


class RasterPhases:
    def __init__(self, run):
        self.run = run
        self.inputs: RasterInputs = raster_inputs(run.strip_cols, run.seed)
        self.base_out = os.path.join(run.work, "base")
        self.budget_s = RETRY_BUDGET_S
        #: per timed execute: the steal share of every attempt
        self.steal: Dict[str, list] = {}

    # ---- set-up -----------------------------------------------------------

    def setup(self) -> None:
        """Small executes of the same config pay the JIT, codegen and
        Python-worker warm-up of every plan shape timed later: a fresh
        execute of a 2x2-tile corner of the base AOI, a continue run over
        that corner widened by two columns (the first to read a stored
        checkpoint), and the same continue run with nothing left to do."""
        left, _, _, top = self.inputs.base
        out = os.path.join(self.run.work, "warm")
        corner = (left, top - 2 * TILE_DEG, left + 2 * TILE_DEG, top)
        wider = (left, top - 2 * TILE_DEG, left + 4 * TILE_DEG, top)
        self._execute(job_config(corner, out), "warmup")
        self._execute(job_config(wider, out), "warmup_resume")
        self._execute(job_config(wider, out), "warmup_noop")

    def _execute(self, cfg, label: str) -> Dict[str, int]:
        from mapchete_spark.plans.job import execute

        with self.run.group(f"plans.execute.{label}"):
            return execute(self.run.spark, cfg, mode="continue")

    def _timed(self, cfg, label: str) -> Tuple[Dict[str, int], float, float]:
        """One execute: (tile counts, wall seconds, steal share)."""
        ticks, t0 = cpu_ticks(), time.perf_counter()
        counts = self._execute(cfg, label)
        wall = time.perf_counter() - t0
        steal = steal_share(ticks, cpu_ticks())
        self.steal.setdefault(label, []).append(steal)
        return counts, wall, steal

    def _quiet(self, need_s: float) -> bool:
        """Wait for a second in which the host steals at most STEAL_MAX.
        True when one came while the run's retry budget still holds
        ``need_s`` for timing the execute again; that is then charged."""
        while self.budget_s >= need_s + 1.0:
            ticks, t0 = cpu_ticks(), time.perf_counter()
            time.sleep(1.0)
            self.budget_s -= time.perf_counter() - t0
            if steal_share(ticks, cpu_ticks()) <= STEAL_MAX:
                self.budget_s -= need_s
                return True
        return False

    def _least_stolen(self, cfg, label: str, reset) -> Tuple[Dict[str, int], float]:
        """Time an execute, again after ``reset()`` while the host's steal
        spoils it and the budget lasts. Returns the last attempt's tile
        counts (its output is the one on disk) and the wall seconds of
        the attempt with the least steal. Traced runs profile the last
        attempt."""
        started = time.time()
        counts, wall, steal = self._timed(cfg, label)
        best, last = (steal, wall), (label, started, wall)
        while steal > STEAL_MAX and self._quiet(wall):
            reset()
            group = f"{label}_retry{len(self.steal[label])}"
            started = time.time()
            counts, wall, steal = self._timed(cfg, group)
            self.steal[label].append(self.steal.pop(group)[0])
            best, last = min(best, (steal, wall)), (group, started, wall)
        self.run.plans_profile(label, cfg.output["path"], *last[1:], group=last[0])
        return counts, best[1]

    # ---- measured phases ----------------------------------------------------

    def pyramid(self) -> float:
        """Fresh execute of the base AOI into an empty output; returns
        tiles written (process zoom plus overviews) per second."""
        run = self.run
        counts, wall = self._least_stolen(
            job_config(self.inputs.base, self.base_out),
            "pyramid",
            lambda: shutil.rmtree(self.base_out),
        )
        self.base_payloads = stored_payloads(self.base_out)
        want = expected_tiles(self.inputs.base)
        per_zoom = {z: sum(k[0] == z for k in want) for z in range(ZOOM_MIN, ZOOM_MAX + 1)}
        run.op(
            counts.get(f"process_z{ZOOM_MAX}") == per_zoom[ZOOM_MAX]
            and counts.get(f"overview_z{ZOOM_MIN}") == per_zoom[ZOOM_MIN]
            and set(self.base_payloads) == want,
            f"fresh pyramid wrote {counts}, tile grid has {per_zoom}",
        )
        run.layer_time("plans.execute_s.pyramid", wall)
        run.layer_count("process.tiles_processed", counts.get(f"process_z{ZOOM_MAX}", 0))
        return sum(counts.values()) / wall

    def resume(self) -> float:
        """Continue run of the base output over the widened AOI, which
        adds the strip; returns seconds."""
        run = self.run
        pristine = os.path.join(run.work, "base_pristine")
        shutil.copytree(self.base_out, pristine)

        def reset():
            shutil.rmtree(self.base_out)
            shutil.copytree(pristine, self.base_out)

        counts, wall = self._least_stolen(job_config(self.inputs.wide, self.base_out), "resume", reset)
        self.payloads = stored_payloads(self.base_out)
        new = expected_tiles(self.inputs.wide) - set(self.base_payloads)
        # base tiles keep their payload: continue mode never rewrites
        # them, even where the strip now borders them
        kept = all(self.payloads.get(k) == v for k, v in self.base_payloads.items())
        want = recomputed_payloads(self.inputs.base, self.inputs.wide)
        wrong = sorted(k for k in want if self.payloads.get(k) != want[k])
        twin_key, twin_ok = kernel_matches_sql_twin(k for k in want if k[0] == ZOOM_MAX)
        run.op(twin_ok, f"hillshade of {twin_key} unlike its SQL twin")
        run.op(
            sum(counts.values()) == len(new)
            and set(self.payloads) == set(want)
            and kept
            and not wrong
            and (not run.traced or self._matches_single_tile_path(new)),
            f"resume wrote {counts} for {len(new)} new tiles (base kept: {kept}; "
            f"payloads unlike the recomputed ones: {wrong})",
        )
        run.layer_time("plans.execute_s.resume", wall)
        run.layer_count("resume.recompute_ratio", sum(counts.values()) / len(new), "ratio")
        return wall

    def _matches_single_tile_path(self, new) -> bool:
        """A seed-sampled base tile and a seed-sampled strip tile,
        recomputed through ``execute_tile`` (no Spark halo exchange, no
        writes), are byte-equal to the stored payloads. Traced runs only:
        it costs as much as a no-op resume."""
        from mapchete_spark.plans.job import execute_tile

        rng = random.Random(f"sample:{self.run.seed}")
        sample = [
            (self.inputs.base, rng.choice(sorted(k for k in self.base_payloads if k[0] == ZOOM_MAX))),
            (self.inputs.wide, rng.choice(sorted(k for k in new if k[0] == ZOOM_MAX))),
        ]
        with self.run.tracer.span("plans.execute_tile"):
            df = None
            for bounds, (z, r, c) in sample:
                one = execute_tile(self.run.spark, job_config(bounds, self.base_out), z, r, c)
                df = one if df is None else df.unionByName(one)
            got = [
                ((int(x["zoom"]), int(x["tile_row"]), int(x["tile_col"])), bytes(x["data"]))
                for x in df.select("zoom", "tile_row", "tile_col", "data").collect()
            ]
        return sorted(got) == sorted((k, self.payloads[k]) for _, k in sample)

    def noop(self, seconds: float) -> float:
        """The same continue run with nothing left to do, repeated for
        ``seconds`` and until two repeats ran on a quiet host (while the
        retry budget lasts); returns the median seconds of those."""
        run = self.run
        samples = []
        deadline = time.perf_counter() + seconds

        def clean():
            return [w for w, s in samples if s <= STEAL_MAX]

        while (
            len(samples) < 2
            or time.perf_counter() < deadline
            or (len(clean()) < 2 and self._quiet(samples[-1][0]))
        ):
            # the first repeat gets the job group the traced run profiles
            label = "noop" if not samples else f"noop{len(samples) + 1}"
            started = time.time()
            counts, wall, steal = self._timed(job_config(self.inputs.wide, self.base_out), label)
            samples.append((wall, steal))
            run.op(sum(counts.values()) == 0, f"no-op resume processed {counts}")
            if label == "noop":
                run.plans_profile("noop", self.base_out, started, wall)
        run.op(stored_payloads(self.base_out) == self.payloads, "no-op resume changed payloads")
        wall = statistics.median(clean() or [w for w, _ in samples])
        run.layer_time("plans.execute_s.noop", wall)
        return wall

    def reads(self, seconds: float) -> Tuple[float, float, int]:
        """One client, closed loop: the next read starts when the last
        returns. Returns (p50 ms, p95 ms, sample count)."""
        from mapchete_spark.sources.serve import TileReader

        run = self.run
        stored = self.payloads
        t0 = time.perf_counter()
        with run.tracer.span("serve.open"):
            reader = TileReader(self.base_out, cache_size=READ_CACHE)
        run.layer_time("serve.open_s", time.perf_counter() - t0)
        lat: Dict[str, list] = {"hit": [], "repeat": [], "miss": []}
        n = 0
        keys = read_keys(run.seed, sorted(stored), self.inputs.wide)
        deadline = time.perf_counter() + seconds
        with run.tracer.span("serve.read_loop"):
            while time.perf_counter() < deadline or n < MIN_READS:
                kind, (z, r, c) = next(keys)
                t = time.perf_counter()
                arr = reader.read_tile(z, r, c)
                lat[kind].append(time.perf_counter() - t)
                if kind == "miss":
                    ok = arr is None
                else:
                    ok = (
                        arr is not None
                        and arr.shape == (1, 256, 256)
                        and np.asarray(arr.data).tobytes() == stored[(z, r, c)]
                    )
                run.op(ok, f"read {kind} {(z, r, c)}")
                n += 1
        every = sorted(lat["hit"] + lat["repeat"] + lat["miss"])
        q = statistics.quantiles(every, n=100, method="inclusive")
        info = reader.cache_info()
        run.layer_time("serve.read_hit_ms", 1000 * statistics.median(lat["hit"]), "ms")
        run.layer_time("serve.read_miss_ms", 1000 * statistics.median(lat["miss"]), "ms")
        run.layer_count(
            "serve.cache_hit_ratio", info.hits / max(1, info.hits + info.misses), "ratio"
        )
        run.layer_count("serve.reads", len(every))
        return 1000 * q[49], 1000 * q[94], len(every)

    # ---- traced-only probes of single layers -------------------------------

    def layer_probes(self) -> None:
        """Drive each raster layer's public operators on their own, so
        the traced run can split kernel time from Arrow transfer and
        shuffle time. Runs after every measured phase."""
        from pyspark.sql import functions as F

        from mapchete_spark.functions.geo import zorder_key_col
        from mapchete_spark.operators.checkpoint import JobStore
        from mapchete_spark.operators.overviews import overview_reduce_once
        from mapchete_spark.operators.process import (
            TileContext,
            process_hillshade,
            run_raster_process,
        )
        from mapchete_spark.operators.rastertable import (
            decode_array,
            encode_array,
            materialize_dem,
        )
        from mapchete_spark.raster.dem import DEM_NODATA, dem_tile
        from mapchete_spark.tilegrid import Bounds, TilePyramid

        run, spark = self.run, self.run.spark
        pyr = TilePyramid("geodetic", pixelbuffer=PIXELBUFFER)
        wide = Bounds(*self.inputs.wide)

        # kernels in the driver: no Spark, no Arrow
        tiles = [pyr.tile(*k) for k in sorted(self.payloads) if k[0] == ZOOM_MAX][:12]
        arrays = [dem_tile(t, pixelbuffer=PIXELBUFFER, hole=False) for t in tiles]
        with run.tracer.span("raster.hillshade"):
            t0 = time.perf_counter()
            shaded = [
                process_hillshade(TileContext(tile=t, array=a, nodata=DEM_NODATA, params=HILLSHADE))
                for t, a in zip(tiles, arrays)
            ]
            run.layer_time(
                "raster.hillshade_ms_per_tile",
                1000 * (time.perf_counter() - t0) / len(tiles),
                "ms",
            )
        with run.tracer.span("rastertable.encode"):
            t0 = time.perf_counter()
            encoded = [encode_array(a, DEM_NODATA) for a in arrays]
            run.layer_time(
                "rastertable.encode_ms_per_tile",
                1000 * (time.perf_counter() - t0) / len(arrays),
                "ms",
            )
        with run.tracer.span("rastertable.decode"):
            t0 = time.perf_counter()
            for data, dtype, bands, h, w in encoded:
                decode_array(data, dtype, bands, h, w, DEM_NODATA)
            run.layer_time(
                "rastertable.decode_ms_per_tile",
                1000 * (time.perf_counter() - t0) / len(encoded),
                "ms",
            )
        del shaded

        dem = lambda: materialize_dem(spark, ZOOM_MAX, pyr, bounds=wide, hole=False)  # noqa: E731
        with run.group("rastertable.materialize_dem") as g:
            dem().count()
        run.layer_time("rastertable.materialize_dem_s", g.wall)

        with run.group("halo.buffered_process") as g:
            run_raster_process(
                dem(),
                pyr,
                process_hillshade,
                params=HILLSHADE,
                out_dtype="uint8",
                out_nodata=0,
                pixelbuffer=PIXELBUFFER,
            ).count()
        run.layer_time("halo.buffered_process_s", g.wall)
        run.layer_count("halo.task_run_ms", g.profile["task_run_ms"], "ms")
        run.layer_count("halo.shuffle_write_bytes", g.profile["shuffle_write_bytes"], "bytes")
        run.layer_count("halo.spill_bytes", g.profile["spilled_bytes"], "bytes")

        level = spark.read.parquet(os.path.join(self.base_out, "tiles")).where(
            F.col("zoom") == ZOOM_MAX
        )
        with run.group("overviews.reduce") as g:
            overview_reduce_once(level, pyr, resampling="average").count()
        run.layer_time("overviews.reduce_s", g.wall)
        run.layer_count(
            "overviews.shuffle_write_bytes", g.profile["shuffle_write_bytes"], "bytes"
        )

        probe_store = JobStore(spark, os.path.join(run.work, "probe_state"))
        with run.group("checkpoint.commit") as g:
            probe_store.commit_tiles(level, payload_col="data")
        run.layer_time("checkpoint.commit_s", g.wall)
        store = JobStore(spark, os.path.join(self.base_out, "_state"))
        with run.group("checkpoint.filter_todo") as g:
            store.filter_todo(level.select("tile_key")).count()
        run.layer_time("checkpoint.filter_todo_s", g.wall)
        with run.group("checkpoint.read"):
            run.layer_count("checkpoint.rows", store.checkpoint().count())
        run.layer_count(
            "checkpoint.files",
            len(glob.glob(os.path.join(self.base_out, "_state", "checkpoint", "*.parquet"))),
        )

        with run.group("sink.write") as g:
            level.sortWithinPartitions(
                zorder_key_col(F.col("zoom"), F.col("tile_row"), F.col("tile_col"))
            ).write.mode("overwrite").partitionBy("zoom").parquet(
                os.path.join(run.work, "probe_sink")
            )
        run.layer_time("sink.write_s", g.wall)
        files = glob.glob(os.path.join(self.base_out, "tiles", "**", "*.parquet"), recursive=True)
        run.layer_count("sink.files", len(files))
        run.layer_count("sink.bytes", sum(os.path.getsize(f) for f in files), "bytes")

"""Continue-mode / resumability tests (FIXTURES.md harness notes:
run job, truncate part of the checkpoint, re-run, assert exactly the
missing tiles are recomputed).

The eight scenarios are independent (each owns its JobStore/out dir),
so a module fixture runs them CONCURRENTLY on the shared session (the
parity-pool pattern); a scenario's exception is stored and re-raised
by the owning test only. The tests that count Spark jobs or patch the
store run on their own, after the pool."""

import hashlib
import os
import shutil
import traceback
import uuid
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.dataset as pads
import pytest
from pyspark.sql import functions as F

from mapchete_spark.operators.checkpoint import (
    COMPACT_PARTS,
    JobStore,
    KeyFilter,
    plan_keys,
    run_stage,
    tile_files,
)
from mapchete_spark.operators.rastertable import materialize_dem
from mapchete_spark.tilegrid import Bounds, TilePyramid
from mapchete_spark.tilegrid.keys import (
    LINEAR_ZOOM_SHIFT,
    linear_tile_key,
    split_linear_tile_key,
)

GEO = TilePyramid("geodetic")
AOI = Bounds(0.0, 20.0, 45.0, 50.0)
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dem(spark):
    return materialize_dem(spark, 5, GEO, bounds=AOI, hole=False)


@pytest.fixture(scope="module")
def scenarios(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("ckpt")

    def first_run():
        store = JobStore(spark, str(base / "s1" / "job"))
        out = str(base / "s1" / "out")
        n = run_stage(store, "dem_z5", lambda: _dem(spark), out_path=out)
        return dict(
            n=n,
            total=_dem(spark).count(),
            written=spark.read.parquet(out).count(),
            ck=store.checkpoint().count(),
        )

    def second_run():
        store = JobStore(spark, str(base / "s2" / "job"))
        out = str(base / "s2" / "out")
        run_stage(store, "dem_z5", lambda: _dem(spark), out_path=out)
        n2 = run_stage(store, "dem_z5", lambda: _dem(spark), out_path=out)
        return dict(
            n2=n2,
            written=spark.read.parquet(out).count(),
            total=_dem(spark).count(),
        )

    def resume_missing():
        store = JobStore(spark, str(base / "s3" / "job"))
        out = str(base / "s3" / "out")
        run_stage(store, "dem_z5", lambda: _dem(spark), out_path=out)
        ck_path = os.path.join(store.path, "checkpoint")
        ck = spark.read.parquet(ck_path)
        keep = ck.where(F.col("tile_key") % 2 == 0)
        kept_keys = {r["tile_key"] for r in keep.select("tile_key").collect()}
        keep.write.mode("overwrite").parquet(ck_path + "_new")
        shutil.rmtree(ck_path)
        shutil.move(ck_path + "_new", ck_path)
        n3 = run_stage(store, "dem_z5", lambda: _dem(spark), out_path=None)
        all_keys = {
            r["tile_key"] for r in _dem(spark).select("tile_key").collect()
        }
        return dict(
            n3=n3,
            missing=len(all_keys - kept_keys),
            todo=store.filter_todo(_dem(spark)).count(),
        )

    def overwrite():
        store = JobStore(spark, str(base / "s4" / "job"))
        n1 = run_stage(store, "s", lambda: _dem(spark), mode="overwrite")
        n2 = run_stage(store, "s", lambda: _dem(spark), mode="overwrite")
        return dict(n1=n1, n2=n2)

    def manifest():
        store = JobStore(spark, str(base / "s5" / "job"))
        run_stage(store, "dem_z5", lambda: _dem(spark))
        return dict(
            rows=[r.asDict() for r in store.checkpoint().collect()],
            want={
                r["tile_key"]: r["h"]
                for r in _dem(spark)
                .select("tile_key", F.md5("data").alias("h"))
                .collect()
            },
            run_id=store.run_id,
            metrics=[r.asDict() for r in store.metrics().collect()],
        )

    def changed_since():
        store = JobStore(spark, str(base / "s6" / "job"))
        run_stage(store, "s1", lambda: _dem(spark).limit(10), mode="overwrite")
        first = store.run_id
        store2 = JobStore(spark, store.path)
        run_stage(store2, "s2", lambda: _dem(spark).limit(3), mode="overwrite")
        return dict(changed=store2.changed_since(first).count())

    def continue_skips_compute():
        from mapchete_spark.plans.config import JobConfig
        from mapchete_spark.plans.job import execute, register_process

        acc = spark.sparkContext.accumulator(0)

        def counting_process(ctx):
            acc.add(1)
            return ctx.array

        register_process("counting", "raster", counting_process, 1)
        cfg = JobConfig.from_file(
            os.path.join(HERE, "configs", "hillshade.mapchete")
        )
        cfg.process = "counting"
        cfg.output["path"] = str(base / "s7" / "cnt")
        cfg.output["dtype"] = None
        cfg.zoom_levels = [4]
        c1 = execute(spark, cfg, mode="continue")
        v1 = acc.value
        c2 = execute(spark, cfg, mode="continue")
        return dict(c1=c1["process_z4"], v1=v1, c2=c2["process_z4"],
                    v2=acc.value)

    def partial_resume_halo():
        from mapchete_spark.plans.config import JobConfig
        from mapchete_spark.plans.job import execute

        d = base / "s8"
        cfg = JobConfig.from_file(
            os.path.join(HERE, "configs", "hillshade.mapchete")
        )
        cfg.output["path"] = str(d / "hsr")
        cfg.zoom_levels = [5]
        execute(spark, cfg, mode="continue", store_path=str(d / "st"))
        fresh = {
            (r["tile_key"]): r["h"]
            for r in spark.read.parquet(str(d / "hsr" / "tiles"))
            .select("tile_key", F.md5("data").alias("h"))
            .collect()
        }
        ck_path = os.path.join(str(d / "st"), "checkpoint")
        ck = spark.read.parquet(ck_path)
        keep = ck.where(F.col("tile_key") % 2 == 0)
        keep.write.mode("overwrite").parquet(ck_path + "_new")
        shutil.rmtree(ck_path)
        shutil.move(ck_path + "_new", ck_path)
        out2 = str(d / "hsr2")
        cfg.output["path"] = out2
        counts = execute(spark, cfg, mode="continue", store_path=str(d / "st"))
        rows = [
            r.asDict()
            for r in spark.read.parquet(os.path.join(out2, "tiles"))
            .select("tile_key", F.md5("data").alias("h"))
            .collect()
        ]
        return dict(fresh=fresh, rows=rows, n=counts["process_z5"])

    thunks = dict(
        first_run=first_run, second_run=second_run,
        resume_missing=resume_missing, overwrite=overwrite,
        manifest=manifest, changed_since=changed_since,
        continue_skips_compute=continue_skips_compute,
        partial_resume_halo=partial_resume_halo,
    )

    def run(item):
        key, fn = item
        try:
            return key, ("ok", fn())
        except Exception:
            return key, ("err", traceback.format_exc())

    with ThreadPoolExecutor(max_workers=6) as pool:
        return dict(pool.map(run, thunks.items()))


def _res(scenarios, key):
    status, payload = scenarios[key]
    assert status == "ok", f"{key} scenario raised:\n{payload}"
    return payload


def test_first_run_processes_all(scenarios):
    r = _res(scenarios, "first_run")
    assert r["n"] == r["total"]
    assert r["written"] == r["total"]
    assert r["ck"] == r["total"]


def test_second_run_processes_zero(scenarios):
    r = _res(scenarios, "second_run")
    assert r["n2"] == 0
    # output not duplicated
    assert r["written"] == r["total"]


def test_resume_processes_exactly_missing(scenarios):
    r = _res(scenarios, "resume_missing")
    assert r["n3"] == r["missing"]
    # now complete
    assert r["todo"] == 0


def test_overwrite_mode(scenarios):
    r = _res(scenarios, "overwrite")
    assert r["n1"] == r["n2"] > 0


def test_manifest_and_metrics_recorded(scenarios):
    """One manifest row per committed tile, carrying its payload hash
    and the committing run."""
    r = _res(scenarios, "manifest")
    assert len(r["want"]) > 0
    assert sorted(row["tile_key"] for row in r["rows"]) == sorted(r["want"])
    for row in r["rows"]:
        assert row["payload_md5"] == r["want"][row["tile_key"]]
        assert row["run_id"] == r["run_id"]
    assert any(
        m["stage"] == "dem_z5" and m["n_rows"] > 0 for m in r["metrics"]
    )


def test_changed_since(scenarios):
    assert _res(scenarios, "changed_since")["changed"] <= 3


def test_continue_mode_skips_compute(scenarios):
    """Resume must skip the PROCESS, not just the write: a counting
    process (accumulator) must not run again for checkpointed tiles
    (ADVICE round 1: anti-join below the UDF only skipped the write)."""
    r = _res(scenarios, "continue_skips_compute")
    assert r["c1"] > 0
    assert r["v1"] >= r["c1"]
    assert r["c2"] == 0
    assert r["v2"] == r["v1"], "process ran again for checkpointed tiles"


def test_partial_resume_recomputes_only_missing_with_halo(scenarios):
    """Truncate part of the checkpoint of a pixelbuffered job: the rerun
    must process exactly the missing tiles, and those tiles must still
    see their neighbors' strips (results equal the fresh run)."""
    r = _res(scenarios, "partial_resume_halo")
    assert r["n"] == len(r["rows"]) > 0
    for row in r["rows"]:
        assert row["tile_key"] % 2 == 1  # only the missing half recomputed
        assert r["fresh"][row["tile_key"]] == row["h"]  # halo intact


def test_plan_keys_picks_the_smaller_filter():
    cand = np.arange(10, dtype=np.int64)
    assert plan_keys(cand, cand) is None
    # 2 todo < 8 done: keep the todo keys
    f = plan_keys(cand, np.arange(8, dtype=np.int64))
    assert f.keep and f.keys.tolist() == [8, 9]
    # 2 done (of those inside the candidates) < 8 todo: drop them
    f = plan_keys(cand, np.array([3, 4, 99], dtype=np.int64))
    assert not f.keep and f.keys.tolist() == [3, 4]
    # unknown candidates: drop every done key
    f = plan_keys(None, np.array([3, 99], dtype=np.int64))
    assert not f.keep and f.keys.tolist() == [3, 99]


def test_key_filter_keeps_or_drops(spark):
    df = spark.range(20).withColumnRenamed("id", "tile_key")
    # a key set far larger than the table goes through the same path
    for keys in (np.array([1, 3, 5]), np.arange(1, 400_000, 2)):
        keys = keys.astype(np.int64)
        kept = sorted(r[0] for r in KeyFilter(keys, keep=True).apply(df).collect())
        dropped = sorted(r[0] for r in KeyFilter(keys).apply(df).collect())
        assert kept == [k for k in range(20) if k in keys]
        assert dropped == [k for k in range(20) if k not in keys]


def _pyramid_cfg(out, hole=False):
    """A pixelbuffered process zoom plus one overview zoom. With the DEM
    hole, one of the six process tiles is all nodata: its process raises
    Empty and no tile is written for it."""
    from mapchete_spark.plans.config import JobConfig

    z, bounds = (6, [101.25, -2.8125, 109.6875, 2.8125]) if hole else (5, [0.0, 30.0, 22.5, 45.0])
    return JobConfig.from_dict(
        dict(
            process="hillshade",
            zoom_levels=dict(min=z - 1, max=z),
            pyramid=dict(grid="geodetic", pixelbuffer=1),
            baselevels=dict(min=z, max=z, lower="average"),
            input=dict(source="dem", hole=hole),
            output=dict(format="parquet_tiles", dtype="uint8", nodata=0, path=out),
            bounds=bounds,
        )
    )


def _strip_cfg(out, c0, c1, overviews=True):
    """Zoom-5 hillshade over tile columns c0..c1 of rows 8-9, with the
    zoom-4 overview when ``overviews``."""
    from mapchete_spark.plans.config import JobConfig

    d = 180.0 / 2**5
    conf = dict(
        process="hillshade",
        zoom_levels=[4, 5] if overviews else [5],
        pyramid=dict(grid="geodetic", pixelbuffer=1),
        input=dict(source="dem", hole=False),
        output=dict(format="parquet_tiles", dtype="uint8", nodata=0, path=out),
        bounds=[-180.0 + c0 * d, 90.0 - 10 * d, -180.0 + (c1 + 1) * d, 90.0 - 8 * d],
    )
    if overviews:
        conf["baselevels"] = dict(min=5, max=5, lower="average")
    return JobConfig.from_dict(conf)


#: name -> (first run: columns, overviews; second run: columns, mode;
#: parents the second run writes)
STRIP_RUNS = {
    # a 1-column strip: the block it adds to holds a stored tile, and
    # its parent is done already
    "one_column_strip": ((32, 36), True, (32, 37), "continue", 0),
    # an earlier, wider run without overviews stored tiles left of the
    # second run's AOI: their parents are todo, and so is the parent of
    # the block holding one stored and one new tile; one block is new
    "wider_earlier_run": ((33, 38), False, (34, 41), "continue", 5),
    "overwrite_over_wider_run": ((33, 38), False, (34, 41), "overwrite", 5),
}


@pytest.mark.parametrize("name", sorted(STRIP_RUNS))
def test_fused_parents_leave_stored_children_to_the_reduce(spark, tmp_path, name):
    """The process stage reduces a parent in its task only when none of
    its children was stored before; every other todo parent is reduced
    by the overview stage from the stored level. Every parent the second
    run writes equals ``overview_reduce_once`` over the stored process
    level by md5, and no key is stored twice."""
    from mapchete_spark.operators.overviews import overview_reduce_once
    from mapchete_spark.operators.rastertable import RASTER_SCHEMA
    from mapchete_spark.plans.job import execute

    (a0, a1), overviews, (b0, b1), mode, n_new = STRIP_RUNS[name]
    out = str(tmp_path / "o")
    execute(spark, _strip_cfg(out, a0, a1, overviews), mode="continue")
    before = {k for k, _ in _stored(out)}
    cfg = _strip_cfg(out, b0, b1)
    counts = execute(spark, cfg, mode=mode)

    stored = _stored(out)
    keys = [k for k, _ in stored]
    z4 = {k: h for k, h in stored if k >> LINEAR_ZOOM_SHIFT == 4}
    z5 = {k for k in keys if k >> LINEAR_ZOOM_SHIFT == 5}
    if mode == "continue":
        assert len(keys) == len(set(keys)), "a tile is stored twice"
    else:  # overwrite appends the process zoom again, each parent once
        assert len(z4) == sum(k >> LINEAR_ZOOM_SHIFT == 4 for k in keys)
    assert set(z4) == {linear_tile_key(4, r // 2, c // 2) for r, c in (
        split_linear_tile_key(k)[1:] for k in z5)}
    new = set(z4) - before if mode == "continue" else set(z4)
    assert counts["overview_z4"] == len(new) == n_new
    level = (
        spark.read.schema(RASTER_SCHEMA).parquet(os.path.join(out, "tiles"))
        .where(F.col("zoom") == 5)
    )
    want = {
        r[0]: r[1]
        for r in overview_reduce_once(level, cfg.pyramid, "average")
        .select("tile_key", F.md5("data")).collect()
    }
    assert {k: z4[k] for k in new} == {k: want[k] for k in new}


def _stored(out):
    """(tile_key, payload md5) of every stored row."""
    t = pads.dataset(os.path.join(out, "tiles"), format="parquet").to_table(
        columns=["tile_key", "data"]
    )
    return [
        (k, hashlib.md5(d).hexdigest())
        for k, d in zip(t.column("tile_key").to_pylist(), t.column("data").to_pylist())
    ]


def _file_digests(root):
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def _last_job_id(spark):
    """Id of a fresh one-task probe job; Spark numbers jobs in order."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-id probe")
    try:
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return max(sc.statusTracker().getJobIdsForGroup(group))


def _stages_under_aqe(spark, cfg, *stages):
    """Run ``cfg`` with AQE on (the shipped config): per stage, its
    metrics row, its Spark job ids and the physical plan descriptions of
    the queries its jobs ran."""
    from mapchete_spark.plans.job import execute

    runs = []
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        execute(
            spark, cfg, mode="continue",
            observers=[lambda run_id, **_: runs.append(run_id)],
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    metrics = JobStore(spark, os.path.join(cfg.output["path"], "_state")).metrics()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    executions = [executions.apply(i) for i in range(executions.size())]
    out = []
    for stage in stages:
        [row] = metrics.where(F.col("stage") == stage).collect()
        jobs = list(spark.sparkContext.statusTracker().getJobIdsForGroup(f"{runs[0]}:{stage}"))
        plans = [
            e.physicalPlanDescription()
            for e in executions
            if any(e.jobs().contains(j) for j in jobs)
        ]
        out.append((row, jobs, plans))
    return out


def _stage_under_aqe(spark, cfg, stage):
    """``stage``'s metrics row and query plans (``_stages_under_aqe``)."""
    [(row, _jobs, plans)] = _stages_under_aqe(spark, cfg, stage)
    return row, plans


def test_dem_process_stage_has_no_exchange(spark, tmp_path):
    """A pixelbuffered DEM process stage reads every window inside its
    process task. Under AQE (the shipped config) its jobs write no
    shuffle bytes, and its query plan holds no Exchange."""
    row, plans = _stage_under_aqe(spark, _pyramid_cfg(str(tmp_path / "o")), "process_z5")
    assert row["n_rows"] > 0 and row["shuffle_write_bytes"] == 0
    assert len(plans) == 1 and "Exchange" not in plans[0], plans


def test_dem_process_stage_writes_first_overview(spark, tmp_path):
    """The DEM process stage reduces the first overview zoom in its own
    task: under AQE it is one Spark job whose query holds one
    MapInPandas and no Exchange, and the overview stage starts no job
    while its metrics row counts the parents written."""
    (proc, proc_jobs, plans), (over, over_jobs, _) = _stages_under_aqe(
        spark, _pyramid_cfg(str(tmp_path / "o")), "process_z5", "overview_z4"
    )
    assert proc["n_rows"] > 0 and len(proc_jobs) == 1
    assert len(plans) == 1 and "Exchange" not in plans[0], plans
    tree = plans[0].split("\n\n")[0].split("== Initial Plan ==")[0]
    assert tree.count("MapInPandas (") == 1, tree
    assert over["n_rows"] > 0 and over_jobs == []
    assert over["task_run_ms"] is None


def _table_stage(spark, tmp_path, **conf):
    """Run a zoom-5 process with pixelbuffer 1 over the zoom-5 DEM tile
    table written to parquet, under AQE: the process stage's metrics
    row, job ids and query plans."""
    from mapchete_spark.plans.config import JobConfig

    table = str(tmp_path / "dem")
    _dem(spark).write.parquet(table)
    cfg = JobConfig.from_dict(dict(
        zoom_levels=[5], pyramid=dict(grid="geodetic", pixelbuffer=1), input=dict(path=table),
        **conf,
    ))
    [stage] = _stages_under_aqe(spark, cfg, "process_z5")
    return stage


def _assert_one_windowed_job(row, jobs, plans):
    """The stage is one Spark job whose query holds one MapInPandas (the
    windowed process) and no Exchange, and writes no shuffle bytes."""
    assert row["n_rows"] > 0 and row["shuffle_write_bytes"] == 0
    assert len(jobs) == 1 and len(plans) == 1, (jobs, plans)
    # the operator tree; under AQE the final plan's
    tree = plans[0].split("\n\n")[0].split("== Initial Plan ==")[0]
    assert "Exchange" not in plans[0], tree
    assert tree.count("MapInPandas (") == 1, tree
    assert "FlatMapGroupsInPandas" not in plans[0], tree


def test_table_stage_reads_windows_in_one_job(spark, tmp_path):
    """A raster process stage over a parquet tile table reads each
    task's windows from the table's row groups in the process task:
    Spark starts no schema-inference job and no strip shuffle, so under
    AQE the stage is the write's one job."""
    _assert_one_windowed_job(*_table_stage(
        spark, tmp_path, process="hillshade",
        output=dict(format="parquet_tiles", path=str(tmp_path / "o")),
    ))


def test_table_vector_stage_has_no_exchange(spark, tmp_path):
    """A vector process over a tile table with a pixelbuffer reads its
    windows in the task as a raster process does: one job, one
    MapInPandas, no Exchange, no grouped-map Python operator."""
    _assert_one_windowed_job(*_table_stage(
        spark, tmp_path, process="contours", process_parameters=dict(interval=200),
        output=dict(format="parquet_features", path=str(tmp_path / "o")),
    ))


def _file_groups_cfg(out):
    """configs/file_groups.mapchete: named and grouped DEM inputs."""
    from mapchete_spark.plans.config import JobConfig

    cfg = JobConfig.from_file(os.path.join(HERE, "configs", "file_groups.mapchete"))
    cfg.output["path"] = out
    return cfg


#: a no-op continue run's config (from its output path) and the tiles
#: of its first run whose process raised Empty, keyed by test id: the
#: pyramid without and with the DEM hole, and named DEM inputs
NOOP_CASES = {
    False: (_pyramid_cfg, 0),
    True: (lambda out: _pyramid_cfg(out, hole=True), 1),
    "file_groups": (_file_groups_cfg, 0),
}


@pytest.mark.parametrize("case", list(NOOP_CASES))
def test_noop_continue_starts_no_spark_job(spark, tmp_path, case):
    """A continue run with nothing left to do is planned on the driver:
    it starts no Spark job and leaves every tile file as it was, and its
    bookkeeping does not grow the state tables past the compaction
    bound. A tile whose process raised Empty counts as done."""
    from mapchete_spark.plans.job import execute

    config, n_empty = NOOP_CASES[case]
    out = str(tmp_path / "o")
    first = execute(spark, config(out), mode="continue")
    assert all(n > 0 for n in first.values()), first
    manifest = JobStore(spark, os.path.join(out, "_state")).checkpoint()
    assert manifest.where(F.col("payload_md5").isNull()).count() == n_empty
    before = _file_digests(os.path.join(out, "tiles"))
    for _ in range(COMPACT_PARTS + 2):
        j0 = _last_job_id(spark)
        counts = execute(spark, config(out), mode="continue")
        j1 = _last_job_id(spark)
        assert counts == {k: 0 for k in first}
        assert j1 - j0 - 1 == 0, f"no-op run started {j1 - j0 - 1} Spark jobs"
    assert _file_digests(os.path.join(out, "tiles")) == before
    for table in ("checkpoint", "metrics", "status"):
        parts = [
            f
            for f in os.listdir(os.path.join(out, "_state", table))
            if f.endswith(".parquet") and not f.startswith(".")
        ]
        assert len(parts) <= COMPACT_PARTS + 1, (table, parts)



def test_execute_tile_over_named_inputs_is_one_job(spark, tmp_path):
    """``execute_tile`` over named and grouped inputs reads each input's
    window in the one task whose block holds the tile: one Spark job,
    no join of the input tables."""
    from mapchete_spark.plans.job import execute_tile

    cfg = _file_groups_cfg(str(tmp_path / "o"))
    j0 = _last_job_id(spark)
    rows = execute_tile(spark, cfg, 3, 3, 9).select("tile_row", "tile_col").collect()
    j1 = _last_job_id(spark)
    assert [tuple(r) for r in rows] == [(3, 9)]
    assert j1 - j0 - 1 == 1, f"execute_tile started {j1 - j0 - 1} Spark jobs"

def test_crash_between_write_and_commit_is_repaired(spark, tmp_path, monkeypatch):
    """A run that dies after its tile write but before the manifest
    commit leaves uncommitted tile files; the next continue run adopts
    them: every key is stored exactly once, with a clean run's bytes."""
    from mapchete_spark.plans.job import execute

    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    real_commit = JobStore.commit_files
    calls = []

    def commit_crashing_once(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("crash between tile write and commit")
        return real_commit(self, *args, **kwargs)

    monkeypatch.setattr(JobStore, "commit_files", commit_crashing_once)
    with pytest.raises(RuntimeError):
        execute(spark, _pyramid_cfg(crashed), mode="continue")
    # the process zoom's tiles were written, none was committed
    assert tile_files(os.path.join(crashed, "tiles"))
    assert JobStore(spark, os.path.join(crashed, "_state")).done_keys().size == 0

    repaired = execute(spark, _pyramid_cfg(crashed), mode="continue")
    assert repaired["process_z5"] == 0  # adopted, not recomputed
    execute(spark, _pyramid_cfg(clean), mode="continue")
    stored, want = _stored(crashed), _stored(clean)
    keys = [k for k, _ in stored]
    assert len(keys) == len(set(keys)), "a tile is stored twice"
    assert dict(stored) == dict(want)
    assert len(want) == len(stored)


def test_compacted_tile_table_adds_no_manifest_rows(spark, tmp_path):
    """Compacting the tile table renames every tile file, so no manifest
    row names them; the next continue run reads their keys, finds them
    done and commits nothing: no tile is hashed again, none counts as
    changed since the first run."""
    from mapchete_spark.plans.job import execute
    from mapchete_spark.sources.compact import compact_tile_table

    out = str(tmp_path / "o")
    execute(spark, _pyramid_cfg(out), mode="continue")
    store = JobStore(spark, os.path.join(out, "_state"))
    rows = store.checkpoint().count()
    (first_run,) = [r[0] for r in store.checkpoint().select("run_id").distinct().collect()]
    tiles = os.path.join(out, "tiles")
    files = tile_files(tiles)
    compact_tile_table(spark, tiles)
    assert not files & tile_files(tiles)

    counts = execute(spark, _pyramid_cfg(out), mode="continue")
    assert counts == {"process_z5": 0, "overview_z4": 0}
    assert store.checkpoint().count() == rows
    assert store.changed_since(first_run).count() == 0

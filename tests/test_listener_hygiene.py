"""Listener hygiene: execute() reads its stage profiles from Spark's
status store (operators/profilers.py) and puts nothing on the listener
bus. A py4j-proxy listener there would start the callback server and
send every task/stage/job event through the py4j socket for the rest of
the session. These tests pin that no execute path adds a listener or
leaves its job group on the caller's thread, and that the pulled
profile counts a stage shared by two jobs of its group once."""

import os
import threading
import time

import pyarrow.parquet as pq
import pytest

from mapchete_spark.operators.profilers import StageMetricsProfiler
from mapchete_spark.plans.config import JobConfig
from mapchete_spark.plans.job import _JOB_GROUP_PROPS, execute, register_process


def _listeners(spark):
    bus = spark.sparkContext._jsc.sc().listenerBus().listeners()
    return [bus.get(i).getClass().getName() for i in range(bus.size())]


def _tiny_cfg(tmp_path, process="convert", **extra):
    return JobConfig.from_dict(
        dict(
            process=process,
            zoom_levels=[2],
            pyramid={"grid": "geodetic"},
            input={"source": "dem", "hole": False},
            bounds=[0.0, 20.0, 45.0, 50.0],
            process_parameters=extra.pop(
                "process_parameters", {"scale_ratio": 1.0}
            ),
            output={"path": str(tmp_path / "o"), "format": "parquet_tiles"},
            **extra,
        )
    )


def _boom(ctx):
    raise RuntimeError("kaputt")


register_process("boom_hygiene", "raster", _boom, 0)


@pytest.mark.parametrize(
    "process, fails",
    [("convert", False), ("boom_hygiene", True), ("no_such_process", True)],
    ids=["success", "stage_failure", "parse_failure"],
)
def test_execute_adds_no_listener_and_keeps_caller_group(
    spark, tmp_path, process, fails
):
    """On success, on a failing stage and on a config that does not
    parse: no py4j proxy on the bus, no bus growth, and the caller's job
    group is what it was before execute."""
    sc = spark.sparkContext
    execute(spark, _tiny_cfg(tmp_path / "warm"), mode="overwrite")
    before = _listeners(spark)
    sc.setJobGroup("caller", "caller's own jobs", interruptOnCancel=True)
    try:
        cfg = _tiny_cfg(
            tmp_path, process=process,
            process_parameters={} if fails else {"scale_ratio": 1.0},
        )
        if fails:
            with pytest.raises(Exception):
                execute(spark, cfg, mode="overwrite")
        else:
            execute(spark, cfg, mode="overwrite")
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        assert sc.getLocalProperty("spark.job.description") == "caller's own jobs"
        assert sc.getLocalProperty("spark.job.interruptOnCancel") == "true"
    finally:
        for k in _JOB_GROUP_PROPS:
            sc.setLocalProperty(k, None)
    after = _listeners(spark)
    assert not [c for c in after if "$Proxy" in c], after
    # no growth; the bus may shrink when Spark SQL drops the listener of
    # a garbage-collected session
    assert len(after) <= len(before)


def test_concurrent_executes_share_the_bus(spark, tmp_path):
    """8 threads running execute() loops on one session (the parity
    pool's shape): every run succeeds, each records a profile under its
    own job groups, and the bus does not grow."""
    execute(spark, _tiny_cfg(tmp_path / "warm"), mode="overwrite")
    before = _listeners(spark)
    errors = []

    def runner(i):
        try:
            for j in range(2):
                execute(
                    spark,
                    _tiny_cfg(tmp_path / f"t{i}_{j}"),
                    mode="overwrite",
                )
        except Exception as exc:
            errors.append(exc)

    threads = [threading.Thread(target=runner, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads), "execute threads hung"
    assert not errors, f"concurrent execute failed: {errors[0]!r}"
    assert len(_listeners(spark)) <= len(before)
    for i in range(8):
        for j in range(2):
            metrics = pq.read_table(
                os.path.join(tmp_path / f"t{i}_{j}", "o", "_state", "metrics")
            )
            assert min(metrics.column("task_run_ms").to_pylist()) > 0


def test_profile_counts_a_shared_stage_once(spark):
    """Two actions on one reduceByKey RDD under one job group, the second
    submitted while the first's shuffle-map stage runs: both jobs list
    that stage, and its shuffle write is counted once. (A second action
    started after the first finished gets a new, skipped stage id with
    no metrics, so only overlapping jobs share one.)"""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def summed():
        def slow(it):
            time.sleep(1.5)
            return ((x % 50, x) for x in it)

        return sc.parallelize(range(2000), 4).mapPartitions(slow).reduceByKey(
            lambda a, b: a + b
        )

    def in_group(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            for k in _JOB_GROUP_PROPS:
                sc.setLocalProperty(k, None)

    in_group("profile-once-a", lambda: summed().count())
    rdd = summed()
    first = threading.Thread(target=in_group, args=("profile-once-b", rdd.count))
    first.start()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup("profile-once-b") and time.monotonic() < deadline:
        time.sleep(0.02)
    in_group("profile-once-b", rdd.collect)
    first.join(timeout=60)
    assert not first.is_alive()

    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup("profile-once-b")]
    assert len(jobs) == 2 and set(jobs[0].stageIds) & set(jobs[1].stageIds)
    prof = StageMetricsProfiler.attach(spark)
    one, two = prof.profile_for("profile-once-a"), prof.profile_for("profile-once-b")
    assert one["shuffle_write_bytes"] > 0
    assert two["shuffle_write_bytes"] == one["shuffle_write_bytes"]
    assert two["task_run_ms"] > 0 and two["shuffle_read_bytes"] > 0

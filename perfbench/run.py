#!/usr/bin/env python3
"""The repository benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload narrow_strip --seed 1 --seconds 3 --trace 0

Runs from the root of a checkout. Each run starts one Spark session on
``local[nproc]``, warms the plan shapes it will time, then measures
(see README.md):

    raster_pyramid        fresh hillshade execute
    resume_read           continue run, no-op continue run (repeated
                          for --seconds)

Traced runs (``--trace 1``) add the closed tile-read loop, the geo index,
the text pipeline and per-layer probes, and write their spans to
``.perfbench_work/traces/``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics untraced,
per-layer metrics traced). The line before it records the session
config and the host noise (CPU busy and steal shares, JVM GC time) of
every phase.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import contextmanager
from typing import Dict, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: phases with engine-wide and host metrics in traced runs
PHASES = ("raster_pyramid", "resume_read", "corpus_geo_index", "corpus_text_pipeline")
#: docs per geo-index and text-pipeline run (traced runs only), sized so
#: a traced run ends well within the time one run may take
GEO_DOCS = 1_000_000
TEXT_DOCS = 20_000


class Group:
    """Wall time and Spark task metrics of one traced layer call."""

    def __init__(self):
        self.wall = 0.0
        self.profile = {"task_run_ms": 0, "shuffle_write_bytes": 0, "spilled_bytes": 0}


class Run:
    """State of one benchmark run, passed to every phase."""

    def __init__(self, spark, tracer, strip_cols: int, seed: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.strip_cols = strip_cols
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        #: per-layer metrics: name -> (value, unit); traced runs only
        self.layer: Dict[str, tuple] = {}
        #: engine-wide Spark task metrics per phase; traced runs only
        self.engine: Dict[str, Dict[str, float]] = {}
        self.phase: Optional[str] = None
        self._profiler = None
        if tracer.enabled:
            from mapchete_spark.operators.profilers import StageMetricsProfiler

            self._profiler = StageMetricsProfiler.attach(spark)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def op(self, ok: bool, what: str) -> None:
        """Count one operation; a wrong output counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.note(f"wrong output: {what}")

    @staticmethod
    def note(msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    @contextmanager
    def group(self, name: str):
        """Span plus (traced runs) a Spark job group of our own whose
        task metrics StageMetricsProfiler aggregates."""
        g = Group()
        group_id = f"perfbench:{name}"
        if self.traced:
            self.spark.sparkContext.setJobGroup(group_id, name)
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield g
        g.wall = time.perf_counter() - t0
        if self._profiler is not None:
            with self.tracer.probe():
                g.profile = self._profiler.profile_for(group_id)
            self._add_engine(
                g.profile["task_run_ms"],
                g.profile["shuffle_write_bytes"],
                g.profile["spilled_bytes"],
            )

    def _add_engine(self, task_ms, shuffle_bytes, spill_bytes) -> None:
        acc = self.engine.setdefault(
            self.phase, {"task_run_ms": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0}
        )
        acc["task_run_ms"] += task_ms or 0
        acc["shuffle_write_bytes"] += shuffle_bytes or 0
        acc["spill_bytes"] += spill_bytes or 0

    def layer_time(self, name: str, value: float, unit: str = "s") -> None:
        if self.traced:
            self.layer[name] = (float(value), unit)

    def layer_count(self, name: str, value, unit: str = "count") -> None:
        if self.traced:
            self.layer[name] = (value, unit)

    def plans_profile(
        self, label: str, out_path: str, started: float, wall: float, group: str = None
    ) -> None:
        """Traced runs: stage bookkeeping of the execute that started at
        epoch ``started`` under job group ``group`` (default ``label``),
        read back from its JobStore and the Spark status tracker."""
        if not self.traced:
            return
        from pyspark.sql import functions as F

        from mapchete_spark.operators.checkpoint import JobStore

        with self.tracer.probe():
            rows = (
                JobStore(self.spark, os.path.join(out_path, "_state"))
                .metrics()
                .where(F.col("at") >= F.lit(started))
                .collect()
            )
            tracker = self.spark.sparkContext.statusTracker()
            groups = [f"perfbench:plans.execute.{group or label}"] + [
                f"{r['run_id']}:{r['stage']}" for r in rows
            ]
            jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
            stages = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    stages += bool(st and st.numCompletedTasks > 0)
        stage_s = sum(r["wall_ms"] or 0.0 for r in rows) / 1000.0
        self.layer_time(f"plans.stage_overhead_s.{label}", wall - stage_s)
        self.layer_count(f"plans.spark_jobs.{label}", len(jobs))
        self.layer_count(f"plans.stages_run.{label}", stages)
        self._add_engine(
            sum(r["task_run_ms"] or 0 for r in rows),
            sum(r["shuffle_write_bytes"] or 0 for r in rows),
            sum(r["spilled_bytes"] or 0 for r in rows),
        )


def pin_environment(work: str) -> dict:
    """Session config sized from the CPUs this process may use. Every
    file Spark, the JVM and the Python workers write lands in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    conf = {
        # the launcher JVM of spark-submit: no /tmp/hsperfdata, temp files here
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_DRIVER_MEM": f"{min(8, max(2, cpus))}g",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(conf)
    return {
        **conf,
        "master": f"local[{cpus}]",
        "shuffle_partitions": 2 * cpus,
        "java_tmpdir": tmp,
    }


def start_session(env: dict):
    from mapchete_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=env["master"],
        shuffle_partitions=env["shuffle_partitions"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(env["java_tmpdir"], "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-XX:+ExplicitGCInvokesConcurrent -XX:-UsePerfData "
                f"-Djava.io.tmpdir={env['java_tmpdir']}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin and wait until it exits."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mapchete_spark")):
        print(f"perfbench: no mapchete_spark package under {ROOT}", file=sys.stderr)
        return 2
    # BENCHMARK.json decides which metrics a run reports
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    sys.path.insert(0, ROOT)
    from corpus import CorpusPhases
    from inputs import STRIPS
    from raster import RasterPhases
    from tracing import HostWindow, Tracer, peak_rss_mb

    if args.workload not in STRIPS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(STRIPS)}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    tracer = Tracer(bool(args.trace), f"{args.workload}:{args.seed}")
    env = pin_environment(work)
    spark = None
    try:
        t_setup = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_session(env)
        start_s = time.perf_counter() - t_setup
        run = Run(spark, tracer, STRIPS[args.workload], args.seed, work)
        raster = RasterPhases(run)
        t_warm = time.perf_counter()
        with tracer.span("session.warmup"):
            raster.setup()
        warm_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup
        run.layer_time("session.start_s", start_s)
        run.layer_time("session.warmup_s", warm_s)

        e2e: Dict[str, tuple] = {"setup_s": (setup_s, "s")}
        host: Dict[str, dict] = {}
        phase_s: Dict[str, float] = {}

        @contextmanager
        def phase(name: str):
            run.phase = name
            window = HostWindow(spark)
            t0 = time.perf_counter()
            with tracer.span(f"bench.{name}"):
                yield
            phase_s[name] = time.perf_counter() - t0
            host[name] = window.close()

        with phase("raster_pyramid"):
            e2e["pyramid_tiles_per_s"] = (raster.pyramid(), "tiles/s")
        with phase("resume_read"):
            e2e["resume_s"] = (raster.resume(), "s")
            e2e["resume_noop_s"] = (raster.noop(args.seconds), "s")
            if run.traced:
                p50, p95, _ = raster.reads(args.seconds)
                e2e["tile_read_p50_ms"] = (p50, "ms")
                e2e["tile_read_p95_ms"] = (p95, "ms")
        e2e["peak_rss_mb"] = (peak_rss_mb(spark), "MB")
        if run.traced:
            # too slow to fit every untraced run (see README.md): the
            # read loop and both corpus pipelines run in traced runs
            # only, each warmed on fewer docs inside its own phase
            corpus = CorpusPhases(run, GEO_DOCS, TEXT_DOCS)
            with phase("corpus_geo_index"):
                corpus.warm_geo()
                e2e["geo_index_docs_per_s"] = (corpus.geo_index(args.seconds), "docs/s")
                corpus.geo_layers()
            with phase("corpus_text_pipeline"):
                corpus.warm_text()
                run.layer_count("corpus_docs_per_s", corpus.text_pipeline(), "docs/s")
                corpus.text_layers()
            with phase("raster_layers"):
                raster.layer_probes()
    except Exception:
        import traceback

        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if run.traced:
        for name, acc in run.engine.items():
            if name not in PHASES:
                continue
            run.layer_count(f"spark.task_run_ms.{name}", acc["task_run_ms"], "ms")
            run.layer_count(f"spark.shuffle_write_bytes.{name}", acc["shuffle_write_bytes"], "bytes")
            run.layer_count(f"spark.spill_bytes.{name}", acc["spill_bytes"], "bytes")
        for name, h in host.items():
            if name not in PHASES:
                continue
            run.layer_count(f"jvm.gc_ms.{name}", h["gc_ms"], "ms")
            run.layer_count(f"host.steal_pct.{name}", h["steal_pct"], "%")
            run.layer_count(f"host.busy_pct.{name}", h["busy_pct"], "%")
        for layer, s in sorted(tracer.self_times().items()):
            run.layer_time(f"self_s.{layer}", s)
        # the end-to-end metrics as the traced run saw them: minus the
        # untraced run of the same seed, they give the tracing overhead
        for name, (v, u) in e2e.items():
            run.layer_count(f"traced.{name}", v, u)
        run.layer_time("trace.overhead_s", tracer.overhead_s)
        run.layer_count("trace.spans", len(tracer.spans))
        run.layer_count("ops_failed_ratio", run.failed / max(1, run.attempted), "ratio")
        tracer.dump(os.path.join(work_root, "traces", f"{args.workload}-seed{args.seed}.json"))
        metrics = run.layer
    else:
        metrics = e2e
    missing = [m for m in wanted if m not in metrics]
    if missing:
        print(f"perfbench: run measured no {missing}", file=sys.stderr)
        return 1

    print(
        json.dumps(
            {
                "session": {k: v for k, v in env.items() if k != "PYSPARK_DRIVER_PYTHON"},
                "phase_s": phase_s,
                "execute_steal": raster.steal,
                "host": host,
                "end_to_end": {k: v for k, (v, _) in e2e.items()},
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in wanted
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

import os
import sys

import pytest

# repo root on path so __spark_entry__ and mapchete_spark import
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from mapchete_spark.session import get_spark

    # local[16]: the job tests push 262KB tile rows through several
    # shuffle stages each — measured on this 32-core box (steal <1%):
    # test_config_job 89s (local[8]) -> 70s, test_checkpoint 72s -> 42s.
    # The oracle-parity replay also fans 12 concurrent query threads
    # into the session, which local[16] absorbs. Override with
    # SPARK_GRAFT_TEST_MASTER when sharing the machine.
    # Threads and heap are capped by the host: on a 4-vCPU / 16 GB host
    # local[16] with a 16g heap used 16.06 of 16.09 GB during the parity
    # pool (~8 GB JVM plus ~80 Python workers at ~8 GB PSS), one large
    # allocation short of the kernel killing the JVM mid-suite.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    extra = {}
    if not os.environ.get("SPARK_GRAFT_TEST_CODEGEN"):
        # Janino whole-stage compilation costs 100-300ms per UNIQUE
        # plan; this suite runs thousands of unique tiny plans, so
        # compile time dominates execution (measured: test_config_job
        # 108s -> 71s with codegen off). Interpreted mode evaluates the
        # SAME Catalyst expressions — values, exchanges and broadcasts
        # (what the plan tests assert) are unchanged. The driver's
        # correctness gate and bench.py keep codegen ON.
        extra["spark.sql.codegen.wholeStage"] = "false"
        # AQE re-plans every exchange from runtime stats — pure
        # overhead for this suite's thousands of KB-sized queries
        # (the driver's gate and bench.py keep AQE on, where it
        # earns its keep)
        extra["spark.sql.adaptive.enabled"] = "false"
    if not os.environ.get("SPARK_DRIVER_MEM"):
        # the local[16] test session defaults to an 8g heap
        # (session.py scales heap to THREADS, not to this suite's
        # concurrency): the 20-thread parity pool plus the raster jobs
        # thrash G1 at 8g — measured: the config-baselevels cubic job
        # 41s -> 6.6s and the parity fixture 170s -> 135s at 16g;
        # at most 2/5 of the host's memory (6g on 16 GB, where local[4]
        # with a 6g heap runs the suite in ~10 min)
        extra["spark.driver.memory"] = f"{max(4, min(16, host_gb * 2 // 5))}g"
    master = os.environ.get(
        "SPARK_GRAFT_TEST_MASTER", f"local[{max(1, min(16, cpus))}]"
    )
    s = get_spark(
        "mapchete_spark_tests", master=master, shuffle_partitions=8,
        extra_conf=extra,
    )
    yield s
    s.stop()


SF_TEST = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_TEST


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        path = os.path.join(SF_TEST, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def run_cli_inproc(script: str, argv):
    """Run a jobs/<script>.py main() IN-PROCESS against the shared test
    session (MAPCHETE_SPARK_KEEP_SESSION short-circuits the CLI's
    spark.stop). Subprocess JVM boots cost ~13s each; one canonical
    subprocess test keeps the true spark-submit path covered while the
    breadth tests use this. Returns (rc, stdout_text)."""
    import contextlib
    import importlib.util
    import io
    import sys as _sys

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, "jobs", f"{script}.py")
    spec = importlib.util.spec_from_file_location(f"_jobs_{script}_inproc", path)
    mod = importlib.util.module_from_spec(spec)
    old_argv = _sys.argv
    old_keep = os.environ.get("MAPCHETE_SPARK_KEEP_SESSION")
    _sys.argv = [path] + [str(a) for a in argv]
    os.environ["MAPCHETE_SPARK_KEEP_SESSION"] = "1"
    buf = io.StringIO()
    try:
        spec.loader.exec_module(mod)
        with contextlib.redirect_stdout(buf):
            rc = mod.main()
    finally:
        _sys.argv = old_argv
        if old_keep is None:
            os.environ.pop("MAPCHETE_SPARK_KEEP_SESSION", None)
        else:
            os.environ["MAPCHETE_SPARK_KEEP_SESSION"] = old_keep
    return rc or 0, buf.getvalue()


def run_concurrently(thunks: dict, max_workers: int = 6) -> dict:
    """Run independent test-scenario thunks CONCURRENTLY on the shared
    Spark session (the oracle-parity pool pattern — Spark schedules
    jobs from many threads). Returns {key: ("ok", value) | ("err",
    traceback_text)}; pair with assert_ok so failures stay per-test."""
    import traceback
    from concurrent.futures import ThreadPoolExecutor

    def run(item):
        key, fn = item
        try:
            return key, ("ok", fn())
        except Exception:
            return key, ("err", traceback.format_exc())

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        return dict(pool.map(run, thunks.items()))


def assert_ok(results: dict, key: str):
    status, payload = results[key]
    assert status == "ok", f"{key} scenario raised:\n{payload}"
    return payload

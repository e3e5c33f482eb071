"""SparkSession factory with scale-oriented defaults.

Tuned for the engine's workload shape: wide shuffles keyed by tile id,
Arrow-batched pandas UDFs for raster/vector kernels, AQE for skew
(hot low-zoom tiles; SURVEY.md §4 'Skew / shuffle control').
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_local_dir() -> str | None:
    """Shuffle/spill directory (spark.local.dir). Spark's guidance is
    fast local disks; on a host whose default tmp is a slow virtio root
    disk, the dirty-page WRITEBACK of earlier queries' shuffle files
    bleeds into later queries in a long session — measured as the
    round-6 'full-mode session-state overhead': the bench's trailing
    quality_pack workload read 7.7s with /tmp shuffle dirs vs 4.8-5.5s
    with a tmpfs dir, suite 22.3s -> 18.6-20.0s (<0.1% steal, same
    code, 128 GiB host with ~2 GB of shuffle per run). tmpfs stands in
    for the NVMe scratch disks a production cluster would mount here.
    Falls back to Spark's default when /dev/shm is missing or has less
    than 16 GB free.

    Failure mode: the free-space check runs once, at session start.
    A later shuffle or spill larger than what /dev/shm has left fails
    mid-job with "No space left on device" where a disk would have held
    it, and its pages count against the host's RAM while they live. A
    JVM that crashes leaves its shuffle files in /dev/shm until they
    are deleted or the host reboots. Set SPARK_GRAFT_LOCAL_DIR to a
    directory to choose one, or to "" to keep Spark's default."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override is not None:
        return override or None
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize >= 16 * 1024**3 and os.access(shm, os.W_OK):
            d = os.path.join(shm, "mapchete_spark_local")
            os.makedirs(d, exist_ok=True)
            return d
    except OSError:
        pass
    return None


def get_spark(
    app_name: str = "mapchete_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """A session with the engine's defaults. Shuffle and spill go to
    tmpfs when /dev/shm has room at start; see ``_default_local_dir`` for
    how a later, larger shuffle then fails and how to turn it off."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-plan, skew-join splitting, partition coalescing
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDFs / toPandas. Batch sizing must serve two
        # extremes at once: raster rows carry ~260KB binary tiles
        # (4096-row batches = 1GB allocations -> JVM GCLocker thrash,
        # measured 13->7s on a 2795-tile hillshade going 4096->64
        # rows), while text rows are ~100B (64-row batches = 6KB IPC
        # messages; a 1M-doc text op paid 15k round trips per stage,
        # measured 5x+ slowdown). The BYTES cap bounds the raster side
        # (16MB ~ 60 raster rows) and the raised record cap lets text
        # ops batch properly.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(16 * 1024 * 1024))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Arrow for DRIVER transfers too (toPandas / createDataFrame
        # from pandas) — off by default in Spark 3.x/4.x; the row path
        # moves binary tile payloads through py4j (guide §6)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet scans: pushdown + pruning stay on
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Heap sized to the thread count: raster rows carry ~260KB
        # payloads, so a local[32] run shuffles ~0.7GB per raster stage
        # through the single JVM. An 8g heap thrashes G1 once a few
        # stages' garbage accumulates (measured: the same 2795-tile
        # hillshade degrades 6x late in a long session at 8g; stable at
        # 16g). local mode = driver IS the executor, hence driver.memory.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", f"{max(8, cpus // 2)}g"),
        )
        # Long-session hygiene: ContextCleaner only releases shuffle
        # files/broadcasts when the DRIVER GCs, and a big mostly-idle
        # driver heap may not GC for hours — periodic GC (default 30min
        # upstream) at 60s bounds the accumulation; with
        # ExplicitGCInvokesConcurrent those are concurrent cycles, not
        # stop-the-world full GCs.
        .config("spark.cleaner.periodicGC.interval", "60s")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+ExplicitGCInvokesConcurrent",
        )
        .config("spark.ui.enabled", "false")
    )
    local_dir = _default_local_dir()
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make mapchete_spark importable on executors: zip the package and
    addPyFile it (the programmatic twin of `spark-submit --py-files`).
    Cached per session; cheap (pure-python package, ~100 KB)."""
    sc = spark.sparkContext
    if getattr(sc, "_mapchete_spark_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"mapchete_spark_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "mapchete_spark", os.path.relpath(full, pkg_dir)
                    )
                    z.write(full, rel)
    sc.addPyFile(zpath)
    sc._mapchete_spark_shipped = True


def stop_unless_kept(spark: SparkSession) -> None:
    """CLI entry points call this instead of spark.stop() so the jobs
    can also run embedded in a larger application's session: with
    MAPCHETE_SPARK_KEEP_SESSION set, the (shared, getOrCreate'd)
    session survives the CLI main()."""
    if not os.environ.get("MAPCHETE_SPARK_KEEP_SESSION"):
        spark.stop()

"""The per-zoom job runner — ``mapchete execute`` re-expressed as a
sequence of Spark stages.

Lifecycle mapping (SURVEY.md §3.1): parse YAML -> per-zoom plan on the
driver; then per process zoom (descending):
    tile ids -> buffered window read in the task -> process UDF -> write
    (output parquet) -> driver-side commit (done-manifest + metrics)
for DEM inputs (operators/halo.py run_windowed_process: one Python
stage over 2x2 blocks, no shuffle), and for tile-table inputs
    input tiles -> halo exchange (pixelbuffer) -> process UDF -> write
(run_buffered_process: one strip shuffle, one Python stage after it;
the input tiles are those of the job's bounds, as for a DEM input).
Raster and vector processes take the same path, with one per-tile body
(operators/process.py canvas_rows); only an output split is
raster-only. A raster DEM process zoom right above a lower overview
zoom also reduces each block into its parent in the same task, and
both zooms go out in the stage's one write (the reference starts an
overview tile once its four children are done, processing/tasks.py:
570-617). Per overview zoom, for the rest: groupBy(parent) reduce of the
stored level above (lower path) or parent->children upsample (higher
path) — Z1 semantics (mapchete/processing/tasks.py:378-450); a zoom
whose parents were all reduced in the process task starts no job.

Continue mode is planned on the driver (reference S11/J1/J2: an
existence check on tiles whose ids are computed, not stored): each
stage's todo set is its tile-grid keys (operators/rastertable.py
aoi_tile_keys, the same ranges and area test the DEM input set uses)
minus the manifest's done keys. An empty todo set starts no Spark job;
otherwise the smaller of todo and done rides into the stage as a
KeyFilter (operators/checkpoint.py). Tiles whose process raised Empty
are recorded as done, unlike the reference, which re-runs them on every
continue run because no tile file exists for them.

Output layout: parquet partitioned by zoom under <output.path>/tiles —
at 100 TB a single partitioned table (not per-tile files) is the only
sane sink; the tile-directory view (z/r/c file tree, S5 analog) is an
optional export for small outputs.
"""

from __future__ import annotations

import functools
import json
import os
import time
from typing import Callable, Dict, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapchete_spark.functions.geo import zorder_key_col
from mapchete_spark.operators.checkpoint import (
    NO_KEYS,
    PASS_ALL,
    JobStore,
    KeyFilter,
    plan_keys,
    write_tiles,
)
from mapchete_spark.operators.halo import run_buffered_process, run_windowed_process
from mapchete_spark.operators.overviews import overview_reduce_once, overview_upsample
from mapchete_spark.operators.process import (
    process_clip,
    process_contours,
    process_convert,
    process_hillshade,
    run_multi_raster_process,
)
from mapchete_spark.operators.rastertable import (
    RASTER_SCHEMA,
    aoi_tile_keys,
    aoi_tile_ranges,
    filter_tiles_to_area,
    materialize_dem,
)
from mapchete_spark.plans.config import JobConfig
from mapchete_spark.raster.dem import DEM_NODATA, dem_tile
from mapchete_spark.tilegrid.keys import (
    LINEAR_ZOOM_SHIFT,
    linear_tile_key,
    split_linear_tile_key,
)

# built-in process registry: name -> (kind, fn, min pixelbuffer)
PROCESS_REGISTRY: Dict[str, tuple] = {
    "convert": ("raster", process_convert, 0),
    "hillshade": ("raster", process_hillshade, 1),
    "contours": ("vector", process_contours, 0),
    "clip": ("raster", process_clip, 0),
    # round 6: the classic mapchete VECTOR workflow — vector input,
    # per-tile clipped features out (kind "features": input is a
    # feature table / vector file, not raster tiles)
    "feature_clip": ("features", None, 0),
}


def register_process(name: str, kind: str, fn: Callable, min_pixelbuffer: int = 0):
    PROCESS_REGISTRY[name] = (kind, fn, min_pixelbuffer)


# the thread-local properties SparkContext.setJobGroup sets
_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)

# output formats producing feature rows instead of raster payloads
_VECTOR_FORMATS = {"geojson", "flatgeobuf", "vector", "parquet_features"}


def resolve_process(cfg: JobConfig):
    """(kind, fn, min_pixelbuffer) for a config's ``process:`` entry:
    a registry name, a path to a Python file, or a dotted module path
    (reference: mapchete/config/process_func.py:24-60). File/module
    processes are signature-validated against the per-zoom parameters
    at resolve time (analyze_parameters), like the reference does at
    config parse."""
    if cfg.process in PROCESS_REGISTRY:
        return PROCESS_REGISTRY[cfg.process]
    from mapchete_spark.plans.process_func import ProcessFunc

    pf = ProcessFunc(cfg.process, config_dir=getattr(cfg, "config_dir", None))

    def with_input_names(zoom):
        # named multi-inputs bind to same-named process parameters
        # (reference file_groups: execute(group1, group2)), so they
        # count as provided during signature validation
        params = dict(cfg.params_at_zoom(zoom) or {})
        inp = cfg.input_at_zoom(zoom)
        if _is_multi_input(inp):
            for name in inp:
                params.setdefault(name, True)
        return params

    pf.analyze_parameters({z: with_input_names(z) for z in cfg.process_zooms()})
    kind = (
        "vector"
        if str(cfg.output.get("format", "")).lower() in _VECTOR_FORMATS
        else "raster"
    )
    return kind, pf, 0


#: keys marking a dict as a SINGLE input spec, not a named-input map
_INPUT_RESERVED = {"source", "path", "hole"}


def _is_leaf_spec(v) -> bool:
    return isinstance(v, str) or (
        isinstance(v, dict) and bool(_INPUT_RESERVED & set(v))
    )


def _is_multi_input(inp) -> bool:
    """True for the reference's named/grouped input maps
    (examples/file_groups: ``input: {group1: {file1: .., file2: ..}}``)
    as opposed to a single source spec."""
    return (
        isinstance(inp, dict)
        and bool(inp)
        and not (_INPUT_RESERVED & set(inp))
        and all(isinstance(v, (str, dict)) for v in inp.values())
    )


def _input_tiles_multi(spark, cfg: JobConfig, zoom: int, cut=None):
    """(flat name -> tile table, group map) for a named-input config.
    One level of nesting = a group: its members flatten to
    ``group.member`` and the group name later injects as a list of
    (member, array) tuples (the RasterInputGroup analog)."""
    inp = cfg.input_at_zoom(zoom)
    flat, groups = {}, {}
    for name, spec in inp.items():
        if _is_leaf_spec(spec):
            flat[name] = spec
        else:
            groups[name] = []
            for short, sub in spec.items():
                fname = f"{name}.{short}"
                flat[fname] = sub
                groups[name].append((short, fname))
    tables = {
        n: _materialize_input(spark, cfg, zoom, spec, cut) for n, spec in flat.items()
    }
    return tables, groups


def _is_dem(inp) -> bool:
    return inp in (None, "dem") or (isinstance(inp, dict) and inp.get("source") == "dem")


def _dem_hole(inp) -> bool:
    return bool(inp.get("hole", True)) if isinstance(inp, dict) else True


def _zoom_rows(
    spark, cfg: JobConfig, zoom: int, kind: str, fn, pb: int, params,
    todo: KeyFilter, parents: Optional[KeyFilter] = None, cut=None,
) -> DataFrame:
    """The rows of the process at ``zoom`` whose keys pass ``todo``,
    before any output split: raster rows, or feature rows for a vector
    or features ``kind``. Over a DEM input, every tile of the AOI with
    its buffered window read inside the process task (no tile table, no
    shuffle), plus the ``parents`` at ``zoom - 1`` that pass that filter
    reduced from their children in the same task; over a tile table, the
    halo exchange when ``pb`` asks for a buffer; over named inputs, their
    tables joined on the tile id. ``cut`` (a row/col predicate) narrows
    the tile tables read."""
    if kind == "features":
        from mapchete_spark.operators.process import run_feature_process
        from mapchete_spark.operators.vector import (
            clip_features_to_tiles,
            explode_features_to_tiles,
        )

        feats = _input_features(spark, cfg, zoom)
        clipped = clip_features_to_tiles(
            explode_features_to_tiles(feats, zoom, pyramid=cfg.pyramid), cfg.pyramid
        )
        return run_feature_process(todo.apply(clipped), cfg.pyramid, fn, params=params)
    common = dict(
        params=params,
        out_dtype=cfg.output.get("dtype"),
        out_nodata=cfg.output.get("nodata"),
    )
    inp = cfg.input_at_zoom(zoom)
    if _is_multi_input(inp):
        if kind != "raster":
            raise ValueError(
                "named multi-inputs are implemented for raster processes only"
            )
        if pb > 0:
            raise ValueError("named multi-inputs do not support a pixelbuffer")
        tables, groups = _input_tiles_multi(spark, cfg, zoom, cut)
        return run_multi_raster_process(
            {n: todo.apply(t) for n, t in tables.items()}, cfg.pyramid, fn,
            groups=groups, **common,
        )
    common.update(target_filter=todo, vector=kind != "raster")
    if _is_dem(inp):
        return run_windowed_process(
            spark, cfg.pyramid, zoom, functools.partial(dem_tile, hole=_dem_hole(inp)),
            DEM_NODATA, pb, fn, bounds=cfg.bounds, area=cfg.area, parents=parents,
            resampling=cfg.baselevels.lower if parents is not None else "nearest",
            **common,
        )
    return run_buffered_process(
        _materialize_input(spark, cfg, zoom, inp, cut), cfg.pyramid, pb, fn, **common
    )


def _by_zoom(keys: np.ndarray) -> Dict[int, np.ndarray]:
    """Tile ``keys`` split by zoom."""
    zooms = keys >> LINEAR_ZOOM_SHIFT
    return {int(z): keys[zooms == z] for z in np.unique(zooms)}


def _parent_keys(keys: np.ndarray) -> np.ndarray:
    z, r, c = split_linear_tile_key(keys)
    return np.unique(linear_tile_key(z - 1, r // 2, c // 2))


def _child_keys(keys: np.ndarray, pyramid) -> np.ndarray:
    """Keys of the children of same-zoom ``keys`` (Tile.get_children:
    clipped to the child zoom's matrix)."""
    if not keys.size:
        return NO_KEYS
    z, r, c = split_linear_tile_key(keys)
    zc = int(z[0]) + 1
    rows = (2 * r[:, None] + np.array([0, 0, 1, 1])).ravel()
    cols = (2 * c[:, None] + np.array([0, 1, 0, 1])).ravel()
    ok = (rows < pyramid.matrix_height(zc)) & (cols < pyramid.matrix_width(zc))
    return np.unique(linear_tile_key(zc, rows[ok], cols[ok]))


def _in_ranges(ranges):
    """Predicate of the tiles in (r0, r1, c0, c1) ranges, on the row and
    column columns, so a parquet scan can push it down."""
    return functools.reduce(
        lambda a, b: a | b,
        (
            F.col("tile_row").between(r0, r1) & F.col("tile_col").between(c0, c1)
            for r0, r1, c0, c1 in ranges
        ),
        F.lit(False),
    )


def _materialize_input(spark, cfg: JobConfig, zoom: int, inp, cut=None) -> DataFrame:
    """The input tile table of ``inp`` at ``zoom``: a parquet path reads
    an existing tile table (S3/S4 analog: another job's output), cut to
    the tiles of the AOI, the same input set for every input kind.
    ``cut`` (a row/col predicate) narrows a table read further. The
    process stages read a DEM input's windows in the task instead
    (``_zoom_rows``)."""
    if _is_dem(inp):
        # area filter applied on the ID table inside materialize_dem —
        # excluded tiles never compute a payload
        return materialize_dem(
            spark, zoom, cfg.pyramid, bounds=cfg.bounds, hole=_dem_hole(inp),
            area=cfg.area,
        )
    elif isinstance(inp, dict) and "path" in inp:
        df = _read_path_input(spark, cfg, zoom, inp["path"], inp)
    elif isinstance(inp, str) and inp not in ("dem",):
        df = _read_path_input(spark, cfg, zoom, inp, {})
    else:
        raise ValueError(f"unsupported input spec: {inp!r}")
    keep = _in_ranges(aoi_tile_ranges(cfg.pyramid, zoom, cfg.bounds))
    df = df.where(keep if cut is None else keep & cut)
    if cfg.area is not None:
        df = filter_tiles_to_area(df, cfg.pyramid, cfg.area)
    return df


def _read_tiles(spark, path: str, zoom: int) -> DataFrame:
    """The tiles at ``zoom`` of the tile table at ``path``, read with the
    raster schema (no schema-inference job per read)."""
    return spark.read.schema(RASTER_SCHEMA).parquet(path).where(F.col("zoom") == zoom)


def _read_path_input(spark, cfg: JobConfig, zoom: int, path: str, spec: dict):
    """Path inputs: a parquet tile table (the scale shape) OR — round 5,
    through the in-tree codecs (sources/fileinput.py) — a single
    GeoTIFF raster file resampled onto the job grid, exactly the
    reference's raster_file input driver
    (formats/default/raster_file.py). Dispatch is by extension."""
    low = str(path).lower()
    if low.endswith((".tif", ".tiff")):
        from mapchete_spark.sources.fileinput import raster_table_from_file

        return raster_table_from_file(
            spark,
            path,
            zoom,
            cfg.pyramid,
            resampling=spec.get("resampling", "nearest"),
        )
    return _read_tiles(spark, path, zoom)


_VECTOR_FILE_EXTS = (".geojson", ".json", ".gpkg", ".fgb", ".shp")
#: param auto-loading excludes bare ``.json`` — a parameter naming a
#: .json file may be any sidecar, only unambiguous geo extensions load
_VECTOR_PARAM_EXTS = (".geojson", ".gpkg", ".fgb", ".shp")


def _input_features(spark, cfg: JobConfig, zoom: int) -> DataFrame:
    """Feature-table input for kind-'features' processes: a vector
    FILE (any vector_table_from_file extension; source CRS honored)
    lifted to FEATURE_SCHEMA, or a parquet path already carrying
    FEATURE_SCHEMA rows (the corpus-scale shape)."""
    inp = cfg.input_at_zoom(zoom)
    spec = dict(inp) if isinstance(inp, dict) else {"path": inp}
    path = spec.get("path")
    if not isinstance(path, str):
        raise ValueError(
            f"kind-'features' process needs a path input, got {inp!r}"
        )
    low = path.lower()
    if not low.endswith(_VECTOR_FILE_EXTS):
        return spark.read.parquet(path)
    from mapchete_spark.operators.vector import FEATURE_SCHEMA
    from mapchete_spark.sources.fileinput import vector_table_from_file

    pyr_crs = str(getattr(cfg.pyramid, "crs", "EPSG:4326"))
    base = vector_table_from_file(
        spark, path, layer=spec.get("layer"), dst_crs=pyr_crs
    )

    def gen(batches):
        import pandas as pd

        from mapchete_spark.geometry.wkb import from_wkb

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "feature_id": pdf["fid"].astype(str),
                    "geometry": pdf["geometry"],
                    "geom_type": [
                        from_wkb(bytes(b)).geom_type
                        for b in pdf["geometry"]
                    ],
                    "properties": pdf["properties"],
                }
            )

    return base.mapInPandas(gen, FEATURE_SCHEMA)


def _resolve_vector_file_params(
    spark, cfg: JobConfig, params: dict, cache: Dict[str, list]
) -> dict:
    """Round 6: a process parameter that names a VECTOR FILE loads as
    a geometry list — the reference's convert/clip workflow, where the
    ``clip`` input is a vector_file driver opened per tile
    (mapchete/processes/convert.py + formats/default/vector_file.py).
    Spark shape: the file decodes ONCE driver-side through
    vector_table_from_file (size-guarded; source CRS honored — an
    EPSG:3857 GPKG arrives in pyramid coordinates) and the geometries
    ride to executors inside the process params (broadcast-by-
    closure), so the per-tile intersect is map-only. The conventional
    ``clip`` key feeds process_clip's ``clip_geometries``."""
    hits = {
        k: v
        for k, v in params.items()
        if isinstance(v, str) and v.lower().endswith(_VECTOR_PARAM_EXTS)
    }
    if not hits:
        return params
    from mapchete_spark.geometry.wkb import from_wkb
    from mapchete_spark.sources.fileinput import vector_table_from_file

    pyr_crs = str(getattr(cfg.pyramid, "crs", "EPSG:4326"))
    out = dict(params)
    for k, v in hits.items():
        path = (
            v
            if os.path.isabs(v)
            else os.path.join(cfg.config_dir or ".", v)
        )
        if path not in cache:
            rows = vector_table_from_file(
                spark, path, dst_crs=pyr_crs
            ).collect()
            cache[path] = [from_wkb(bytes(r["geometry"])) for r in rows]
        target = "clip_geometries" if k == "clip" else k
        out.pop(k, None)
        out[target] = cache[path]
    return out


def _zoom_params(spark, cfg: JobConfig, zoom: int, prep: dict, cache: Dict[str, list]) -> dict:
    """The process parameters at ``zoom``: the configured ones, with
    vector files loaded as geometries and the preprocessing results
    under ``preprocessing``."""
    params = _resolve_vector_file_params(spark, cfg, cfg.params_at_zoom(zoom) or {}, cache)
    return {**params, "preprocessing": prep} if prep else params


def execute_tile(
    spark: SparkSession, cfg: JobConfig, zoom: int, row: int, col: int
) -> DataFrame:
    """§3.2 library API: run the configured process for ONE tile and
    return its output rows — no writes, no checkpoint, no state. The
    reference's ``Mapchete.open(conf).execute_tile(tile)``
    (mapchete/processing/base.py:403-430), the primary single-tile
    correctness harness of its test suite: the process tile, with no
    output split. Spark rendering: ``execute``'s per-zoom body with a
    keep filter on the target key; tile-table inputs are first cut to
    the target (plus its 3x3 neighborhood, wrapped across the
    antimeridian on global grids, when a pixelbuffer needs the halo)."""
    kind, fn, min_pb = resolve_process(cfg)
    pb = max(cfg.pyramid.pixelbuffer, min_pb)
    params = _zoom_params(spark, cfg, zoom, run_preprocessing_tasks(spark, cfg), {})
    keep = KeyFilter(np.array([linear_tile_key(zoom, row, col)]), keep=True)
    d = 1 if pb else 0
    mw = cfg.pyramid.matrix_width(zoom)
    cols = {col + dc for dc in range(-d, d + 1)}
    cols = {c % mw for c in cols} if cfg.pyramid.is_global else {c for c in cols if 0 <= c < mw}
    cut = _in_ranges((row - d, row + d, c, c) for c in sorted(cols))
    return _zoom_rows(spark, cfg, zoom, kind, fn, pb, params, keep, cut=cut)


def run_preprocessing_tasks(spark: SparkSession, cfg: JobConfig) -> Dict[str, object]:
    """J3 preprocessing tasks: driver-side computations executed ONCE
    before any tile stage, their results injected into every tile's
    process parameters under ``preprocessing.<name>`` (the reference
    runs per-input preprocessing tasks before tile tasks,
    mapchete/processing/tasks.py preprocessing flow + formats/base.py
    add_preprocessing_task). Spark shape: compute on the driver (often
    one small aggregate) — the values ride to executors inside the
    process params (broadcast-by-closure).

    Config:
        preprocessing:
          <name>: { process: tasks.py | pkg.mod, args: {...} }
    where the module exposes ``execute(spark, cfg, **args)``.
    """
    conf = getattr(cfg, "raw_preprocessing", None) or {}
    results: Dict[str, object] = {}
    for name, spec in conf.items():
        from mapchete_spark.plans.process_func import ProcessFunc

        spec = dict(spec) if isinstance(spec, dict) else {"process": spec}
        pf = ProcessFunc(spec["process"], config_dir=cfg.config_dir)
        func = pf._load_func()
        results[name] = func(spark, cfg, **(spec.get("args") or {}))
    return results


def execute(
    spark: SparkSession,
    cfg: JobConfig,
    mode: str = "continue",
    store_path: Optional[str] = None,
    observers=None,
) -> Dict[str, int]:
    """Run a job config. Returns per-stage processed-tile counts.

    mode: continue | overwrite | readonly (J1 semantics).
    observers: callables receiving (state=..., detail=..., run_id=...)
    on every lifecycle transition (J7, reference ObserverProtocol —
    mapchete/commands/observer.py); transitions are also persisted in
    the job store's status table:
    pending -> parsing -> initializing -> running -> done | failed."""
    out_path = cfg.output["path"]
    store = JobStore(spark, store_path or os.path.join(out_path, "_state"))
    seq = [0]

    def notify(state: str, detail: str = ""):
        store.record_status(seq[0], state, detail)
        for obs in observers or ():
            obs(state=state, detail=detail, run_id=store.run_id)
        seq[0] += 1

    with store.batched():
        return _run(spark, cfg, mode, store, notify)


def _run(spark, cfg: JobConfig, mode: str, store: JobStore, notify) -> Dict[str, int]:
    out_path = cfg.output["path"]
    tiles_path = os.path.join(out_path, "tiles")
    notify("pending")
    notify("parsing")
    try:
        kind, fn, min_pb = resolve_process(cfg)
    except Exception as exc:
        notify("failed", f"{type(exc).__name__}: {exc}")
        raise
    notify("initializing")
    payload = "data" if kind == "raster" else "geometry"
    # the manifest's keys per zoom, read once on the driver (in continue
    # mode after committing the files of a run that crashed mid-stage);
    # ``done`` starts from them in continue mode and empty otherwise, and
    # gains every key a stage writes or finds Empty
    stored: Dict[int, np.ndarray] = {}
    try:
        prep = run_preprocessing_tasks(spark, cfg)
        store.compact()
        if mode == "continue":
            store.adopt_orphans(tiles_path, payload)
        if mode != "readonly":
            stored = _by_zoom(store.done_keys())
    except Exception as exc:
        notify("failed", f"{type(exc).__name__}: {exc}")
        raise
    done = dict(stored) if mode == "continue" else {}
    counts: Dict[str, int] = {}
    # zoom -> rows this run wrote there; a stage counts those of its zoom,
    # so an overview stage also counts the parents the process stage
    # above it reduced in its task
    wrote: Dict[int, int] = {}

    def add_done(keys: np.ndarray) -> None:
        for z, k in _by_zoom(keys).items():
            done[z] = np.union1d(done.get(z, NO_KEYS), k)

    # J6: per-stage Spark TaskMetrics (peak memory, shuffle bytes, spill)
    # pulled from Spark's status store by the stage's job group
    from mapchete_spark.operators.profilers import StageMetricsProfiler

    profiler = StageMetricsProfiler.attach(spark)
    sc = spark.sparkContext
    @functools.lru_cache(maxsize=None)
    def zorder():
        """The write order, built once per execute by the first stage
        that writes (one build is ~370 py4j calls)."""
        return zorder_key_col(F.col("zoom"), F.col("tile_row"), F.col("tile_col"))

    def stage(name: str, zoom: int, candidates, build, fuse: bool = False):
        """Plan on the driver, then — if anything is left to do — one
        Spark write and a manifest commit. ``candidates(limit)`` gives
        the keys the stage would write, or None when they are unknown or
        would take more than ``limit`` keys to enumerate; ``build(todo)``
        the stage's rows, with the ``todo`` KeyFilter applied. Candidates
        the stage did not write raised Empty: they are recorded as done
        too, so a no-op run skips them.

        With ``fuse`` the stage also writes parents at ``zoom - 1``,
        reduced in its task from the children it computes:
        ``build(todo, parents)`` gets the KeyFilter of those it may
        reduce. They are the parents none of whose children is stored
        and which are not done themselves, so the per-zoom reduce would
        have read exactly the children this stage writes. Every other
        todo parent is left to that reduce."""
        t0 = time.time()
        if mode == "readonly":
            counts[name] = 0
            return
        done_z = done.get(zoom, NO_KEYS)
        # the limit keeps planning proportional to the keys the driver
        # holds: past twice the done keys the todo keys outnumber them,
        # so todo is not empty and dropping the done keys is the smaller
        # filter
        cand = candidates(2 * done_z.size)
        # in overwrite mode ``done`` holds this run's keys only
        todo = plan_keys(cand, done_z)
        parents = None
        if fuse:
            parents = KeyFilter(
                np.union1d(
                    _parent_keys(stored.get(zoom, NO_KEYS)), done.get(zoom - 1, NO_KEYS)
                )
            )
        profile = None
        if todo is not None:
            group = f"{store.run_id}:{name}"
            # the caller's job group comes back after the stage, so its
            # own jobs are not attributed to the engine's last stage
            caller = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
            sc.setJobGroup(group, name)
            try:
                # physical layout: sort each partition in z-order so
                # parquet row groups carry spatial locality (row/col
                # min/max stats then prune spatial range scans)
                rows = build(todo, parents) if fuse else build(todo)
                ordered = rows.sortWithinPartitions(zorder())
                written = write_tiles(
                    store, ordered, tiles_path, payload, partition_by="zoom"
                )
            except Exception as exc:  # J7: surface the failing stage
                notify("failed", f"{name}: {type(exc).__name__}")
                raise
            finally:
                for k, v in caller.items():
                    sc.setLocalProperty(k, v)
            for z, k in _by_zoom(written).items():
                wrote[z] = wrote.get(z, 0) + k.size
            add_done(written)
            if cand is None:
                cand = candidates(2 * done.get(zoom, NO_KEYS).size)
            if cand is not None:
                if fuse:
                    # the parents of the blocks the task walked (those
                    # with a todo tile) that it was to reduce
                    cand = np.union1d(
                        cand,
                        np.setdiff1d(
                            _parent_keys(np.setdiff1d(cand, done_z)), parents.keys
                        ),
                    )
                empty = np.setdiff1d(cand, np.union1d(done.get(zoom, NO_KEYS), written))
                store.record_empty(empty)
                add_done(empty)
            profile = profiler.profile_for(group)
        n = wrote.get(zoom, 0)
        store.record_metric(name, n, (time.time() - t0) * 1000, profile)
        counts[name] = n

    pb = max(cfg.pyramid.pixelbuffer, min_pb)
    out_meta = int(cfg.output.get("metatiling", cfg.pyramid.metatiling))
    notify("running")

    # ---- process zooms (descending; one Spark action per zoom = Z5) ----
    # a raster DEM process zoom right above a lower overview zoom reduces
    # that zoom's parents in its own task
    lower = (
        cfg.overview_zooms_lower() if cfg.baselevels and kind == "raster" else []
    )
    # an output split (raster only) keys its rows by output tile, so
    # there the todo filter guards the write only
    split = kind == "raster" and out_meta < cfg.pyramid.metatiling
    if split:
        from mapchete_spark.operators.outputsplit import split_to_output_tiles
        from mapchete_spark.tilegrid.pyramid import TilePyramid

        out_pyr = TilePyramid(
            grid=cfg.pyramid.grid, metatiling=out_meta, tile_size=cfg.pyramid.tile_size,
        )
    _vector_param_cache: Dict[str, list] = {}
    for zoom in cfg.process_zooms():
        params = _zoom_params(spark, cfg, zoom, prep, _vector_param_cache)
        # the output keys are tile-grid arithmetic for DEM inputs; other
        # inputs define their own tiles, and an output split re-keys them
        plannable = _is_dem(cfg.input_at_zoom(zoom)) and out_meta == cfg.pyramid.metatiling

        def build(todo, parents=None, zoom=zoom, params=params):
            # continue-mode compute skip: done PROCESS TARGETS are dropped
            # before the process UDF (reference skip-existing semantics,
            # processing/base.py:456-504); the tiles they read still feed
            # unfinished neighbors
            if not split:
                return _zoom_rows(spark, cfg, zoom, kind, fn, pb, params, todo, parents)
            # Z4: split process metatiles into output tiles
            rows = _zoom_rows(spark, cfg, zoom, kind, fn, pb, params, PASS_ALL)
            return todo.apply(split_to_output_tiles(rows, cfg.pyramid, out_pyr))

        stage(
            f"process_z{zoom}",
            zoom,
            (
                lambda limit, zoom=zoom: aoi_tile_keys(
                    cfg.pyramid, zoom, cfg.bounds, cfg.area, limit
                )
            )
            if plannable
            else (lambda limit: None),
            build,
            fuse=plannable and zoom - 1 in lower,
        )

    # ---- overview zooms ----
    if cfg.baselevels and mode != "readonly" and kind == "raster":
        # lower: reduce from the stored level above the parents the
        # process stage did not reduce in its task; compute skip drops
        # children whose PARENT is done before the reduce shuffle
        def reduce(todo, zoom):
            return overview_reduce_once(
                _read_tiles(spark, tiles_path, zoom + 1), cfg.pyramid,
                resampling=cfg.baselevels.lower, parents=todo,
            )

        for zoom in lower:
            stage(
                f"overview_z{zoom}",
                zoom,
                lambda limit, zoom=zoom: _parent_keys(done.get(zoom + 1, NO_KEYS)),
                lambda todo, zoom=zoom: reduce(todo, zoom),
            )

        # higher: upsample children from the level below; a keep filter
        # also limits the parents read
        def upsample(todo, zoom):
            src = _read_tiles(spark, tiles_path, zoom - 1)
            if todo.keep:
                src = KeyFilter(_parent_keys(todo.keys), keep=True).apply(src)
            return todo.apply(
                overview_upsample(src, cfg.pyramid, resampling=cfg.baselevels.higher)
            )

        for zoom in cfg.overview_zooms_higher():
            stage(
                f"overview_z{zoom}",
                zoom,
                lambda limit, zoom=zoom: _child_keys(
                    done.get(zoom - 1, NO_KEYS), cfg.pyramid
                ),
                lambda todo, zoom=zoom: upsample(todo, zoom),
            )

    # output metadata sidecar (S10 analog: formats/base.py:476-478)
    if mode != "readonly":
        meta = dict(
            pyramid=cfg.pyramid.to_dict(),
            driver=dict(format=cfg.output.get("format", "parquet_tiles")),
            dtype=cfg.output.get("dtype"),
            nodata=cfg.output.get("nodata"),
            process=cfg.process,
        )
        os.makedirs(out_path, exist_ok=True)
        with open(os.path.join(out_path, "metadata.json"), "w") as f:
            json.dump(meta, f, indent=2, default=str)
    notify("done")
    return counts


def tile_index(spark: SparkSession, out_path: str, zoom: int) -> DataFrame:
    """J8 'mapchete index' analog: per-zoom index of written tiles with
    bounds (a small query over the output table, not a filesystem walk)."""
    from mapchete_spark.plans.config import JobConfig  # noqa: F401

    tiles = _read_tiles(spark, os.path.join(out_path, "tiles"), zoom)
    with open(os.path.join(out_path, "metadata.json")) as f:
        meta = json.load(f)
    from mapchete_spark.tilegrid.pyramid import TilePyramid

    pyr = TilePyramid(**meta["pyramid"])
    ts = pyr.tile_x_size(zoom)
    ty = pyr.tile_y_size(zoom)
    return tiles.select(
        "zoom",
        "tile_row",
        "tile_col",
        (F.lit(pyr.left) + F.col("tile_col") * ts).alias("left"),
        (F.lit(pyr.top) - (F.col("tile_row") + 1) * ty).alias("bottom"),
        (F.lit(pyr.left) + (F.col("tile_col") + 1) * ts).alias("right"),
        (F.lit(pyr.top) - F.col("tile_row") * ty).alias("top"),
    )

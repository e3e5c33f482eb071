"""Resumable execution: the done-manifest, metrics and status tables.

Continue mode keeps the reference's skip-existing semantics (J1/J2:
tile-existence checks, mapchete/path.py:944-1183, and write guards,
processing/base.py:456-504), but answers from small metadata on the
driver instead of scanning tables (the Jigsaw idea, PAPERS.md):

- checkpoint: the done-manifest, one row per written output row
  (tile_key, payload_md5, run_id, finished_at, file). The driver
  appends one part after each stage's tile write, with the payload
  hashes the writing tasks observed (``write_tiles``); ``file`` names
  the tile file the row lives in, relative to the tile table root. A
  null payload_md5 records a tile whose process produced nothing
  (Empty), so continue runs skip it too. A tile file no row names was
  written by a run that crashed before its commit; ``adopt_orphans``
  records its rows whose keys are not done, so a continue run neither
  recomputes nor duplicates its tiles.
- metrics: per-stage row counts, wall time and Spark task metrics per
  run (J6 profilers, pulled from Spark's status store).
- status: the J7 lifecycle transitions of each run.

Tile ids are computed, never stored (SURVEY §1.1), so a stage's todo
set is tile-grid arithmetic minus the done keys (``plan_keys``). It
reaches Spark as a ``KeyFilter``, never as a join against this table.
All three tables are plain parquet, read and written with pyarrow on
the driver and readable by Spark (``checkpoint()``, ``metrics()``,
``status()``). ``JobStore.batched`` writes one execute's metrics and
status rows as one part per table, and ``compact`` folds a table of
more than COMPACT_PARTS parts into one.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Dict, Iterable, List, Optional

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_ARROW = {
    "checkpoint": pa.schema(
        [
            ("tile_key", pa.int64()),
            ("payload_md5", pa.string()),
            ("run_id", pa.string()),
            ("finished_at", pa.float64()),
            ("file", pa.string()),
        ]
    ),
    "metrics": pa.schema(
        [
            ("run_id", pa.string()),
            ("stage", pa.string()),
            ("n_rows", pa.int64()),
            ("wall_ms", pa.float64()),
            ("at", pa.float64()),
            # J6 task-metrics profile (operators/profilers.StageMetricsProfiler;
            # nulls when the stage ran no job)
            ("task_run_ms", pa.float64()),
            ("peak_mem_bytes", pa.int64()),
            ("shuffle_read_bytes", pa.int64()),
            ("shuffle_write_bytes", pa.int64()),
            ("spilled_bytes", pa.int64()),
        ]
    ),
    # J7 status lifecycle (reference mapchete/enums.py:34-73 Status)
    "status": pa.schema(
        [
            ("run_id", pa.string()),
            ("seq", pa.int32()),
            ("state", pa.string()),
            ("detail", pa.string()),
            ("at", pa.float64()),
        ]
    ),
}


def _ddl(schema: pa.Schema) -> str:
    spark_types = {
        pa.int32(): "int",
        pa.int64(): "long",
        pa.float64(): "double",
        pa.string(): "string",
    }
    return ", ".join(f"{f.name} {spark_types[f.type]}" for f in schema)


CHECKPOINT_SCHEMA = _ddl(_ARROW["checkpoint"])
METRICS_SCHEMA = _ddl(_ARROW["metrics"])
STATUS_SCHEMA = _ddl(_ARROW["status"])
# pending -> parsing -> initializing -> running -> done | failed
STATUS_ORDER = ("pending", "parsing", "initializing", "running", "done", "failed")

#: a state table holding more part files than this is compacted into one
#: at the start of an execute
COMPACT_PARTS = 3

NO_KEYS = np.empty(0, dtype=np.int64)


@dataclass(frozen=True, eq=False)
class KeyFilter:
    """A driver-planned tile-key filter: keep only ``keys`` (``keep``) or
    drop them. The empty drop filter passes every row.

    The keys become a local relation (built from Arrow, so its size costs
    no per-key Python call) that a broadcast semi/anti join applies at
    any size; broadcasting it is one Spark job of the filtered query."""

    keys: np.ndarray
    keep: bool = False

    @property
    def passes_all(self) -> bool:
        return not self.keep and not len(self.keys)

    def apply(self, df: DataFrame, col: str = "tile_key") -> DataFrame:
        if self.passes_all:
            return df
        keys = F.broadcast(df.sparkSession.createDataFrame(pa.table({col: self.keys})))
        return df.join(keys, on=col, how="left_semi" if self.keep else "left_anti")


PASS_ALL = KeyFilter(NO_KEYS)


def plan_keys(
    candidates: Optional[np.ndarray], done: np.ndarray
) -> Optional[KeyFilter]:
    """The continue-mode plan of one stage. ``candidates`` are the keys
    the stage would write, when tile-grid arithmetic knows them (None
    when only its input does); ``done`` the manifest's keys at the
    stage's zoom. None when nothing is left to do; otherwise the smaller
    of keep-the-todo-keys and drop-the-done-keys."""
    if candidates is None:
        return KeyFilter(done)
    todo = np.setdiff1d(candidates, done)
    if not todo.size:
        return None
    done_in = np.intersect1d(candidates, done)
    if todo.size < done_in.size:
        return KeyFilter(todo, keep=True)
    return KeyFilter(done_in)


def tile_files(root: str) -> set:
    """Data files below a tile table root, as paths relative to it;
    names Spark's readers skip (``_`` or ``.`` prefixed) are skipped."""
    out = set()
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        rel = os.path.relpath(d, root)
        out.update(
            os.path.normpath(os.path.join(rel, f))
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return out


def _md5(payload) -> Optional[str]:
    return None if payload is None else hashlib.md5(payload).hexdigest()


@dataclass
class JobStore:
    """Directory of engine-state tables for one job."""

    spark: SparkSession
    path: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    _buffer: Optional[Dict[str, list]] = field(default=None, init=False, repr=False)

    def _table(self, name: str) -> str:
        return os.path.join(self.path, name)

    def _read_or_empty(self, name: str, schema: str) -> DataFrame:
        p = self._table(name)
        try:
            return self.spark.read.schema(schema).parquet(p)
        except Exception:
            return self.spark.createDataFrame([], schema)

    def _parts(self, name: str) -> List[str]:
        p = self._table(name)
        return sorted(os.path.join(p, f) for f in tile_files(p))

    def _read_local(self, name: str, columns: Optional[List[str]] = None) -> pa.Table:
        schema = _ARROW[name]
        parts = self._parts(name)
        if not parts:
            return schema.empty_table().select(columns or schema.names)
        return pads.dataset(parts, schema=schema, format="parquet").to_table(
            columns=columns
        )

    def _write_part(self, name: str, table: pa.Table) -> None:
        """One new part file, renamed into place once complete (readers
        skip the dot-prefixed name while it is written)."""
        path = self._table(name)
        os.makedirs(path, exist_ok=True)
        part = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(path, "." + part)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, part))

    def _append(self, name: str, rows: List[dict]) -> None:
        if self._buffer is not None and name in self._buffer:
            self._buffer[name].extend(rows)
        elif rows:
            self._write_part(name, pa.Table.from_pylist(rows, schema=_ARROW[name]))

    @contextmanager
    def batched(self):
        """Buffer metrics and status rows and write them as one part per
        table when the block exits, also when it raises."""
        self._buffer = {"metrics": [], "status": []}
        try:
            yield self
        finally:
            buffered, self._buffer = self._buffer, None
            for name, rows in buffered.items():
                self._append(name, rows)

    def compact(self) -> None:
        """Fold each state table of more than COMPACT_PARTS part files
        into one part. The new part is written before the old ones are
        removed: a crash in between leaves their rows twice."""
        for name in _ARROW:
            parts = self._parts(name)
            if len(parts) > COMPACT_PARTS:
                self._write_part(
                    name,
                    pads.dataset(parts, schema=_ARROW[name], format="parquet").to_table(),
                )
                for p in parts:
                    os.remove(p)

    # ---- done-manifest ------------------------------------------------------

    def checkpoint(self) -> DataFrame:
        return self._read_or_empty("checkpoint", CHECKPOINT_SCHEMA)

    def done_keys(self) -> np.ndarray:
        """Sorted unique tile keys of the manifest."""
        keys = self._read_local("checkpoint", ["tile_key"]).column("tile_key")
        return np.unique(keys.to_numpy()).astype(np.int64)

    def _record(self, keys, md5s, files=None) -> None:
        """Append one manifest part; a null ``payload_md5`` marks a tile
        whose process produced nothing (Empty)."""
        n = len(keys)
        if not n:
            return
        self._write_part(
            "checkpoint",
            pa.table(
                {
                    "tile_key": pa.array(keys, pa.int64()),
                    "payload_md5": pa.array(md5s, pa.string()),
                    "run_id": pa.array([self.run_id] * n, pa.string()),
                    "finished_at": pa.array([time.time()] * n, pa.float64()),
                    "file": pa.array(files or [None] * n, pa.string()),
                },
                schema=_ARROW["checkpoint"],
            ),
        )

    def commit_files(
        self, root: str, files: Iterable[str], hashes: Dict[int, list]
    ) -> np.ndarray:
        """Record every row of the given tile files (paths relative to
        ``root``) as done, with the payload hashes the write observed
        (``hashes``: tile_key -> md5s of its rows); reads only the files'
        tile_key column. Returns the rows' tile keys."""
        keys, md5s, names = [], [], []
        for rel in sorted(files):
            file_keys = (
                pq.read_table(os.path.join(root, rel), columns=["tile_key"])
                .column("tile_key")
                .to_pylist()
            )
            for k in file_keys:
                left = hashes.get(k)
                md5s.append(left.pop() if left else None)
            keys += file_keys
            names += [rel] * len(file_keys)
        self._record(keys, md5s, names)
        return np.asarray(keys, dtype=np.int64)

    def record_empty(self, keys: np.ndarray) -> None:
        """Record tiles whose process produced nothing as done."""
        self._record(keys.tolist(), [None] * len(keys))

    def adopt_orphans(self, root: str, payload_col: Optional[str] = "data") -> int:
        """Commit the rows of tile files no manifest row names whose tile
        keys are not done yet: output of a run that crashed between its
        tile write and its commit. A file whose keys are all done (a
        compacted table's renamed files, a table older than the ``file``
        column) adds nothing. Adopted payloads are hashed on the driver,
        one parquet row group at a time. Returns the rows adopted."""
        listed = set(self._read_local("checkpoint", ["file"]).column("file").to_pylist())
        done = self.done_keys()
        keys, md5s, names = [], [], []
        for rel in sorted(tile_files(root) - listed):
            pf = pq.ParquetFile(os.path.join(root, rel))
            if np.isin(pf.read(columns=["tile_key"]).column("tile_key"), done).all():
                continue
            has_payload = bool(payload_col) and payload_col in pf.schema_arrow.names
            for i in range(pf.num_row_groups):
                t = pf.read_row_group(
                    i, columns=["tile_key", payload_col] if has_payload else ["tile_key"]
                )
                new = ~np.isin(t.column("tile_key"), done)
                t = t.filter(pa.array(new))
                keys += t.column("tile_key").to_pylist()
                md5s += (
                    [_md5(v) for v in t.column(payload_col).to_pylist()]
                    if has_payload
                    else [""] * t.num_rows
                )
                names += [rel] * t.num_rows
        self._record(keys, md5s, names)
        return len(keys)

    def filter_todo(self, tiles: DataFrame, key: str = "tile_key") -> DataFrame:
        """Continue mode write guard: drop tiles already done."""
        return KeyFilter(self.done_keys()).apply(tiles, key)

    def commit_tiles(self, produced: DataFrame, payload_col: Optional[str] = "data") -> int:
        """Record the rows of a DataFrame as done: one collect of their
        keys and payload hashes. Returns the number of rows."""
        md5 = (
            F.md5(F.col(payload_col))
            if payload_col and payload_col in produced.columns
            else F.lit("")
        )
        rows = produced.select("tile_key", md5.alias("h")).collect()
        self._record([r[0] for r in rows], [r[1] for r in rows])
        return len(rows)

    # ---- metrics ------------------------------------------------------------

    def record_metric(
        self, stage: str, n_rows: int, wall_ms: float, profile: dict = None
    ):
        """One metrics row per stage; ``profile`` carries the Spark
        TaskMetrics totals of the stage's job group, pulled by
        StageMetricsProfiler (J6); None when the stage ran no job."""
        p = profile or {}
        self._append(
            "metrics",
            [
                {
                    "run_id": self.run_id,
                    "stage": stage,
                    "n_rows": int(n_rows),
                    "wall_ms": float(wall_ms),
                    "at": time.time(),
                    "task_run_ms": (
                        float(p["task_run_ms"]) if "task_run_ms" in p else None
                    ),
                    "peak_mem_bytes": p.get("peak_mem_bytes"),
                    "shuffle_read_bytes": p.get("shuffle_read_bytes"),
                    "shuffle_write_bytes": p.get("shuffle_write_bytes"),
                    "spilled_bytes": p.get("spilled_bytes"),
                }
            ],
        )

    def metrics(self) -> DataFrame:
        return self._read_or_empty("metrics", METRICS_SCHEMA)

    # ---- J7 status lifecycle --------------------------------------------------

    def record_status(self, seq: int, state: str, detail: str = ""):
        """Persist one lifecycle transition (reference observer
        ObserverProtocol.update(status=...) + Status enum semantics)."""
        if state not in STATUS_ORDER:
            raise ValueError(f"unknown status {state!r}; have {STATUS_ORDER}")
        self._append(
            "status",
            [
                {
                    "run_id": self.run_id,
                    "seq": int(seq),
                    "state": state,
                    "detail": detail,
                    "at": time.time(),
                }
            ],
        )

    def status(self) -> DataFrame:
        return self._read_or_empty("status", STATUS_SCHEMA)

    # ---- changed-tile propagation (Z2 overview refresh) ----------------------

    def changed_since(self, run_id: str) -> DataFrame:
        """Tile keys checkpointed by runs AFTER run_id (by finished_at) —
        the seed set for overview refresh."""
        ck = self.checkpoint()
        anchor = (
            ck.where(F.col("run_id") == run_id)
            .agg(F.max("finished_at"))
            .collect()[0][0]
        )
        if anchor is None:
            return ck.select("tile_key").distinct()
        return (
            ck.where(F.col("finished_at") > anchor).select("tile_key").distinct()
        )


def write_tiles(
    store: JobStore,
    df: DataFrame,
    root: str,
    payload_col: Optional[str] = "data",
    partition_by: Optional[str] = None,
) -> np.ndarray:
    """Append ``df`` to the tile table at ``root`` in one Spark write,
    then commit the new files to the manifest on the driver. The writing
    tasks hash the payloads (Spark's md5) and the write's observed
    metrics carry (tile_key, md5) back, so the driver never reads a
    payload. Returns the written rows' tile keys."""
    md5 = (
        F.md5(F.col(payload_col))
        if payload_col and payload_col in df.columns
        else F.lit("")
    )
    hashed = Observation()
    df = df.observe(hashed, F.collect_list(F.struct("tile_key", md5)).alias("rows"))
    before = tile_files(root)
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(root)
    hashes: Dict[int, list] = {}
    for key, h in hashed.get["rows"]:
        hashes.setdefault(key, []).append(h)
    return store.commit_files(root, tile_files(root) - before, hashes)


def run_stage(
    store: JobStore,
    stage: str,
    df_fn: Callable[[], DataFrame],
    out_path: Optional[str] = None,
    mode: str = "continue",
    payload_col: Optional[str] = "data",
) -> int:
    """Execute one stage with manifest/metrics bookkeeping.

    mode:
      continue  - drop tiles already done, process the rest
      overwrite - process everything, record it anyway
      readonly  - compute nothing, return the manifest's row count
    """
    t0 = time.time()
    if mode == "readonly":
        n = store._read_local("checkpoint", ["tile_key"]).num_rows
    else:
        df = df_fn()
        if mode == "continue":
            df = store.filter_todo(df)
        if out_path:
            n = len(write_tiles(store, df, out_path, payload_col))
        else:
            n = store.commit_tiles(df, payload_col)
    store.record_metric(stage, n, (time.time() - t0) * 1000)
    return n

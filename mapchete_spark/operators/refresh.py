"""Continue-mode overview refresh (Z2).

When baselevel tiles are reprocessed, their parent chains must be
re-interpolated even though the parents exist in the checkpoint
(mapchete/processing/base.py:805-845, the ``overview_parents`` set).

Spark shape: the changed-tile seed set comes from the done-manifest
(JobStore.changed_since, by commit time) — parent keys are pure
arithmetic on the child keys, so the propagation is a per-zoom
``select distinct parent_key`` (no data movement), and only the
affected parents' children are re-read for the actual reduce:
an inner join of the overview input against the dirty-parent set.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapchete_spark.operators.overviews import overview_reduce_once
from mapchete_spark.tilegrid.pyramid import TilePyramid

from mapchete_spark.tilegrid.keys import (
    LINEAR_MASK as _MASK,
    LINEAR_ROW_SHIFT as _RS,
    LINEAR_ZOOM_SHIFT as _ZS,
)


def parent_key_col(key: F.Column) -> F.Column:
    """tile_key -> parent tile_key, exact bit arithmetic on the packed
    key (shift/mask — a double division would round wrong for row/col
    near 2^27)."""
    z = F.shiftright(key, _ZS)
    row = F.shiftright(key, _RS).bitwiseAND(F.lit(_MASK))
    col = key.bitwiseAND(F.lit(_MASK))
    return (
        F.shiftleft(z - 1, _ZS)
        .bitwiseOR(F.shiftleft(F.shiftright(row, 1), _RS))
        .bitwiseOR(F.shiftright(col, 1))
    )


def dirty_parents(changed_keys: DataFrame) -> DataFrame:
    """Distinct parent keys of a changed-tile key set (one narrow
    distinct; rows carry only int64 keys)."""
    return (
        changed_keys.select(parent_key_col(F.col("tile_key")).alias("tile_key"))
        .distinct()
    )


def refresh_overviews(
    read_level,
    changed_keys: DataFrame,
    pyramid: TilePyramid,
    base_zoom: int,
    min_zoom: int,
    resampling: str = "nearest",
) -> List[Tuple[int, DataFrame]]:
    """Recompute ONLY the overview tiles whose descendants changed.

    ``read_level(zoom)`` returns the currently-written level table.
    Each round reduces the FULL child level restricted to dirty
    parents — unchanged siblings still contribute to a refreshed
    parent — and patches the next level (anti-join + union) before
    propagating the (shrinking) dirty set upward.
    Returns [(zoom, refreshed_tiles_df), ...] for the caller to write.
    """
    out: List[Tuple[int, DataFrame]] = []
    dirty = dirty_parents(changed_keys)
    cur_full = read_level(base_zoom)
    for z in range(base_zoom - 1, min_zoom - 1, -1):
        affected_children = (
            cur_full.withColumn(
                "__parent", parent_key_col(F.col("tile_key"))
            )
            .join(dirty.withColumnRenamed("tile_key", "__parent"), on="__parent")
            .drop("__parent")
        )
        refreshed = overview_reduce_once(
            affected_children, pyramid, resampling=resampling
        )
        out.append((z, refreshed))
        # patch the existing level with the refreshed tiles
        existing = read_level(z)
        cur_full = existing.join(
            refreshed.select(F.col("tile_key").alias("__rk")),
            on=existing["tile_key"] == F.col("__rk"),
            how="left_anti",
        ).unionByName(refreshed)
        dirty = dirty_parents(dirty)
    return out

"""Mimics the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB over the same parquet tables,
compare row count + column names + order-insensitive values
(columns sorted by name, like the driver's hash compare).

The ~90 query pairs are independent reads of the same sf dir, so a
session-scoped fixture computes them CONCURRENTLY on the shared Spark
session (Spark schedules jobs from many threads; PySpark's pinned
thread mode keeps setJobGroup thread-local) with one DuckDB cursor per
thread. The parametrized tests then assert on precomputed results —
same per-query failure granularity, ~6x less wall time than the old
sequential run. A query that forks a spark-submit subprocess stays
sequential."""

import math
import traceback
from concurrent.futures import ThreadPoolExecutor

import pytest

# queries that can't interleave with the pooled phase: cli_execute
# forks a spark-submit subprocess. job_stage_metrics runs in the pool,
# so its profiled expectation also checks that stage
# profiles pulled by run_id-prefixed job group stay apart under the
# pool's concurrent queries.
_SEQUENTIAL = {"cli_execute"}

_POOL_WORKERS = 28

# longest-first scheduling: the job/export/streaming queries run many
# Spark stages (5-15s each) — starting them first keeps the pool's
# makespan near max(single longest, total/workers) instead of leaving
# a 15s straggler for the end
_SLOW_HINTS = (
    "job", "cli", "compact", "gtiff", "png", "singlefile", "hillshade",
    "contours", "media", "stac", "serve", "events", "tile_index",
    "resume", "status", "refresh", "pipeline", "overviews",
)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return round(v, 9)
        return v

    canon_rows = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], canon_rows


def _spark_result(spark, fn, sf_dir):
    df = fn(spark, sf_dir)
    return df.columns, [tuple(r) for r in df.collect()], dict(df.dtypes)


def _duck_result(duck, sql):
    res = duck.execute(sql)
    cols = [d[0] for d in res.description]
    arrow = res.arrow()
    types = {f.name: str(f.type) for f in arrow.schema}
    return cols, [tuple(r.values()) for r in arrow.to_pylist()], types


def _type_family(type_str: str) -> str:
    """Collapse a Spark dtype / arrow type string into the family the
    driver's value hasher distinguishes. DuckDB returns HUGEINT for
    SUM(BIGINT); through Arrow that is decimal128(38,0), which hashes
    differently from Spark's int64 even when the values are equal —
    the round-3 bug class. Keeping 'decimal' a distinct family makes
    the replay fail locally when an oracle misses a CAST(... AS
    BIGINT)."""
    t = type_str.lower()
    if t.startswith(("decimal", "numeric")):
        return "decimal"
    if t.startswith(("int", "uint", "bigint", "smallint", "tinyint", "long",
                     "short", "byte")):
        return "int"
    if t.startswith(("float", "double", "halffloat", "real")):
        return "float"
    if t.startswith(("bool",)):
        return "bool"
    if t.startswith(("string", "varchar", "large_string", "utf8")):
        return "string"
    if t.startswith(("binary", "large_binary", "blob")):
        return "binary"
    if t.startswith(("list", "array")):
        return "list"
    if t.startswith(("timestamp", "date")):
        # timestamp_ntz (spark) vs timestamp[us] (arrow) are the same
        # wall-clock value; both hash as the datetime
        return "timestamp"
    return t


def all_query_names():
    import __spark_entry__ as e

    return sorted(e.queries().keys())


@pytest.fixture(scope="session")
def parity_results(spark, duck, sf_dir):
    """name -> ('ok', spark_result, duck_result_or_None) or
    ('err', traceback_text, None). duck cursors share the session
    connection's catalog (the registered table views) but are safe to
    use from worker threads."""
    import __spark_entry__ as e

    queries, oracles = e.queries(), e.oracle_sql()
    names = all_query_names()

    def run(name):
        try:
            sql = oracles.get(name)
            s = _spark_result(spark, queries[name], sf_dir)
            d = None
            if sql is not None:
                cur = duck.cursor()
                try:
                    d = _duck_result(cur, sql)
                finally:
                    cur.close()
            return name, ("ok", s, d)
        except Exception:
            return name, ("err", traceback.format_exc(), None)

    results = {}
    # sequential queries first, before the pool floods the session
    for name in (n for n in names if n in _SEQUENTIAL):
        results[name] = run(name)[1]
    pooled = [n for n in names if n not in _SEQUENTIAL]
    pooled.sort(key=lambda n: not any(h in n for h in _SLOW_HINTS))
    with ThreadPoolExecutor(max_workers=_POOL_WORKERS) as pool:
        for name, res in pool.map(run, pooled):
            results[name] = res
    return results


@pytest.mark.parametrize("name", all_query_names())
def test_query_matches_oracle(parity_results, name):
    status, s_res, d_res = parity_results[name]
    assert status == "ok", f"{name} raised:\n{s_res}"
    s_cols, s_rows, s_types = s_res
    if d_res is None:
        # rows-only check — but an EMPTY result is a toothless check
        # (caught a tiledir query silently joining against a missing
        # source zoom), so demand rows
        assert len(s_rows) > 0
        return
    d_cols, d_rows, d_types = d_res
    sc, sr = _canon(s_rows, s_cols)
    dc, dr = _canon(d_rows, d_cols)
    assert sc == dc, f"{name}: column mismatch {sc} vs {dc}"
    # type-strict per column (floats excepted — rounding already
    # absorbs representation differences there)
    for col in sc:
        sf, df_ = _type_family(s_types[col]), _type_family(d_types[col])
        if "float" in (sf, df_) and {sf, df_} <= {"float", "int", "decimal"}:
            # float on either side: the replay's 9-digit rounding (and
            # the driver's hasher, per the green r3 rows for decimal
            # oracles like contours/tile_index) absorbs representation
            # differences. decimal-vs-INT stays strict — that's the
            # HUGEINT bug class.
            continue
        assert sf == df_, (
            f"{name}.{col}: type family mismatch spark={s_types[col]} "
            f"duck={d_types[col]} (HUGEINT-cast bug class?)"
        )
    assert len(sr) == len(dr), f"{name}: row count {len(sr)} vs {len(dr)}"
    mismatches = [
        (a, b) for a, b in zip(sr, dr) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) == 13  # zooms 0..12
    by_zoom = {r["zoom"]: r for r in rows}
    # zoom 0 tiles: at most 2 on the geodetic grid
    assert 1 <= by_zoom[0]["n_tiles"] <= 2
    # every zoom carries the full corpus count
    counts = {r["zoom"]: r["n_doc_assignments"] for r in rows}.values()
    assert len(set(counts)) == 1

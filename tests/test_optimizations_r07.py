"""Round-7 optimization invariants: each rewrite must be semantically
invisible — same rows, narrower plans."""

import re
import uuid

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def tile_base(spark):
    """A two-zoom-agnostic base tile table at zoom 6 with sum/min/max
    payloads, including rows that share parents at several levels."""
    rows = [
        (6, r, c, (6 << 54) + (r << 27) + c, n, n * 2, n * 3)
        for i, (r, c, n) in enumerate(
            [(0, 0, 5), (0, 1, 7), (1, 0, 1), (1, 1, 2), (13, 40, 9),
             (12, 41, 4), (63, 127, 8), (62, 126, 6), (31, 64, 3)]
        )
    ]
    return spark.createDataFrame(
        rows,
        "zoom int, tile_row long, tile_col long, tile_key long, "
        "n_docs long, v_min long, v_max long",
    )


class TestRollupCollapse:
    def test_collapsed_equals_chained(self, spark, tile_base):
        from mapchete_spark.operators.pyramid import (
            rollup_once,
            rollup_to_zoom,
        )

        aggs = {
            "n_docs": F.sum("n_docs"),
            "v_min": F.min("v_min"),
            "v_max": F.max("v_max"),
        }
        for to_zoom in (4, 2, 0):
            collapsed = rollup_to_zoom(tile_base, 6, to_zoom, aggs)
            chained = tile_base
            for _ in range(6, to_zoom, -1):
                chained = rollup_once(chained, aggs)
            assert sorted(map(tuple, collapsed.collect())) == sorted(
                map(tuple, chained.collect())
            )
            assert dict(collapsed.dtypes) == dict(chained.dtypes)

    def test_collapse_fires_and_removes_exchanges(self, spark, tile_base):
        from mapchete_spark.operators.pyramid import rollup_to_zoom

        collapsed = rollup_to_zoom(tile_base, 6, 0, {"n_docs": F.sum("n_docs")})
        n_ex = len(re.findall(r"\bExchange\b", _plan(collapsed)))
        # one aggregation exchange — not one per level
        assert n_ex <= 2, _plan(collapsed)

    def test_non_associative_aggs_fall_back_to_chain(self, spark, tile_base):
        from mapchete_spark.operators.pyramid import (
            _collapsible_merge_aggs,
            rollup_to_zoom,
        )

        # count-of-counts != count: must NOT collapse
        assert not _collapsible_merge_aggs({"n_docs": F.count(F.lit(1))})
        # agg over a DIFFERENT column than its alias: must NOT collapse
        assert not _collapsible_merge_aggs({"total": F.sum("n_docs")})
        assert _collapsible_merge_aggs({"n_docs": F.sum("n_docs")})
        # the fallback path still computes (chained) correct levels
        out = rollup_to_zoom(
            tile_base, 6, 4, {"n_docs": F.count(F.lit(1))}
        )
        assert out.count() > 0
        n_ex = len(re.findall(r"\bExchange\b", _plan(out)))
        assert n_ex >= 2  # chained: one exchange per level


class TestSpreadSmallInput:
    def test_spreads_single_partition_input(self, spark):
        from mapchete_spark.operators.partitioning import spread_small_input

        df = spark.createDataFrame(
            [(i, f"t{i}") for i in range(100)], "doc_id long, text string"
        ).coalesce(1)
        out = spread_small_input(df, "doc_id")
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        assert sorted(r["doc_id"] for r in out.collect()) == list(range(100))

    def test_wide_input_untouched(self, spark):
        from mapchete_spark.operators.partitioning import spread_small_input

        n = spark.sparkContext.defaultParallelism
        df = spark.range(1000).withColumnRenamed("id", "doc_id").repartition(n + 4)
        out = spread_small_input(df, "doc_id")
        # no extra exchange on an already-parallel input
        assert out is df

    def test_shuffled_input_starts_no_job(self, spark):
        """Under AQE, reading a shuffled input's partition count runs the
        shuffle and returns the coalesced count. The guard decides from
        the plan instead: no job, and the shuffle's own sizing stands."""
        from mapchete_spark.operators.partitioning import spread_small_input

        sc = spark.sparkContext
        group = f"spread-{uuid.uuid4().hex}"
        aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        sc.setJobGroup(group, "spread_small_input on a shuffled input")
        try:
            df = (
                spark.range(200000)
                .groupBy((F.col("id") % 7).alias("k"))
                .agg(F.count("*").alias("n"))
            )
            out = spread_small_input(df, "k")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
        sc._jsc.sc().listenerBus().waitUntilEmpty(5000)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert out is df
        assert sorted(map(tuple, out.collect())) == [
            (k, len(range(k, 200000, 7))) for k in range(7)
        ]


class TestMinhashEagerRelease:
    def test_eager_and_lazy_agree(self, spark, sf_dir):
        from mapchete_spark.operators.dedup import minhash_lsh_pairs
        from mapchete_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        eager = minhash_lsh_pairs(docs)  # default eager_release=True
        lazy = minhash_lsh_pairs(docs, eager_release=False)
        assert sorted(map(tuple, eager.collect())) == sorted(
            map(tuple, lazy.collect())
        )

    def test_simhash_eager_and_lazy_agree(self, spark, sf_dir):
        from mapchete_spark.operators.dedup import simhash_neardup_pairs
        from mapchete_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents")
        eager = simhash_neardup_pairs(docs, max_hamming=2)
        lazy = simhash_neardup_pairs(docs, max_hamming=2, eager_release=False)
        assert sorted(map(tuple, eager.collect())) == sorted(
            map(tuple, lazy.collect())
        )


class TestAssignShardsSinglePass:
    def test_prefix_sum_exact_vs_local(self, spark):
        """The JVM partial-sum rewrite must reproduce the exact global
        prefix-sum shard ids (local reference computed in Python)."""
        import random

        from mapchete_spark.operators.sharding import assign_shards

        rnd = random.Random(7)
        rows = [
            (i, "en", " ".join("w" for _ in range(rnd.randint(1, 50))))
            for i in range(500)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        out = {
            r["doc_id"]: (r["n_tokens"], r["shard_id"])
            for r in assign_shards(docs, shard_tokens=64, num_partitions=8).collect()
        }
        run = 0
        for i, (_, _, text) in enumerate(rows):
            n = len(text.split(" "))
            assert out[i] == (n, run // 64), f"doc {i}"
            run += n

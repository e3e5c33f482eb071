"""Corpus phases: the geo index (JVM codegen + shuffle, no Python UDF)
and the interleaved text pipeline (text Arrow UDFs on ~100-byte rows).

``corpus_geo_index``: assign_point_tiles at zoom 12 -> reduce_docs_to_tiles
-> rollup_to_zoom 12 -> 0, per-tile zoom-0 counts collected.

``corpus_text_pipeline``: the ``jobs/corpus.py`` chain through its public
operators: exact dedup -> Gopher repetition filter -> stratified sample
-> shard assignment + span chunking -> shard-partitioned parquet.

Both run in traced runs only. Each is warmed on fewer docs first, timed
fused, then every layer is materialized on its own, under its own Spark
job group, so each layer's time and task metrics can be read
separately.
"""

from __future__ import annotations

import os
import statistics
import time

from inputs import corpus_inputs, geo_docs, text_docs

GEO_ZOOM = 12
#: tokens per shard: tens of shards per run
SHARD_TOKENS = 1 << 16


class CorpusPhases:
    def __init__(self, run, geo_docs_n: int, text_docs_n: int):
        self.run = run
        self.inputs = corpus_inputs(run.seed)
        self.geo_n = geo_docs_n
        self.text_n = text_docs_n
        self.chunks_out = os.path.join(run.work, "chunks")

    # ---- geo index ------------------------------------------------------

    def _geo_pipeline(self, n: int):
        from pyspark.sql import functions as F

        from mapchete_spark.operators.assign import assign_point_tiles
        from mapchete_spark.operators.pyramid import reduce_docs_to_tiles, rollup_to_zoom

        docs = geo_docs(self.run.spark, self.inputs, n)
        base = reduce_docs_to_tiles(
            assign_point_tiles(docs, [GEO_ZOOM]), {"n_docs": F.count(F.lit(1))}
        )
        return rollup_to_zoom(base, GEO_ZOOM, 0, {"n_docs": F.sum("n_docs")})

    def warm_geo(self) -> None:
        """Same plan shape as the measured geo index, on fewer docs."""
        self._geo_pipeline(self.geo_n // 20).collect()

    def warm_text(self) -> None:
        """Same plan shape as the measured text pipeline, on fewer docs;
        then write the measured input."""
        warm = self.write_text_docs(self.text_n // 20, os.path.join(self.run.work, "warm_docs"))
        self._text_pipeline(warm, os.path.join(self.run.work, "warm_chunks"))
        self.docs_path = self.write_text_docs(self.text_n, os.path.join(self.run.work, "docs"))

    def geo_index(self, seconds: float) -> float:
        """Repeat the pipeline for ``seconds`` (at least twice); returns
        the median docs/s."""
        run = self.run
        rates = []
        deadline = time.perf_counter() + seconds
        while len(rates) < 2 or time.perf_counter() < deadline:
            top = self._geo_pipeline(self.geo_n)
            t0 = time.perf_counter()
            rows = top.select("tile_row", "tile_col", "n_docs").collect()
            rates.append(self.geo_n / (time.perf_counter() - t0))
            z0 = {(int(r["tile_row"]), int(r["tile_col"])): int(r["n_docs"]) for r in rows}
            ok = sum(z0.values()) == self.geo_n
            if len(rates) == 1:
                ok = ok and z0 == self._geo_recount()
            run.op(ok, f"geo index zoom-0 counts {z0}")
        return statistics.median(rates)

    def _geo_recount(self) -> dict:
        """Per-tile zoom-0 counts of the same docs, recounted in DuckDB
        with the program's SQL twins."""
        import duckdb

        from mapchete_spark.functions.geo import lat_sql, lon_sql, tile_col_sql, tile_row_sql

        off = self.inputs.geo_offset
        con = duckdb.connect()
        try:
            rows = con.execute(
                f"SELECT {tile_row_sql('lat', '0')}, {tile_col_sql('lon', '0')}, count(*) "
                f"FROM (SELECT {lon_sql('doc_id')} AS lon, {lat_sql('doc_id')} AS lat "
                f"FROM range({off}, {off + self.geo_n}) t(doc_id)) GROUP BY ALL"
            ).fetchall()
        finally:
            con.close()
        return {(int(r), int(c)): int(n) for r, c, n in rows}

    def geo_layers(self) -> None:
        """Traced run: each layer materialized under its own job group."""
        from pyspark.sql import functions as F

        from mapchete_spark.operators.assign import assign_point_tiles
        from mapchete_spark.operators.pyramid import reduce_docs_to_tiles, rollup_to_zoom

        run = self.run
        docs = geo_docs(run.spark, self.inputs, self.geo_n)
        with run.group("assign.assign_point_tiles") as g:
            assigned = assign_point_tiles(docs, [GEO_ZOOM]).persist()
            n_out = assigned.agg(F.count(F.lit(1)), F.max("tile_key")).collect()[0][0]
        run.layer_time("assign.s", g.wall)
        run.layer_count("assign.rows_out", n_out)
        with run.group("pyramid.reduce_docs_to_tiles") as g_red:
            base = reduce_docs_to_tiles(assigned, {"n_docs": F.count(F.lit(1))}).persist()
            base.count()
        run.layer_time("pyramid.reduce_s", g_red.wall)
        with run.group("pyramid.rollup_to_zoom") as g_roll:
            rollup_to_zoom(base, GEO_ZOOM, 0, {"n_docs": F.sum("n_docs")}).collect()
        run.layer_time("pyramid.rollup_s", g_roll.wall)
        run.layer_count(
            "pyramid.shuffle_write_bytes",
            g_red.profile["shuffle_write_bytes"] + g_roll.profile["shuffle_write_bytes"],
            "bytes",
        )
        base.unpersist()
        assigned.unpersist()
        top = self._geo_pipeline(self.geo_n)
        with run.group("pyramid.plan"):
            top.collect()
            with run.tracer.probe():
                plan = top._jdf.queryExecution().executedPlan().toString()
        run.layer_count("pyramid.exchanges", plan.count("Exchange "))

    # ---- text pipeline ----------------------------------------------------

    def write_text_docs(self, n: int, path: str) -> str:
        """The seeded corpus as a parquet table, the shape jobs/corpus.py
        reads."""
        text_docs(self.run.spark, self.inputs, n).write.mode(
            "overwrite"
        ).parquet(path)
        return path

    def _text_pipeline(self, docs_path: str, out: str) -> None:
        """The jobs/corpus.py chain without its per-stage counts."""
        from pyspark.sql import functions as F

        from mapchete_spark.functions.chunking import chunk_spans
        from mapchete_spark.functions.repetition import repetition_stats
        from mapchete_spark.operators.dedup import dedup_exact
        from mapchete_spark.operators.sampling import stratified_sample
        from mapchete_spark.operators.sharding import assign_shards

        docs = self.run.spark.read.parquet(docs_path)
        keepers = dedup_exact(docs).select(F.col("keeper").alias("doc_id"))
        docs = docs.join(keepers, "doc_id")
        kept = repetition_stats(docs).where(F.col("gopher_keep")).select("doc_id")
        docs = stratified_sample(docs.join(kept, "doc_id"))
        shards = assign_shards(docs, shard_tokens=SHARD_TOKENS).select("doc_id", "shard_id")
        chunks = chunk_spans(docs).join(shards, "doc_id")
        chunks.write.mode("overwrite").partitionBy("shard_id").parquet(out)

    def text_pipeline(self) -> float:
        """One checked run of the chain; returns input docs/s."""
        with self.run.tracer.span("bench.text_pipeline"):
            t0 = time.perf_counter()
            self._text_pipeline(self.docs_path, self.chunks_out)
            rate = self.text_n / (time.perf_counter() - t0)
        self.run.op(self._check_text(), "text pipeline output")
        return rate

    def _check_text(self) -> bool:
        """Recompute the expected output in DuckDB from the input table
        (dedup keepers, the generator's repetitive docs dropped, the
        stratified sample through its SQL twin), then check the written
        shards."""
        import duckdb
        from pyspark.sql import functions as F

        from mapchete_spark.functions.spans import span_signature_col, with_spans
        from mapchete_spark.operators.sampling import stratified_sample_sql

        run = self.run
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW raw AS SELECT * FROM read_parquet('{self.docs_path}/*.parquet')"
            )
            con.execute(
                f"CREATE VIEW chunks AS SELECT * FROM read_parquet("
                f"'{self.chunks_out}/**/*.parquet', hive_partitioning = true)"
            )
            distinct = con.execute("SELECT count(DISTINCT md5(text)) FROM raw").fetchone()[0]
            con.execute(
                "CREATE TABLE documents AS SELECT r.* FROM raw r JOIN "
                "(SELECT min(doc_id) AS doc_id FROM raw GROUP BY md5(text)) USING (doc_id)"
            )
            survivors = con.execute("SELECT count(*) FROM documents").fetchone()[0]
            # the generator's repetitive docs repeat one word; no other
            # generated doc comes near a Gopher threshold
            con.execute(
                "CREATE OR REPLACE TABLE documents AS SELECT * FROM documents "
                "WHERE len(list_distinct(string_split(text, ' '))) > 1"
            )
            want = con.execute(stratified_sample_sql()).fetchall()
            con.execute(
                "CREATE OR REPLACE TABLE documents AS SELECT r.* FROM raw r "
                "JOIN (SELECT DISTINCT doc_id FROM chunks) USING (doc_id)"
            )
            got = con.execute(
                "SELECT lang, COUNT(*), CAST(SUM(doc_id) AS BIGINT), "
                "CAST(SUM(((doc_id % 1000000007) * (doc_id % 1000000007)) % 1000000007) "
                "AS BIGINT) FROM documents GROUP BY lang ORDER BY lang"
            ).fetchall()
            # every kept doc in exactly one shard, its chunk tokens summing
            # to its span cost: text spans (7-cycle positions 0, 2, 4, 6)
            # cost max(1, ceil(len / 4)), media spans 16
            bad = con.execute(
                """
                WITH per_doc AS (
                    SELECT doc_id, count(DISTINCT shard_id) AS n_shards,
                           sum(chunk_tokens) AS tokens
                    FROM chunks GROUP BY doc_id
                ), cost AS (
                    SELECT doc_id, list_sum(list_transform(string_split(text, ' '),
                        (w, i) -> CASE WHEN (i - 1) % 7 IN (0, 2, 4, 6)
                                       THEN greatest(1, (length(w) + 3) // 4)
                                       ELSE 16 END)) AS want
                    FROM documents
                )
                SELECT count(*) FROM per_doc JOIN cost USING (doc_id)
                WHERE n_shards <> 1 OR tokens <> want
                """
            ).fetchone()[0]
        finally:
            con.close()
        # span-sequence invariant across a Spark parquet round trip, on a
        # sample of the kept docs
        spark = run.spark
        kept = spark.read.parquet(self.docs_path).where(
            F.pmod(F.col("doc_id"), F.lit(50)) == 0
        )
        path = os.path.join(run.work, "spans_roundtrip")
        with_spans(kept).select(
            "doc_id", span_signature_col(F.col("spans")).alias("sig"), "spans"
        ).write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path)
        sig = back.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((span_signature_col(F.col("spans")) != F.col("sig")).cast("int")).alias("bad"),
        ).collect()[0]
        ok = survivors == distinct and want == got and bad == 0 and sig["n"] > 0
        ok = ok and sig["bad"] == 0
        if not ok:
            run.note(
                f"text checks: {survivors} dedup keepers vs {distinct} distinct texts; "
                f"kept per language {got} vs {want}; {bad} docs with wrong shards or "
                f"tokens; {sig['bad']}/{sig['n']} span signatures changed"
            )
        return ok

    def text_layers(self) -> None:
        """Traced run: each operator materialized under its own group."""
        from pyspark.sql import functions as F

        from mapchete_spark.functions.chunking import chunk_spans
        from mapchete_spark.functions.repetition import repetition_stats
        from mapchete_spark.operators.dedup import dedup_exact
        from mapchete_spark.operators.sampling import stratified_sample
        from mapchete_spark.operators.sharding import assign_shards

        run = self.run
        docs = run.spark.read.parquet(self.docs_path).persist()
        n_in = docs.count()
        with run.group("dedup.dedup_exact") as g:
            keepers = dedup_exact(docs).select(F.col("keeper").alias("doc_id"))
            d1 = docs.join(keepers, "doc_id").persist()
            n1 = d1.count()
        run.layer_time("dedup.exact_s", g.wall)
        run.layer_count("dedup.kept_ratio", n1 / n_in, "ratio")
        distinct = docs.select(F.md5("text")).distinct().count()
        run.op(n1 == distinct, f"dedup kept {n1} docs of {distinct} distinct texts")
        with run.group("repetition.repetition_stats") as g:
            kept = repetition_stats(d1).where(F.col("gopher_keep")).select("doc_id")
            d2 = d1.join(kept, "doc_id").persist()
            n2 = d2.count()
        run.layer_time("repetition.s", g.wall)
        run.layer_count("repetition.kept_ratio", n2 / max(1, n1), "ratio")
        with run.group("sampling.stratified_sample") as g:
            d3 = stratified_sample(d2).persist()
            n3 = d3.count()
        run.layer_time("sampling.s", g.wall)
        with run.group("sharding.assign_shards") as g:
            shards = assign_shards(d3, shard_tokens=SHARD_TOKENS)
            n_shards = shards.select("shard_id").distinct().count()
        run.layer_time("sharding.s", g.wall)
        run.layer_count("sharding.n_shards", n_shards)
        with run.group("chunking.chunk_spans") as g:
            n_chunks = chunk_spans(d3).agg(F.count(F.lit(1)), F.sum("chunk_tokens")).collect()[
                0
            ][0]
        run.layer_time("chunking.s", g.wall)
        run.layer_count("chunking.chunks_per_doc", n_chunks / max(1, n3), "ratio")
        for df in (d3, d2, d1, docs):
            df.unpersist()

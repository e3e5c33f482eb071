"""Seeded inputs for the benchmark.

Everything a run feeds the program is derived here from the workload's
strip width and the ``--seed`` argument, so the same seed always yields the same
AOI, resume strip, read keys and corpora. The program only ever sees the
generated configs, keys and DataFrames.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Iterator, List, Tuple

#: hillshade pyramid shape shared by every run: geodetic grid,
#: pixelbuffer 2, process zoom 7 with an ``average`` overview at zoom 6
ZOOM_MIN, ZOOM_MAX = 6, 7
#: base AOI in zoom-7 tiles (cols x rows); even sizes keep every zoom-6
#: parent wholly inside either the base or the resume strip
BASE_COLS, BASE_ROWS = 16, 2
#: zoom-7 tile size of the geodetic grid, in degrees
TILE_DEG = 180.0 / 2**ZOOM_MAX


#: the workloads: width in zoom-7 columns of the strip a resume run adds
#: to the 16-column base. 2 and 4 columns add 12.5% and 25% new zoom-7
#: tiles, near the two ends of the 10-30% a continue run is sized for.
#: Everything else is the same in both.
STRIPS = {"narrow_strip": 2, "wide_strip": 4}

#: read-key mix: 80% hits, 10% repeated keys, 10% misses
READ_REPEAT_SHARE, READ_MISS_SHARE = 0.10, 0.10
#: text corpus: shares of exact-duplicate and of repetitive-text docs.
#: Not taken from real corpora: each is large enough that dedup and the
#: quality filter drop a measurable part of the input.
DUP_SHARE, REPETITIVE_SHARE = 0.10, 0.10


@dataclass(frozen=True)
class RasterInputs:
    """Tile-aligned AOIs (left, bottom, right, top) for one run."""

    base: Tuple[float, float, float, float]
    wide: Tuple[float, float, float, float]


def raster_inputs(strip_cols: int, seed: int) -> RasterInputs:
    """Place the base AOI and its resume strip on the zoom-7 grid.

    Columns and rows are even, so zoom-6 parents never straddle the base
    and the strip. The strip goes east or west of the base; its width is
    fixed by the workload, so every seed does the same amount of work."""
    rng = random.Random(f"raster:{seed}")
    ncols, nrows = 2 * 2**ZOOM_MAX, 2**ZOOM_MAX
    margin = 8
    c0 = 2 * rng.randrange(
        (margin + strip_cols) // 2, (ncols - margin - BASE_COLS - strip_cols) // 2
    )
    r0 = 2 * rng.randrange(margin // 2, (nrows - margin - BASE_ROWS) // 2)
    c1, r1 = c0 + BASE_COLS, r0 + BASE_ROWS
    if rng.random() < 0.5:
        wc0, wc1 = c0, c1 + strip_cols
    else:
        wc0, wc1 = c0 - strip_cols, c1

    def bounds(ca, cb):
        return (
            -180.0 + ca * TILE_DEG,
            90.0 - r1 * TILE_DEG,
            -180.0 + cb * TILE_DEG,
            90.0 - r0 * TILE_DEG,
        )

    return RasterInputs(base=bounds(c0, c1), wide=bounds(wc0, wc1))


def read_keys(
    seed: int, hits: List[Tuple[int, int, int]], aoi
) -> Iterator[Tuple[str, Tuple[int, int, int]]]:
    """Endless seeded stream of (kind, (zoom, row, col)) for the closed
    read loop: ``hit`` keys walk a seeded permutation of the written
    tiles, ``repeat`` keys re-read one of the last eight keys, ``miss``
    keys lie outside the AOI."""
    rng = random.Random(f"reads:{seed}")
    order = list(hits)
    rng.shuffle(order)
    left, bottom, right, top = aoi
    recent: List[Tuple[int, int, int]] = []
    i = 0
    while True:
        u = rng.random()
        if u < READ_MISS_SHARE:
            z = rng.randint(ZOOM_MIN, ZOOM_MAX)
            ts = 180.0 / 2**z
            while True:
                row, col = rng.randrange(2**z), rng.randrange(2 * 2**z)
                x0, y1 = -180.0 + col * ts, 90.0 - row * ts
                if x0 + ts <= left or x0 >= right or y1 <= bottom or y1 - ts >= top:
                    break
            yield "miss", (z, row, col)
            continue
        if u < READ_MISS_SHARE + READ_REPEAT_SHARE and recent:
            yield "repeat", rng.choice(recent)
            continue
        key = order[i % len(order)]
        i += 1
        recent = (recent + [key])[-8:]
        yield "hit", key


@dataclass(frozen=True)
class CorpusInputs:
    geo_offset: int
    text_offset: int
    text_salt: int


def corpus_inputs(seed: int) -> CorpusInputs:
    rng = random.Random(f"corpus:{seed}")
    return CorpusInputs(
        geo_offset=rng.randrange(0, 1 << 40),
        text_offset=rng.randrange(0, 1 << 40),
        text_salt=rng.randrange(1, 1 << 30),
    )


#: languages of the text corpus (operators.sampling keeps en/de/fr/es/zh
#: at reduced rates and every other language whole)
LANGS = ("en", "de", "fr", "es", "zh", "pt", "it")
#: whitespace tokens per generated doc (about 100 bytes of text)
DOC_TOKENS = 18
#: duplicates copy the text of the first doc of their block of this size
DUP_BLOCK = 64


def text_docs(spark, inputs: CorpusInputs, n: int):
    """(doc_id, text, lang) docs built JVM-side by codegen.

    Text is a function of a content id: a seeded ``DUP_SHARE`` of docs
    take the content id of the first doc of their block, so they
    duplicate its text exactly; a seeded ``REPETITIVE_SHARE`` repeat one
    word, which the Gopher repetition filter rejects; the rest are
    ``DOC_TOKENS`` md5-derived 5-letter words."""
    from pyspark.sql import functions as F

    salt = F.lit(inputs.text_salt)
    doc_id = F.col("id") + F.lit(inputs.text_offset)

    def draw(tag: str):
        # uniform integer in [0, 10000) from (doc id, salt, tag)
        return F.pmod(F.xxhash64(F.col("id"), salt, F.lit(tag)), F.lit(10000))

    local = F.col("id")
    cid = F.when(
        draw("dup") < F.lit(int(DUP_SHARE * 10000)),
        local - F.pmod(local, F.lit(DUP_BLOCK)),
    ).otherwise(local)
    words = F.transform(
        F.sequence(F.lit(0), F.lit(DOC_TOKENS - 1)),
        lambda i: F.substring(F.md5(F.concat_ws(":", salt, F.col("cid"), i)), 1, 5),
    )
    repeated = F.array_repeat(
        F.substring(F.md5(F.concat_ws(":", salt, F.col("cid"))), 1, 5), DOC_TOKENS
    )
    repetitive = F.pmod(F.xxhash64(F.col("cid"), salt, F.lit("rep")), F.lit(10000)) < F.lit(
        int(REPETITIVE_SHARE * 10000)
    )
    langs = F.array(*[F.lit(x) for x in LANGS])
    return (
        spark.range(n)
        .withColumn("cid", cid)
        .select(
            doc_id.alias("doc_id"),
            F.concat_ws(" ", F.when(repetitive, repeated).otherwise(words)).alias("text"),
            F.element_at(langs, (draw("lang") % F.lit(len(LANGS)) + 1).cast("int")).alias(
                "lang"
            ),
        )
    )


def geo_docs(spark, inputs: CorpusInputs, n: int):
    """``n`` docs with consecutive ids from the seeded offset; lon/lat
    come from the program's own deterministic geo derivation."""
    from pyspark.sql import functions as F

    from mapchete_spark.functions.geo import with_geo

    return with_geo(
        spark.range(inputs.geo_offset, inputs.geo_offset + n).select(
            F.col("id").alias("doc_id")
        )
    )

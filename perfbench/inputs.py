"""Benchmark inputs, made from the seed.

``kg_bulk`` pages are a pure function of (size, seed variant): the seed
picks one of ``VARIANTS`` page-id ranges, so the same seed always gives
the same pages and the recorded output digests (``digests.json``) can be
checked for every seed. ``query_mix`` reads the ``documents`` and
``events`` tables of the sf0.1 (full) or sf0.001 (tiny) test data, copied
unchanged into ``data/``; its seed only picks the query order.
"""

from __future__ import annotations

import os

import pandas as pd

VARIANTS = 4

HERE = os.path.dirname(os.path.abspath(__file__))

# synthetic pages per kg pass, and the test-data tables of query_mix
SIZES = {
    "full": {"pages": 8000, "sf_dir": os.path.join(HERE, "data", "sf0.1")},
    "tiny": {"pages": 200, "sf_dir": os.path.join(HERE, "data", "sf0.001")},
}

_ID_STRIDE = 1_000_000  # variant v pages use synthetic ids v*stride + [0, n)


def variant(seed: int) -> int:
    return seed % VARIANTS


def page_id_ranges(n_pages: int, seed: int) -> list[tuple[int, int]]:
    """The fixture rows (ids below ``len(FIXTURE_NAMES)``) plus a
    seed-chosen range of ``n_pages`` synthetic page ids, as [lo, hi)."""
    from pdf_metadata_extraction_spark.sources.fixtures import FIXTURE_NAMES

    base = len(FIXTURE_NAMES) + variant(seed) * _ID_STRIDE
    return [(0, len(FIXTURE_NAMES)), (base, base + n_pages)]


def write_pages(spark, path: str, id_ranges: list[tuple[int, int]]) -> None:
    """The ``sources.pages_synth`` rows of the page ids in ``id_ranges``,
    written bucketed by url like ``pages_synth.write_pages`` (one file per
    url bucket)."""
    from pyspark.sql import functions as F

    from pdf_metadata_extraction_spark.sources.pages_synth import (
        N_BUCKETS,
        row_for_doc,
    )

    cols = ["url", "warc_ts", "html", "text", "lang"]

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                [row_for_doc(int(i)) for i in pdf["id"].values], columns=cols
            )

    n = spark.sparkContext.defaultParallelism
    ids_df = spark.range(*id_ranges[0])
    for lo, hi in id_ranges[1:]:
        ids_df = ids_df.union(spark.range(lo, hi))
    ids_df = ids_df.repartition(n)
    pages = ids_df.mapInPandas(
        gen, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).withColumn(
        "url_bucket", F.pmod(F.crc32(F.col("url")), F.lit(N_BUCKETS)).cast("int")
    )
    pages.repartition("url_bucket").write.mode("overwrite").partitionBy(
        "url_bucket"
    ).parquet(path)


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6

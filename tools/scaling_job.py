"""One scaling-bench run: the full KG pipeline at a given parallelism.

Invoked via spark-submit --py-files dist/pipeline.zip (north rule):
    spark-submit --master local[N] tools/scaling_job.py <pages_dir> [runs]

Prints one JSON line {"master": ..., "runs": [sec, ...], "pages": N}.
The pipeline is pages → fused extract+segment → entity link → edges
(count forces execution); run 1 is cold (python worker pools start),
run 2+ are warm.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    pages_dir = sys.argv[1]
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from pdf_metadata_extraction_spark.operators.linking import link_options
    from pdf_metadata_extraction_spark.operators.triples import edges_from_linked
    from pdf_metadata_extraction_spark.plans.pipeline import segments_from_pages

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    master = spark.sparkContext.master

    pages = spark.read.parquet(pages_dir).select("url", "html")
    n_pages = pages.count()
    n_bytes = pages.select(F.sum(F.length("html"))).collect()[0][0] or 0
    labels = [
        "United Nations", "General Assembly", "Security Council",
        "European Union", "World Bank", "Unesco",
        "united nations", "general assembly", "security council",
    ]
    options = spark.createDataFrame(
        [("mentions", lab, lab, True) for lab in labels],
        "extraction_name string, option_id string, label string, multi_value boolean",
    )

    runs = []
    edges = -1
    for _ in range(n_runs):
        t0 = time.monotonic()
        segs = segments_from_pages(pages).withColumn(
            "extraction_name", F.lit("mentions")
        )
        linked = link_options(segs, options).where(F.size("values") > 0)
        edges = edges_from_linked(linked).count()
        runs.append(round(time.monotonic() - t0, 3))

    print(json.dumps({
        "master": master, "pages": n_pages, "bytes": n_bytes,
        "edges": edges, "runs": runs,
    }))
    spark.stop()


if __name__ == "__main__":
    main()

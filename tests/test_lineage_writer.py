"""LineageWriter: lineage rows are driver-written files, row counts come
from the producing write, and old Spark-written lineage stays readable."""

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from pdf_metadata_extraction_spark.plans.lineage import LineageWriter
from pdf_metadata_extraction_spark.schemas import LINEAGE


def _jobs_of(spark, fn):
    """(fn(), number of Spark jobs fn started) — counted through a job
    group of its own."""
    sc = spark.sparkContext
    group = f"lineage-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_lineage_layer_starts_no_spark_jobs(spark, tmp_path):
    lw = LineageWriter(spark, str(tmp_path / "w"), "j1")

    _, n = _jobs_of(spark, lambda: lw.record("probe", 3, 2, 5))
    assert n == 0
    # durable on return: readable right away, no flush step
    rows = lw.read_lineage().collect()
    assert [(r["stage"], r["input_rows"], r["output_rows"]) for r in rows] == [
        ("probe", 3, 2)
    ]

    frames = {
        "narrow": spark.range(200).selectExpr("id", "id % 7 AS k"),
        "shuffled": spark.range(200).groupBy((F.col("id") % 7).alias("k")).count(),
    }
    for name, df in frames.items():
        _, plain = _jobs_of(
            spark, lambda: df.write.parquet(str(tmp_path / f"plain_{name}"))
        )
        out, n = _jobs_of(spark, lambda: lw.checkpoint_stage(name, df))
        assert n == plain, (name, n, plain)
        # the stage count is the one observed on the write: no re-scan
        n_rows, n = _jobs_of(spark, lambda: lw.rows(out))
        assert n == 0 and n_rows == df.count()
        row = [r for r in lw.read_lineage().collect() if r["stage"] == name]
        assert len(row) == 1 and row[0]["output_rows"] == n_rows

    # a stage reused from its marker has no observation: rows() counts
    again = lw.checkpoint_stage("narrow", frames["narrow"])
    n_rows, n = _jobs_of(spark, lambda: lw.rows(again))
    assert n_rows == 200 and n >= 1
    # ... and the reuse path records nothing
    assert sum(r["stage"] == "narrow" for r in lw.read_lineage().collect()) == 1


def test_partition_rows_sum_to_the_observed_count(spark, tmp_path):
    lw = LineageWriter(spark, str(tmp_path / "w"), "p1")
    df = spark.range(90).selectExpr("id", "CAST(id % 3 AS INT) AS salt")
    lw.checkpoint_stage("salted", df, partition_by=["salt"])
    rows = [r for r in lw.read_lineage().collect() if r["stage"] == "salted"]
    parts = {r["partition_range"]: r["output_rows"] for r in rows
             if r["partition_range"] != "all"}
    assert parts == {"salt=0": 30, "salt=1": 30, "salt=2": 30}
    (all_row,) = [r for r in rows if r["partition_range"] == "all"]
    assert all_row["output_rows"] == 90
    # one driver-written file per record() call plus one for the
    # partition rows, each renamed from its tmp name
    names = [f for f in os.listdir(lw.lineage_path) if f.endswith(".parquet")]
    assert len(names) == 2 and all(f.startswith("part-") for f in names)


def test_mixed_lineage_dir_reads_back(spark, tmp_path):
    """Work dirs written before lineage rows became driver-written files
    hold Spark-written lineage parquet; old and new files, next to a
    stray tmp file of a crashed record(), read back as one table."""
    from datetime import datetime, timezone

    lw = LineageWriter(spark, str(tmp_path / "w"), "m1")
    # the earlier format: a one-row Spark append
    spark.createDataFrame(
        [("m1", "old_stage", "all", 0, 1, 1, 10,
          datetime.now(timezone.utc).replace(tzinfo=None))],
        LINEAGE,
    ).coalesce(1).write.mode("append").parquet(lw.lineage_path)
    lw.record("new_stage", 4, 3, 20)
    lw.record("new_stage_2", 3, 2, 30)
    # a record() that died between its write and its rename: a complete
    # lineage file under its hidden tmp name
    stray = pa.Table.from_pylist(
        [{"run_id": "m1", "stage": "crashed", "partition_range": "all",
          "salt": 0, "input_rows": 9, "output_rows": 9, "wall_ms": 1,
          "ts": datetime.now(timezone.utc)}],
        schema=to_arrow_schema(LINEAGE),
    )
    pq.write_table(stray, os.path.join(lw.lineage_path, "_tmp-stray.parquet"))

    df = spark.read.parquet(lw.lineage_path)
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert not isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in LINEAGE
    ]
    rows = df.select(
        "stage", "output_rows", F.unix_timestamp("ts").alias("epoch")
    ).collect()
    assert sorted(r["stage"] for r in rows) == [
        "new_stage", "new_stage_2", "old_stage",
    ]
    now = time.time()
    assert all(abs(r["epoch"] - now) < 600 for r in rows), rows

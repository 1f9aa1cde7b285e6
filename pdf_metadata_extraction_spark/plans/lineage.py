"""Per-stage lineage + metrics rows and stage checkpoints (north rule).

Generalizes the reference's last-run metadata ``{timestamp,
sample_count}`` + gzip sample cache (/root/reference/src/use_cases/
SamplesCacheUseCase.py:13-76) to:

- ``lineage`` rows (schemas.LINEAGE): one row per (run_id, stage) with
  input/output counts, salt, wall time — a parquet (Iceberg in
  production) table under ``{root}/lineage`` so any run is auditable.
  Each ``record`` call is ONE small parquet file written by the driver
  (pyarrow, streamed through the Hadoop FileSystem API to a hidden
  ``_tmp-*`` name, then renamed to ``part-*``): no Spark job, no
  buffering — the row is on disk when ``record`` returns, so a crash
  loses no row of a completed stage, and a crash mid-write leaves only
  a ``_``-prefixed file every parquet reader skips. Files written by
  Spark (the earlier format) and by the driver read back as one table.
- **stage checkpoints**: ``checkpoint_stage`` writes a stage's output
  table under ``{root}/stages/{run_id}/{stage}``; a re-run with the
  same run_id reuses the materialized output instead of recomputing
  (the resumability requirement: any partition range resumes without
  recompute, since the checkpoint is partitioned like the input). The
  stage's row count comes from the producing write — a
  ``count(*)`` Observation on the written frame — never from a re-scan
  of the output; ``rows`` hands that count to callers. The reuse path
  records nothing.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from pdf_metadata_extraction_spark.operators import ckpt
from pdf_metadata_extraction_spark.schemas import LINEAGE

# ts is UTC-adjusted, so Spark reads it back as TIMESTAMP (not _NTZ),
# the type Spark-written lineage files carry
_ARROW_LINEAGE = to_arrow_schema(LINEAGE)


class LineageWriter:
    def __init__(self, spark: SparkSession, root: str, run_id: str) -> None:
        self.spark = spark
        self.root = root
        self.run_id = run_id
        self.lineage_path = os.path.join(root, "lineage")
        # id(frame) -> (frame, rows observed on its write); the frame is
        # kept so its id cannot be reused by another object
        self._observed: dict[int, tuple[DataFrame, int]] = {}

    def record(self, stage: str, input_rows: int, output_rows: int,
               wall_ms: int, partition_range: str = "all", salt: int = 0) -> None:
        self._append([(
            self.run_id, stage, partition_range, salt,
            input_rows, output_rows, wall_ms, datetime.now(timezone.utc),
        )])

    def _append(self, rows: list[tuple]) -> None:
        """Write ``rows`` as one parquet file of the lineage table: tmp
        name first, then a rename that must succeed."""
        table = pa.Table.from_pylist(
            [dict(zip(_ARROW_LINEAGE.names, r)) for r in rows],
            schema=_ARROW_LINEAGE,
        )
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        name = uuid.uuid4().hex
        fs, tmp = ckpt.fs_for(self.spark, f"{self.lineage_path}/_tmp-{name}.parquet")
        dst = self.spark._jvm.org.apache.hadoop.fs.Path(
            tmp.getParent(), f"part-{name}.parquet"
        )
        out = fs.create(tmp, False)
        try:
            out.write(bytearray(buf.getvalue().to_pybytes()))
        finally:
            out.close()
        if not fs.rename(tmp, dst):
            raise OSError(f"lineage: rename {tmp} -> {dst} failed")

    def rows(self, df: DataFrame) -> int:
        """Row count of ``df``: the count observed on its write when it is
        a frame ``checkpoint_stage`` wrote in this run, else ``count()``
        (a stage reused from its marker, or a frame never checkpointed)."""
        hit = self._observed.get(id(df))
        if hit is not None and hit[0] is df:
            return hit[1]
        return df.count()

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, "stages", self.run_id, stage)

    def checkpoint_stage(
        self,
        stage: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        input_rows: int = -1,
        partition_row_cap: int = 4096,
    ) -> DataFrame:
        """Materialize a stage's output; reuse it if already on disk.

        Cuts lineage (like ``df.checkpoint``) *and* survives driver
        restarts — the reference's sample-cache semantics, done with
        tables instead of gzip JSON.
        """
        path = self.stage_path(stage)
        marker = os.path.join(path, "_SUCCESS")
        # read back with the EXPLICIT schema: an empty stage output (a
        # legitimate result of aggressive gates — zero matches, all
        # pages dropped) writes no part files, and schema INFERENCE on
        # such a dir throws UNABLE_TO_INFER_SCHEMA; the plan's schema
        # is authoritative either way (and skipping inference is free)
        if os.path.exists(marker):
            return self.spark.read.schema(df.schema).parquet(path)
        t0 = time.monotonic()
        seen = Observation()
        writer = df.observe(seen, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        out = self.spark.read.schema(df.schema).parquet(path)
        wall_ms = int((time.monotonic() - t0) * 1000)
        out_rows = seen.get["n"]
        self._observed[id(out)] = (out, out_rows)
        self.record(
            stage,
            input_rows=input_rows,
            output_rows=out_rows,
            wall_ms=wall_ms,
        )
        if partition_by:
            # per-partition lineage rows (north rule: any partition
            # range is independently auditable/resumable) — one row per
            # partition value of the FIRST partition column. Capped so a
            # pathological layout can't flood the lineage table, but the
            # cap is NEVER silent: the tail beyond the cap is recorded
            # as one explicit __overflow__ aggregate row, so
            # sum(partition output_rows) == the 'all' row always holds
            # (the audited invariant). Partition rows carry ONLY
            # output_rows — stage-level input_rows/wall_ms are not
            # attributable per partition, so they stay null here and
            # live on the 'all' row.
            col = partition_by[0]
            cap = partition_row_cap
            head = out.groupBy(col).count().orderBy(col).limit(cap).collect()
            covered = sum(r["count"] for r in head)
            if covered > out_rows:
                raise RuntimeError(
                    f"lineage: stage {stage!r} partitions hold {covered} "
                    f"rows but its write produced {out_rows}"
                )
            now = datetime.now(timezone.utc)
            rows = [
                (
                    self.run_id, stage, f"{col}={r[col]}", 0,
                    None, r["count"], None, now,
                )
                for r in head
            ]
            if covered < out_rows:
                rows.append((
                    self.run_id, stage, f"{col}=__overflow__", 0,
                    None, out_rows - covered, None, now,
                ))
            if rows:
                self._append(rows)
        return out

    def read_lineage(self) -> DataFrame:
        return self.spark.read.parquet(self.lineage_path)

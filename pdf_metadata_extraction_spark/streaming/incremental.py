"""Streaming incremental dedup against a DURABLE corpus hash table —
the continuous-ingest face of ``operators/dedup.incremental_exact``.

``streaming/dedup.dedup_stream`` bounds its state by the watermark
horizon, so duplicates farther apart than the horizon pass through and
are left to the batch layer. This module closes that gap for the
pipeline that wants exact ingest-time dedup against EVERYTHING ever
accepted: each micro-batch classifies its rows against the persisted
hash table (corpus_dup / batch_dup / novel, min-id survivor) and
appends ONLY its novel hashes as a new hash-table partition — state
lives in parquet (Iceberg in production), not the streaming state
store, so it survives restarts, is unbounded by watermarks, and never
rewrites old state (append-only parts; at 10^12 accepted pages the
per-batch write is O(novel), the read is a partition-pruned scan of
the hash column only).

Failure/replay contract: Structured Streaming may re-run a micro-batch
after a crash. Both writes are keyed by ``batch_id`` (hive-style
``batch_id=N`` directories, overwritten whole on re-run), and the
corpus read EXCLUDES partitions ≥ the current batch_id — a replayed
batch therefore classifies against exactly the state its first attempt
saw and overwrites its own outputs: idempotent, no double-counted
hashes, no self-contamination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_incremental_dedup(
    pages_stream: DataFrame,
    work_dir: str,
    id_col: str = "url",
    text_col: str = "text",
    available_now: bool = True,
):
    """Start the incremental-dedup sink over a streaming pages frame.

    Layout under ``work_dir``:
    - ``classified/batch_id=N/`` — (id, text_hash, status) per batch;
    - ``hashes/batch_id=N/``     — that batch's NOVEL hashes (the
      append-only corpus hash table; the union of all partitions IS
      the corpus state);
    - ``ck/``                    — the stream checkpoint.

    Returns the started StreamingQuery.
    """
    from pdf_metadata_extraction_spark.operators import ckpt
    from pdf_metadata_extraction_spark.operators.dedup import (
        incremental_exact,
    )

    root = work_dir.rstrip("/")
    hash_dir = f"{root}/hashes"
    out_dir = f"{root}/classified"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        fs, jroot = ckpt.fs_for(sp, hash_dir)
        has_state = fs.exists(jroot) and len(fs.listStatus(jroot)) > 0
        if has_state:
            corpus = (
                sp.read.parquet(hash_dir)
                .where(F.col("batch_id") < batch_id)
                .select("text_hash")
            )
        else:
            corpus = sp.createDataFrame([], "text_hash string")
        classified, _ = incremental_exact(
            batch_df, corpus, id_col=id_col, text_col=text_col
        )
        classified.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )
        classified.sparkSession.read.parquet(
            f"{out_dir}/batch_id={batch_id}"
        ).where(F.col("status") == "novel").select("text_hash").write.mode(
            "overwrite"
        ).parquet(f"{hash_dir}/batch_id={batch_id}")

    writer = (
        pages_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{root}/ck")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_decontam_gate(
    pages_stream: DataFrame,
    eval_df: DataFrame,
    work_dir: str,
    id_col: str = "url",
    text_col: str = "text",
    n: int = 7,
    threshold_num: int = 1,
    threshold_den: int = 2,
    available_now: bool = True,
):
    """Streaming benchmark-decontamination gate: every micro-batch is
    judged against a STATIC eval suite and split into ``kept/`` and
    ``dropped/`` parquet sinks (dropped rows carry their contam_frac
    for audit).

    The eval n-gram set is derived ONCE at start and persisted — each
    batch pays only the broadcast join (operators/decontam: eval side
    broadcast, batch side map-only), not the gram derivation. Both
    sinks are ``batch_id``-keyed hive partitions overwritten whole on
    replay — the same idempotent re-run contract as the incremental
    dedup sink above.

    Layout: ``{work_dir}/kept/batch_id=N/`` (id, text),
    ``{work_dir}/dropped/batch_id=N/`` (id, contam_frac).
    """
    from pdf_metadata_extraction_spark.operators.decontam import (
        contamination,
        eval_ngram_set,
    )

    root = work_dir.rstrip("/")
    ev = eval_ngram_set(eval_df, id_col, text_col, n).persist()
    ev.count()  # eager: fill the cache before the first batch races it

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        rep = contamination(
            batch_df, None, id_col=id_col, text_col=text_col, n=n,
            threshold_num=threshold_num, threshold_den=threshold_den,
            eval_grams=ev,
        ).select(id_col, "contam_frac", "contaminated")
        judged = batch_df.select(id_col, text_col).join(rep, id_col)
        judged.where(F.col("contaminated") == 0).select(
            id_col, text_col
        ).write.mode("overwrite").parquet(f"{root}/kept/batch_id={batch_id}")
        judged.where(F.col("contaminated") == 1).select(
            id_col, "contam_frac"
        ).write.mode("overwrite").parquet(
            f"{root}/dropped/batch_id={batch_id}"
        )

    writer = (
        pages_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{root}/ck")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_distinct_sketch(
    pages_stream: DataFrame,
    work_dir: str,
    key_cols: list[str],
    value_col: str,
    p: int = 8,
    available_now: bool = True,
):
    """Streaming incremental cardinality: per micro-batch HLL registers
    appended as a ``batch_id``-keyed partition, plus a merged estimate
    snapshot after every batch — "distinct urls per host, ever" over a
    continuous crawl WITHOUT rescanning or even retaining the accepted
    pages (the register table is ≤ 2^p rows per key per batch, and the
    merge is a register-wise max).

    This is the sketch-mergeability contract made operational: state
    is parquet partitions (Iceberg in production), bounded, append-only;
    a replayed batch overwrites its own partition and merges exactly
    the partitions its first attempt saw (``batch_id <= N``) — the
    module's standard idempotent re-run contract.

    Layout: ``{work_dir}/registers/batch_id=N/`` (keys, bucket,
    register), ``{work_dir}/estimates/batch_id=N/`` (keys,
    zero_registers, est — the estimate as of batch N inclusive),
    ``{work_dir}/ck/`` — the stream checkpoint.

    Long-run note: register ROWS are bounded (≤ 2^p per key per batch)
    but the PARTITION COUNT grows one directory per batch — at 10^5
    batches the merge read lists 10^5 dirs (a small-files concern, not
    a data-volume one). Production compacts: periodically rewrite
    partitions < N as one merged ``batch_id=N-1`` table (register-max
    is associative, so compaction commutes with future merges) — the
    same maintenance an Iceberg table would schedule.
    """
    from pdf_metadata_extraction_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
        merge_registers,
    )

    root = work_dir.rstrip("/")
    reg_dir = f"{root}/registers"
    est_dir = f"{root}/estimates"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        regs = hll_registers(batch_df, key_cols, value_col, p=p)
        regs.write.mode("overwrite").parquet(
            f"{reg_dir}/batch_id={batch_id}"
        )
        merged = merge_registers(
            sp.read.parquet(reg_dir)
            .where(F.col("batch_id") <= batch_id)
            .drop("batch_id")
        )
        hll_estimate(merged, key_cols, p=p).write.mode("overwrite").parquet(
            f"{est_dir}/batch_id={batch_id}"
        )

    writer = (
        pages_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{root}/ck")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_registers(
    spark, work_dir: str, upto_batch: int
) -> None:
    """Compact the sketch sink's register partitions: merge every
    ``batch_id < upto_batch`` partition into ONE partition stored as
    ``batch_id = upto_batch - 1`` and delete the originals. Register-
    max is associative, so compaction commutes with all future merges
    and with replay (a replayed batch N >= upto_batch still reads
    exactly the state its first attempt saw — now in fewer files).

    This is the maintenance job the module docstring promises: rows
    were always bounded; this bounds the DIRECTORY count too. Write is
    tmp-then-rename via the Hadoop FileSystem API (works on file:/
    hdfs:/ s3a: alike, same as the CC checkpoint sidecars).
    """
    from pyspark.sql import functions as F

    from pdf_metadata_extraction_spark.operators import ckpt

    reg_dir = work_dir.rstrip("/") + "/registers"
    fs, jroot = ckpt.fs_for(spark, reg_dir)
    if not fs.exists(jroot):
        return
    Path = spark._jvm.org.apache.hadoop.fs.Path
    tmp = Path(f"{reg_dir}/_compact_tmp_{upto_batch}")
    target = Path(f"{reg_dir}/batch_id={upto_batch - 1}")

    def olds():
        return [
            s.getPath()
            for s in fs.listStatus(jroot)
            if s.getPath().getName().startswith("batch_id=")
            and int(s.getPath().getName().split("=", 1)[1]) < upto_batch
        ]

    def finish() -> None:
        # tmp holds the merged state of EVERY batch_id < upto_batch:
        # move it into the (already deleted) target, then drop the
        # originals it subsumes
        if not fs.rename(tmp, target):
            raise IOError(
                f"compact_registers: rename {tmp} -> {target} failed; "
                f"{target} is already deleted and its registers live only "
                f"in {tmp}: re-run compact_registers to finish"
            )
        for p in olds():
            if p.getName() != target.getName():
                fs.delete(p, True)

    # crash resume: a run that died between deleting the target and the
    # rename left a committed tmp and no target — the sink undercounts
    # until the rename is finished, so finish it before anything else
    # (a tmp without _SUCCESS died mid-write; the target still exists
    # then, or never did, and the compaction below redoes it)
    if (
        fs.exists(tmp)
        and not fs.exists(target)
        and fs.exists(Path(tmp, "_SUCCESS"))
    ):
        finish()
    if len(olds()) <= 1:
        return
    merged = (
        spark.read.parquet(reg_dir)
        .where(F.col("batch_id") < upto_batch)
        .drop("batch_id")
    )
    keys = [c for c in merged.columns if c != "register"]
    compacted = merged.groupBy(*keys).agg(
        F.max("register").alias("register")
    )
    compacted.write.mode("overwrite").parquet(tmp.toString())
    # crash-safety (round-7 ADVICE): shrink the unsafe window to the
    # single colliding partition. Delete ONLY batch_id=upto_batch-1
    # (the rename target), rename tmp into place and REFUSE silently-
    # failed renames, and only then drop the other old partitions —
    # the merged estimate equals the originals at every intermediate
    # state except between target-delete and rename, and a crash in
    # that window is finished by the resume step above on the next call.
    fs.delete(target, True)
    finish()

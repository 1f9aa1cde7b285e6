"""applyInPandasWithState crawl sessionization — driven end-to-end with
an availableNow file-source stream (state survives across micro-batches)."""

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

FEED_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("fingerprint", T.StringType()),
    ]
)


def test_crawl_sessions_stateful(spark, tmp_path):
    from pdf_metadata_extraction_spark.streaming.stateful import crawl_sessions

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    rows = [
        # domain a: two bursts separated by > 30 min → 2 sessions
        {"domain": "a", "ts": "2021-01-01T00:00:00", "fingerprint": "f1"},
        {"domain": "a", "ts": "2021-01-01T00:05:00", "fingerprint": "f2"},
        {"domain": "a", "ts": "2021-01-01T00:06:00", "fingerprint": "f1"},  # dup doc
        {"domain": "a", "ts": "2021-01-01T02:00:00", "fingerprint": "f3"},
        # domain b: single burst
        {"domain": "b", "ts": "2021-01-01T00:00:00", "fingerprint": "g1"},
    ]
    (feed_dir / "part1.jsonl").write_text("\n".join(json.dumps(r) for r in rows))

    stream = (
        spark.readStream.schema(FEED_SCHEMA).json(str(feed_dir))
    )
    out_dir = str(tmp_path / "out")
    q = (
        crawl_sessions(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out_dir).collect()
    by_key = {(r["domain"], r["session_id"]): r for r in got}
    s0 = by_key[("a", 0)]
    assert s0["n_pages"] == 3 and s0["n_distinct_docs"] == 2 and s0["closed"]
    s1 = by_key[("a", 1)]
    assert s1["n_pages"] == 1 and not s1["closed"]
    assert by_key[("b", 0)]["n_pages"] == 1


def test_pages_to_crawl_feed_shape(spark):
    from pdf_metadata_extraction_spark.sources.pages_synth import generate_pages
    from pdf_metadata_extraction_spark.streaming.stateful import pages_to_crawl_feed

    feed = pages_to_crawl_feed(generate_pages(spark, 12, partitions=2))
    rows = feed.collect()
    assert len(rows) == 12
    assert all(r["domain"] and r["fingerprint"] for r in rows)
    assert feed.schema.simpleString() == (
        "struct<domain:string,ts:timestamp,fingerprint:string>"
    )


def test_mega_domain_state_stays_bounded():
    """A domain with 200k pages / 150k distinct docs must keep EXACTLY
    the same state size as a tiny one (8 KiB sketch), with the distinct
    estimate within a few % — the round-1 exact-set state grew without
    bound. Kernel-level drive with a mock GroupState (no Spark needed)."""
    import pandas as pd

    from pdf_metadata_extraction_spark.streaming import stateful

    class MockState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    state = MockState()
    # 1M events; distinct kept inside the sketch's documented accuracy
    # envelope (~m/2 = 32k) — beyond that the module says "swap for HLL"
    n, distinct = 1_000_000, 30_000
    ts = pd.to_datetime(1_600_000_000 + pd.Series(range(n)), unit="s")
    fps = [f"fp{i % distinct}" for i in range(n)]
    pdf = pd.DataFrame({"ts": ts, "fingerprint": fps})
    out = list(stateful._sessionize(("mega",), iter([pdf]), state))
    row = out[0].iloc[-1]
    assert row["n_pages"] == n
    assert abs(row["n_distinct_docs"] - distinct) / distinct < 0.05
    # the whole point: state is the fixed-size sketch, not the fp set
    assert len(state.get[2]) == stateful._SKETCH_BYTES  # 8 KiB

    # feed a second batch 2h later → session closes, sketch resets
    pdf2 = pd.DataFrame(
        {"ts": pd.to_datetime([1_600_000_000 + n + 7200], unit="s"),
         "fingerprint": ["fresh"]}
    )
    out2 = list(stateful._sessionize(("mega",), iter([pdf2]), state))
    rows2 = out2[0]
    closed = rows2[rows2["closed"]].iloc[0]
    assert closed["n_pages"] == n
    open_ = rows2[~rows2["closed"]].iloc[0]
    assert open_["n_pages"] == 1 and open_["n_distinct_docs"] == 1
    assert len(state.get[2]) == stateful._SKETCH_BYTES


def test_windowed_event_counts_watermark_stream(spark, tmp_path):
    """Event-time tumbling window + watermark, driven as a real stream
    (two files = two micro-batches, second batch carries a late event).
    Append mode emits only finalized windows; batch equivalence pinned
    against the same aggregation run as a plain DataFrame."""
    import json as _json

    from pdf_metadata_extraction_spark.streaming.windows import (
        windowed_event_counts,
    )

    feed = tmp_path / "evfeed"
    feed.mkdir()
    rows1 = [
        {"ts": "2021-01-01T00:10:00", "event_type": "a", "value": 1.0},
        {"ts": "2021-01-01T00:50:00", "event_type": "a", "value": 3.0},
        {"ts": "2021-01-01T01:10:00", "event_type": "b", "value": 5.0},
    ]
    # batch 2: advances event time to 03:10 (watermark → 02:40, hour-0
    # and hour-1 windows finalize) + one late-but-inside-watermark event
    rows2 = [
        {"ts": "2021-01-01T03:10:00", "event_type": "a", "value": 7.0},
        {"ts": "2021-01-01T01:20:00", "event_type": "b", "value": 9.0},
    ]
    (feed / "b1.jsonl").write_text("\n".join(_json.dumps(r) for r in rows1))

    schema = "ts timestamp, event_type string, value double"
    out_dir = str(tmp_path / "winout")
    ckpt = str(tmp_path / "winckpt")

    def run_once():
        q = (
            windowed_event_counts(spark.readStream.schema(schema).json(str(feed)))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()  # batch 1: nothing finalized yet (watermark still low)
    (feed / "b2.jsonl").write_text("\n".join(_json.dumps(r) for r in rows2))
    run_once()  # batch 2: hours 0 and 1 finalize and emit

    got = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["avg_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got[("2021-01-01 00:00:00", "a")] == (2, 2.0)
    # the late 01:20 'b' event landed inside the watermark → counted
    assert got[("2021-01-01 01:00:00", "b")] == (2, 7.0)
    # hour-3 window is NOT emitted (not yet finalized) in append mode
    assert not any(k[0].startswith("2021-01-01 03") for k in got)

    # batch equivalence on the finalized windows: same operator over the
    # static files agrees where windows are complete
    batch = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["avg_value"])
        for r in windowed_event_counts(
            spark.read.schema(schema).json(str(feed))
        ).collect()
    }
    for k, v in got.items():
        assert batch[k] == v


def test_streaming_incremental_dedup_durable_state(spark, tmp_path):
    """Round-5: continuous ingest dedup against a DURABLE corpus hash
    table — micro-batch N classifies against all hashes accepted by
    batches < N (no watermark horizon), novel hashes append as a new
    partition, and the state survives a full stream RESTART (a new
    query over the same work_dir keeps deduping against everything
    ever accepted)."""
    import json

    from pdf_metadata_extraction_spark.streaming.incremental import (
        run_incremental_dedup,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = T.StructType(
        [T.StructField("url", T.StringType()),
         T.StructField("text", T.StringType())]
    )
    (feed / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in [
        {"url": "u1", "text": "alpha page"},
        {"url": "u2", "text": "ALPHA   page"},   # dup within the batch
        {"url": "u3", "text": "beta page"},
    ]))
    (feed / "b2.jsonl").write_text("\n".join(json.dumps(r) for r in [
        {"url": "u4", "text": "alpha page"},     # dup of an EARLIER batch
        {"url": "u5", "text": "gamma page"},
    ]))
    work = str(tmp_path / "inc")

    def start():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).json(str(feed))
        return run_incremental_dedup(stream, work)

    q = start()
    q.awaitTermination(180)
    got = {r["id"]: r["status"]
           for r in spark.read.parquet(f"{work}/classified").collect()}
    assert got["u1"] == "novel" and got["u2"] == "batch_dup"
    assert got["u3"] == "novel"
    assert got["u4"] == "corpus_dup"  # crossed the micro-batch boundary
    assert got["u5"] == "novel"
    hashes = spark.read.parquet(f"{work}/hashes")
    assert hashes.count() == 3  # alpha, beta, gamma — one row per novel

    # restart: a NEW query over the same work_dir sees the old state
    (feed / "b3.jsonl").write_text("\n".join(json.dumps(r) for r in [
        {"url": "u6", "text": "beta page"},      # dup across the restart
        {"url": "u7", "text": "delta page"},
    ]))
    q2 = start()
    q2.awaitTermination(180)
    got2 = {r["id"]: r["status"]
            for r in spark.read.parquet(f"{work}/classified").collect()}
    assert got2["u6"] == "corpus_dup"
    assert got2["u7"] == "novel"
    assert spark.read.parquet(f"{work}/hashes").count() == 4


def test_streaming_decontam_gate(spark, tmp_path):
    """Round-5: the benchmark-decontamination gate as a streaming sink —
    a verbatim eval copy arriving in any micro-batch lands in dropped/
    with its contam_frac; clean pages land in kept/; the eval gram set
    is static across batches."""
    import json

    from pdf_metadata_extraction_spark.streaming.incremental import (
        run_decontam_gate,
    )

    leaked = ("this exact benchmark prompt sentence must never appear "
              "inside the training corpus at all")
    clean = ("a perfectly ordinary page of prose with enough words to "
             "carry several n grams of its own")
    feed = tmp_path / "feed"
    feed.mkdir()
    schema = T.StructType(
        [T.StructField("url", T.StringType()),
         T.StructField("text", T.StringType())]
    )
    (feed / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in [
        {"url": "u1", "text": clean},
        {"url": "u2", "text": leaked},
    ]))
    (feed / "b2.jsonl").write_text(json.dumps(
        {"url": "u3", "text": clean + " with a distinct tail"}
    ))
    eval_df = spark.createDataFrame(
        [("e1", leaked)], "url string, text string"
    )
    work = str(tmp_path / "gate")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(feed))
    q = run_decontam_gate(stream, eval_df, work)
    q.awaitTermination(180)

    kept = {r["url"] for r in spark.read.parquet(f"{work}/kept").collect()}
    dropped = {r["url"]: r["contam_frac"]
               for r in spark.read.parquet(f"{work}/dropped").collect()}
    assert kept == {"u1", "u3"}
    assert set(dropped) == {"u2"} and dropped["u2"] == 1.0


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps the first page per text hash
    across micro-batches with BOUNDED state (watermark horizon)."""
    from pdf_metadata_extraction_spark.streaming.dedup import dedup_stream

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("text", T.StringType()),
        ]
    )
    batch1 = [
        {"url": "u1", "ts": "2021-01-01T00:00:00", "text": "Hello  World"},
        {"url": "u2", "ts": "2021-01-01T00:01:00", "text": "hello world"},  # ws/case dup
        {"url": "u3", "ts": "2021-01-01T00:02:00", "text": "something else"},
    ]
    batch2 = [
        {"url": "u4", "ts": "2021-01-01T00:10:00", "text": "HELLO   world"},  # dup, later batch
        {"url": "u5", "ts": "2021-01-01T00:11:00", "text": "a brand new page"},
    ]
    (feed_dir / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in batch1))
    (feed_dir / "b2.jsonl").write_text("\n".join(json.dumps(r) for r in batch2))

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(feed_dir))
    out_dir = str(tmp_path / "out")
    q = (
        dedup_stream(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(r["url"] for r in spark.read.parquet(out_dir).collect())
    # one survivor per hash: u1 (first 'hello world'), u3, u5
    assert got == ["u1", "u3", "u5"]


def test_streaming_distinct_sketch(spark, tmp_path):
    """Round-6: incremental HLL cardinality as a streaming sink — the
    merged register state after the last batch equals the batch-built
    sketch of the union (mergeability), overlapping values across
    batches are not double-counted, and a per-batch estimate snapshot
    materializes."""
    import json

    from pdf_metadata_extraction_spark.operators.sketch import (
        distinct_estimate,
        hll_registers,
    )
    from pdf_metadata_extraction_spark.streaming.incremental import (
        run_distinct_sketch,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = T.StructType(
        [T.StructField("host", T.StringType()),
         T.StructField("url", T.StringType())]
    )
    b1 = [{"host": "h1", "url": f"u{i}"} for i in range(120)]
    # batch 2 overlaps 60 of batch 1's urls and adds 80 new ones
    b2 = [{"host": "h1", "url": f"u{i}"} for i in range(60, 260, 1)][:140]
    (feed / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in b1))
    (feed / "b2.jsonl").write_text("\n".join(json.dumps(r) for r in b2))
    work = str(tmp_path / "sk")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(feed))
    q = run_distinct_sketch(stream, work, ["host"], "url", p=6)
    q.awaitTermination(180)

    whole = spark.createDataFrame(
        [(r["host"], r["url"]) for r in b1 + b2], "host string, url string"
    )
    expect_regs = hll_registers(whole, ["host"], "url", p=6)
    merged = (
        spark.read.parquet(f"{work}/registers")
        .drop("batch_id")
        .groupBy("host", "bucket")
        .agg(F.max("register").alias("register"))
    )
    assert merged.subtract(expect_regs).count() == 0
    assert expect_regs.subtract(merged).count() == 0

    ests = spark.read.parquet(f"{work}/estimates")
    last = ests.where("batch_id = 1").collect()[0]
    batch_est = distinct_estimate(whole, ["host"], "url", p=6).collect()[0]
    assert last["est"] == batch_est["est"]
    assert ests.where("batch_id = 0").count() == 1


def test_streaming_sketch_compaction_preserves_state(spark, tmp_path):
    """compact_registers merges all pre-N partitions into batch_id=N-1
    and deletes the originals; the merged state (and therefore every
    future estimate) is unchanged — register-max is associative."""
    import json

    from pdf_metadata_extraction_spark.operators.sketch import (
        hll_registers,
    )
    from pdf_metadata_extraction_spark.streaming.incremental import (
        compact_registers,
        run_distinct_sketch,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = T.StructType(
        [T.StructField("host", T.StringType()),
         T.StructField("url", T.StringType())]
    )
    allrows = []
    for b in range(3):
        rows = [{"host": "h", "url": f"u{b}-{i}"} for i in range(50)]
        allrows += rows
        (feed / f"b{b}.jsonl").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )
    work = str(tmp_path / "sk")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(feed))
    run_distinct_sketch(stream, work, ["host"], "url", p=5)\
        .awaitTermination(180)

    compact_registers(spark, work, upto_batch=2)
    import os

    parts = sorted(
        d for d in os.listdir(f"{work}/registers")
        if d.startswith("batch_id=")
    )
    assert parts == ["batch_id=1", "batch_id=2"], parts
    whole = spark.createDataFrame(
        [(r["host"], r["url"]) for r in allrows], "host string, url string"
    )
    expect = hll_registers(whole, ["host"], "url", p=5)
    merged = (
        spark.read.parquet(f"{work}/registers")
        .drop("batch_id")
        .groupBy("host", "bucket")
        .agg(F.max("register").alias("register"))
    )
    assert merged.subtract(expect).count() == 0
    assert expect.subtract(merged).count() == 0


def test_compact_registers_resumes_after_crash_before_rename(spark, tmp_path):
    """A compaction killed between deleting batch_id=N-1 and renaming
    its tmp into place leaves the sink undercounting; the next
    compact_registers call finishes the rename first, so the merged
    estimate equals the uncompacted sink's."""
    import os
    import shutil

    from pdf_metadata_extraction_spark.operators.sketch import (
        hll_estimate,
        merge_registers,
    )
    from pdf_metadata_extraction_spark.streaming.incremental import (
        compact_registers,
        run_distinct_sketch,
    )

    feed = tmp_path / "feed"
    feed.mkdir()
    schema = T.StructType(
        [T.StructField("host", T.StringType()),
         T.StructField("url", T.StringType())]
    )
    for b in range(3):
        (feed / f"b{b}.jsonl").write_text("\n".join(
            json.dumps({"host": "h", "url": f"u{b}-{i}"}) for i in range(50)
        ))
    work = str(tmp_path / "sk")
    reg_dir = f"{work}/registers"
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(feed))
    run_distinct_sketch(stream, work, ["host"], "url", p=5)\
        .awaitTermination(180)

    def merged_est():
        regs = spark.read.parquet(reg_dir).drop("batch_id")
        return hll_estimate(merge_registers(regs), ["host"], p=5).collect()[0]["est"]

    clean = merged_est()
    # the on-disk state of the crash: committed tmp, target deleted
    (
        spark.read.parquet(reg_dir).where("batch_id < 2").drop("batch_id")
        .groupBy("host", "bucket").agg(F.max("register").alias("register"))
        .write.parquet(f"{reg_dir}/_compact_tmp_2")
    )
    shutil.rmtree(f"{reg_dir}/batch_id=1")
    assert merged_est() != clean  # the window this test closes

    compact_registers(spark, work, upto_batch=2)
    assert sorted(
        d for d in os.listdir(reg_dir) if not d.startswith(".")
    ) == ["batch_id=1", "batch_id=2"]  # tmp renamed, batch 0 dropped
    assert merged_est() == clean

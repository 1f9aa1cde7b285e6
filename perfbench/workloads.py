"""The benchmark's workloads: one closed-loop pass each, with output checks
and, in traced mode, the per-layer breakdown.

``kg_bulk``   ``plans.kg_run.run_kg_pipeline`` with its default stages over
              synthetic pages; one operation = one pass.
``query_mix`` a fixed set of registered ``__spark_entry__.queries()`` over
              the sf0.1 test tables, in seed order; one operation = one
              query.

Each workload runs a fixed number of passes, so that ``wall_s`` is taken
over the same pass positions on every commit, and declares the per-layer
metrics it measures (``layers``); the traced run fails if one of them is
missing, or zero without being listed in ``ZERO_OK``.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from inputs import SIZES, dir_mb, page_id_ranges, write_pages

UN_URL = "https://fixtures.example.org/un_note"
KG_STAGES = ["segments", "linked", "edges", "edges_dedup", "nodes"]
QUERIES = [
    "graph_hits", "minhash_dup_pairs",
    "url_canonicalize", "w4_sessionize", "hourly_event_agg",
    "kg_mention_triples",
]
KERNEL_SAMPLE_PAGES = 200
PREFIX_REPEATS = 3  # each noop-sink prefix is the median of this many runs

# per-layer metrics a healthy traced run may report as exactly 0
ZERO_OK = {"spark.spill_mb", "spark.failed_tasks"}
_SESSION_LAYERS = "session.build_s session.peak_rss_mb inputs.gen_s inputs.mb".split()
_ENGINE_LAYERS = (
    "spark.jobs spark.executor_run_s spark.executor_cpu_s spark.shuffle_read_mb "
    "spark.shuffle_write_mb spark.spill_mb spark.peak_exec_mem_mb spark.tasks "
    "spark.failed_tasks spark.no_job_s trace.overhead_s"
).split()


def digest(df) -> list[int]:
    """Order-independent digest of a DataFrame: [rows, xor of row hashes,
    sum of row hashes mod a prime]. Computing it evaluates every column."""
    from pyspark.sql import functions as F

    r = (
        df.select(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).alias("_h"))
        .agg(
            F.count("*"),
            F.expr("bit_xor(_h)"),
            F.sum(F.pmod("_h", F.lit(2147483647))),
        )
        .collect()[0]
    )
    return [int(r[0]), int(r[1] or 0), int(r[2] or 0)]


@dataclass
class PassResult:
    wall: float
    attempted: int
    failed: int
    op_times: dict = field(default_factory=dict)
    lineage: dict = field(default_factory=dict)
    span: dict | None = None


class Checker:
    """Compares digests with the ones recorded for the seed's input
    variant; in record mode it stores them instead."""

    def __init__(self, recorded: dict, key: str, record: bool, corrupt: bool):
        self.key = key
        self.record = record
        self.corrupt = corrupt
        self.expected = recorded.setdefault(key, {}) if record else recorded.get(key, {})

    def ok(self, part: str, got: list[int]) -> bool:
        if self.record and part not in self.expected:
            self.expected[part] = got
            return True
        want = self.expected.get(part)
        if want is not None and self.corrupt:
            want = [want[0] + 1, *want[1:]]
        if want != got:
            print(f"# digest mismatch {self.key}/{part}: want {want} got {got}",
                  file=sys.stderr)
            return False
        return True


class KgBulk:
    name = "kg_bulk"
    seeded_inputs = True  # the seed picks the page-id range
    passes = 1  # one cold pass fills the run: wall_s = first_pass_s
    wall_from = 0
    layers = _SESSION_LAYERS + _ENGINE_LAYERS + [
        "scan.prefix_s", "segments.prefix_s", "segments.rows",
        "extract.tokenize_ms_per_page", "segment.segment_ms_per_page",
        "linking.prefix_s", "linking.match_ms_per_segment", "linking.hit_ratio",
        "triples.prefix_s", "triples.edges", "canonicalize.s",
        "canonicalize.cc_rounds", "canonicalize.input_rows",
        "lineage.checkpoint_s", "lineage.checkpoint_calls", "lineage.record_s",
        "lineage.record_calls", "kg_run.driver_s", "kg_run.spark_jobs",
        "kg_run.jobs_per_stage", *(f"stage.{st}_s" for st in KG_STAGES),
    ]

    def __init__(self, spark, work: str, seed: int, size: str, checker: Checker):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.checker = checker
        self.pages_dir = os.path.join(work, "pages")

    def setup(self) -> None:
        import __spark_entry__ as E

        self.id_ranges = page_id_ranges(SIZES[self.size]["pages"], self.seed)
        write_pages(self.spark, self.pages_dir, self.id_ranges)
        self.pages = self.spark.read.parquet(self.pages_dir).select("url", "html")
        self.labels = list(E.FLAGSHIP_LABELS)
        self.options = self.spark.createDataFrame(
            [("mentions", lab, lab, True) for lab in self.labels],
            "extraction_name string, option_id string, label string, "
            "multi_value boolean",
        )
        self.n_items = sum(hi - lo for lo, hi in self.id_ranges)
        self.input_mb = dir_mb(self.pages_dir)

    def run_pass(self, i: int, tracer=None, keep_lineage: bool = False) -> PassResult:
        from pyspark.sql import functions as F

        from pdf_metadata_extraction_spark.plans import kg_run

        wd = os.path.join(self.work, f"kg_pass_{i}")
        ctx = tracer.span("kg_run.run_kg_pipeline") if tracer else nullcontext()
        t0 = time.perf_counter()
        try:
            with ctx as span:
                out = kg_run.run_kg_pipeline(
                    self.spark, self.pages, self.options, wd, run_id="bench"
                )
            wall = time.perf_counter() - t0
            ok = True
            for part in ("edges_dedup", "nodes"):
                ok &= self.checker.ok(part, digest(out[part]))
            un = out["edges_dedup"].where(
                (F.col("subj") == UN_URL) & (F.col("obj") == "United Nations")
            ).count()
            if un == 0:
                print("# kg_bulk: un_note lost its United Nations edge",
                      file=sys.stderr)
                ok = False
            lineage = {}
            if keep_lineage:
                lineage = {
                    r["stage"]: r["output_rows"]
                    for r in self.spark.read.parquet(os.path.join(wd, "lineage"))
                    .where("partition_range = 'all'").collect()
                }
            return PassResult(wall, 1, 0 if ok else 1, {}, lineage, span)
        except Exception:
            traceback.print_exc()
            return PassResult(time.perf_counter() - t0, 1, 1)
        finally:
            shutil.rmtree(wd, ignore_errors=True)

    # ------------------------------------------------------------ traced run
    def install(self, tracer) -> None:
        from pdf_metadata_extraction_spark.plans import kg_run
        from pdf_metadata_extraction_spark.plans.lineage import LineageWriter

        def stage_of(args, kwargs):
            return args[1] if len(args) > 1 else kwargs["stage"]

        tracer.wrap(LineageWriter, "checkpoint_stage",
                    lambda a, k: ("lineage.checkpoint_stage", {"stage": stage_of(a, k)}))
        tracer.wrap(LineageWriter, "record",
                    lambda a, k: ("lineage.record", {"stage": stage_of(a, k)}))
        tracer.wrap(kg_run, "canonicalize", lambda a, k: ("canonicalize", {}))

    def layer_metrics(self, tracer, traced: PassResult) -> dict[str, float]:
        root = traced.span
        spans = tracer.descendants(root)
        ckpt = [s for s in spans if s["name"] == "lineage.checkpoint_stage"]
        recs = [s for s in spans if s["name"] == "lineage.record"]
        canon = [s for s in spans if s["name"] == "canonicalize"]
        in_canon = {x["id"] for c in canon for x in tracer.descendants(c)}
        d = tracer.duration
        m = {
            "kg_run.driver_s": tracer.self_time(root),
            "lineage.checkpoint_s": sum(tracer.self_time(s) for s in ckpt),
            "lineage.checkpoint_calls": float(len(ckpt)),
            "lineage.record_s": sum(d(s) for s in recs),
            "lineage.record_calls": float(len(recs)),
            "canonicalize.s": sum(d(s) for s in canon),
            "canonicalize.cc_rounds": float(sum(
                1 for s in recs
                if s["id"] in in_canon and s["stage"].startswith("cc_round_")
            )),
        }
        by_stage = {s["stage"]: d(s) for s in ckpt}
        for st in KG_STAGES:
            m[f"stage.{st}_s"] = by_stage.get(st, 0.0)
        lin = traced.lineage
        m["segments.rows"] = float(lin.get("segments", 0))
        m["triples.edges"] = float(lin.get("edges", 0))
        m["canonicalize.input_rows"] = float(lin.get("nodes", 0))
        m["linking.hit_ratio"] = (
            lin.get("linked", 0) / lin["segments"] if lin.get("segments") else 0.0
        )
        engine = tracer.engine_metrics(spans)
        m.update(engine)
        m["kg_run.spark_jobs"] = engine["spark.jobs"]
        m["kg_run.jobs_per_stage"] = engine["spark.jobs"] / max(len(ckpt), 1)
        return m

    def prefix_metrics(self, tracer) -> dict[str, float]:
        """Noop-sink prefixes of the flagship chain: scan, +segments, +link,
        +triples, each the median of ``PREFIX_REPEATS`` interleaved runs.
        Each layer's cost is the difference of two prefixes."""
        from pyspark.sql import functions as F

        from pdf_metadata_extraction_spark.operators.linking import link_options
        from pdf_metadata_extraction_spark.operators.triples import triples_to_edges
        from pdf_metadata_extraction_spark.plans.pipeline import segments_from_pages

        segs = segments_from_pages(self.pages).withColumn(
            "extraction_name", F.lit("mentions")
        )
        linked = link_options(segs, self.options).where(F.size("values") > 0)
        edges = triples_to_edges(
            linked.select(
                F.lit("bench").alias("run_name"), "extraction_name", "url",
                F.col("url").alias("entity_name"),
                F.lit(None).cast("string").alias("text"), "values",
                F.col("text").alias("segment_text"),
                F.col("page").alias("page_number"),
                F.col("boxes").alias("segments_boxes"),
            )
        )
        runs: dict[str, list[float]] = {}
        for _ in range(PREFIX_REPEATS):
            for name, df in (("scan", self.pages), ("segments", segs),
                             ("linking", linked), ("triples", edges)):
                with tracer.span(f"prefix.{name}") as s:
                    df.write.format("noop").mode("overwrite").save()
                runs.setdefault(name, []).append(tracer.duration(s))
        t = {name: statistics.median(v) for name, v in runs.items()}
        return {
            "scan.prefix_s": t["scan"],
            "segments.prefix_s": t["segments"] - t["scan"],
            "linking.prefix_s": t["linking"] - t["segments"],
            "triples.prefix_s": t["triples"] - t["linking"],
        }

    def kernel_metrics(self, reps: int = 3) -> dict[str, float]:
        """In-process timing of the pure-python kernels on a fixed sample
        of this seed's pages: the python-side cost without JVM or Arrow."""
        from pdf_metadata_extraction_spark.operators.extract import tokenize_bytes
        from pdf_metadata_extraction_spark.operators.linking import match_options
        from pdf_metadata_extraction_spark.operators.segment import segment_doc
        from pdf_metadata_extraction_spark.sources.pages_synth import row_for_doc

        lo, hi = self.id_ranges[-1]
        htmls = [row_for_doc(i)["html"] for i in range(lo, min(hi, lo + KERNEL_SAMPLE_PAGES))]
        opts = [(lab, lab) for lab in self.labels]
        tok_t, seg_t, match_t = [], [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            toks = [tokenize_bytes(h) for h in htmls]
            t1 = time.perf_counter()
            segs = [s for tk in toks for s in segment_doc(tk)]
            t2 = time.perf_counter()
            for s in segs:
                match_options(s["text"], opts, True)
            t3 = time.perf_counter()
            tok_t.append(t1 - t0)
            seg_t.append(t2 - t1)
            match_t.append(t3 - t2)
        n = len(htmls)
        return {
            "extract.tokenize_ms_per_page": 1000 * statistics.median(tok_t) / n,
            "segment.segment_ms_per_page": 1000 * statistics.median(seg_t) / n,
            "linking.match_ms_per_segment":
                1000 * statistics.median(match_t) / max(len(segs), 1),
        }


class QueryMix:
    name = "query_mix"
    seeded_inputs = False  # fixed tables; the seed picks the query order
    passes = 3  # a cold first pass, then the two warm ones wall_s is taken from
    wall_from = 1
    layers = _SESSION_LAYERS + _ENGINE_LAYERS + [
        *(f"q.{q}_s" for q in QUERIES), "reader.t_s",
    ]

    def __init__(self, spark, work: str, seed: int, size: str, checker: Checker):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.checker = checker
        self.sf_dir = SIZES[size]["sf_dir"]

    def setup(self) -> None:
        import __spark_entry__ as E

        self.fns = E.queries()
        self.order = list(QUERIES)
        random.Random(self.seed).shuffle(self.order)
        docs = os.path.join(self.sf_dir, "documents.parquet")
        self.n_items = pq.read_metadata(docs).num_rows
        self.input_mb = dir_mb(self.sf_dir)

    def run_pass(self, i: int, tracer=None, keep_lineage: bool = False) -> PassResult:
        ctx = tracer.span("query_mix.pass") if tracer else nullcontext()
        times, failed = {}, 0
        t0 = time.perf_counter()
        with ctx as span:
            for q in self.order:
                qctx = tracer.span(f"q.{q}") if tracer else nullcontext()
                tq = time.perf_counter()
                try:
                    with qctx:
                        got = digest(self.fns[q](self.spark, self.sf_dir))
                    ok = self.checker.ok(q, got)
                except Exception:
                    traceback.print_exc()
                    ok = False
                times[q] = time.perf_counter() - tq
                failed += 0 if ok else 1
        return PassResult(time.perf_counter() - t0, len(self.order), failed, times, {}, span)

    def install(self, tracer) -> None:
        import __spark_entry__ as E

        tracer.wrap(E, "_t", lambda a, k: ("reader._t", {"table": a[2]}))

    def layer_metrics(self, tracer, traced: PassResult) -> dict[str, float]:
        spans = tracer.descendants(traced.span)
        m = {f"q.{q}_s": t for q, t in traced.op_times.items()}
        m["reader.t_s"] = sum(
            tracer.duration(s) for s in spans if s["name"] == "reader._t"
        )
        m.update(tracer.engine_metrics(spans))
        return m


WORKLOADS = {w.name: w for w in (KgBulk, QueryMix)}

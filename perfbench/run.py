"""Repository benchmark: one workload, one run, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload kg_bulk --seed 1 --seconds 40 --trace 0

Workloads (``workloads.py``): ``kg_bulk`` runs ``plans.kg_run`` over
synthetic pages, ``query_mix`` runs a fixed set of registered queries.
Each run builds one Spark session at ``local[<nproc>]``, makes its inputs
from ``--seed``, then runs the workload's fixed number of closed-loop
passes with one client, the first in the fresh session. The pass counts
are sized so that the measured passes take about ``--seconds`` at
local[4]; they do not change with the speed of the code, so ``wall_s`` is
taken over the same pass positions on every commit. Every operation's
output is checked against the digest recorded for the seed
(``digests.json``).

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` prints its per-layer metrics instead: an untraced warm-up
pass, a traced pass with spans around the program's public functions, an
untraced pass whose difference to the traced one is ``trace.overhead_s``,
and, on ``kg_bulk``, noop-sink prefixes of the flagship chain. The run
fails if a layer the workload declares is missing or zero; per-layer
metrics of a layer the workload does not run are reported as 0. Spans are
written to ``.perfbench_traces/``.

The last line of standard output is the JSON result; the lines before it
(prefixed ``#``) give the same metrics as a table plus the run's settings.
All files the run writes stay under ``.perfbench_work/`` (removed at the
end) and ``.perfbench_traces/`` in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DIGESTS = os.path.join(HERE, "digests.json")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> dict[str, str]:
    """Leave every SPARK_GRAFT_* setting at its default, except the two
    storage roots, which default to /dev/shm: they point into the work
    dir so that the run writes only inside the repository."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark_local")
    os.environ["SPARK_GRAFT_SCRATCH"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}


def build_session(work: str):
    from pdf_metadata_extraction_spark.session import get_spark

    n = nproc()
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    out = []
    with contextlib.suppress(OSError):
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                for kid in map(int, f.read().split()):
                    out += [kid, *_descendants(kid)]
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark, timeout: float = 60) -> None:
    """Stop Spark, then wait for its JVM and the JVM's python workers to
    exit (the workers leave when the JVM closes their pipes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(_running(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.05)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the Spark driver JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024


def measure(wl) -> list:
    """Closed loop, one client: the workload's fixed number of passes."""
    return [wl.run_pass(i) for i in range(wl.passes)]


def end_to_end(wl, results: list, setup_s: float) -> dict[str, float]:
    walls = [r.wall for r in results]
    wall = statistics.median(walls[wl.wall_from:])
    attempted = sum(r.attempted for r in results)
    failed = sum(r.failed for r in results)
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "first_pass_s": walls[0],
        "pages_per_s": wl.n_items / wall,
        "ok_frac": 1.0 - failed / attempted,
    }


def per_layer(wl, spark, session_s: float, gen_s: float) -> tuple[dict, list]:
    from tracing import Tracer
    from workloads import ZERO_OK

    m = {"session.build_s": session_s, "inputs.gen_s": gen_s,
         "inputs.mb": wl.input_mb}
    kernels = getattr(wl, "kernel_metrics", None)
    if kernels:
        m.update(kernels())
    tracer = Tracer(spark)
    results = [wl.run_pass(0)]  # untraced warm-up: the fresh session's costs
    wl.install(tracer)
    try:
        traced = wl.run_pass(1, tracer=tracer, keep_lineage=True)
    finally:
        tracer.restore()
    results.append(traced)
    spans_s = tracer.bookkeeping_s
    m.update(wl.layer_metrics(tracer, traced))
    results.append(wl.run_pass(2))
    m["trace.overhead_s"] = traced.wall - results[-1].wall
    print(f"# tracing: traced pass minus the next untraced pass "
          f"{m['trace.overhead_s']:.3f} s (includes the later pass being "
          f"warmer); opening and closing spans took {spans_s:.3f} s")
    prefixes = getattr(wl, "prefix_metrics", None)
    if prefixes:
        m.update(prefixes(tracer))
        data_plane = sum(m[f"{k}.prefix_s"]
                         for k in ("scan", "segments", "linking", "triples"))
        stages = sum(v for k, v in m.items() if k.startswith("stage."))
        print(f"# accounting: traced wall {traced.wall:.3f} s = "
              f"kg_run.driver_s {m['kg_run.driver_s']:.3f} + checkpoint_stage "
              f"spans {stages:.3f} + canonicalize.s {m['canonicalize.s']:.3f} + "
              f"other lineage.record "
              f"{traced.wall - m['kg_run.driver_s'] - stages - m['canonicalize.s']:.3f}; "
              f"the noop prefixes put the data plane at {data_plane:.3f} s")
    m["session.peak_rss_mb"] = peak_rss_mb(spark)
    bad = [k for k in wl.layers
           if k not in m or (m[k] == 0 and k not in ZERO_OK)]
    if bad:
        raise RuntimeError(f"{wl.name}: layers not measured (missing or 0): {bad}")
    out = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, f"{wl.name}-{wl.seed}-{os.getpid()}.json"))
    return m, results


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="not read by the pass loop: each workload runs a fixed "
                         "number of passes, sized to about this long at local[4]")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the smoke test")
    ap.add_argument("--record", action="store_true",
                    help="store this run's output digests in digests.json")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    with open(DIGESTS) as f:
        recorded = json.load(f)

    sys.path[:0] = [ROOT, HERE]
    from inputs import variant
    from workloads import WORKLOADS, Checker

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)  # left by a killed run with this pid
    os.makedirs(work)
    spark = None
    try:
        settings = prepare_env(work)
        t0 = time.perf_counter()
        spark = build_session(work)
        session_s = time.perf_counter() - t0
        key = f"{args.workload}/{args.size}"
        if WORKLOADS[args.workload].seeded_inputs:
            key += f"/v{variant(args.seed)}"
        checker = Checker(
            recorded, key,
            record=args.record,
            corrupt=os.environ.get("PERFBENCH_CORRUPT_DIGEST") == "1",
        )
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.size, checker)
        t1 = time.perf_counter()
        wl.setup()
        gen_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0

        if args.trace:
            values, results = per_layer(wl, spark, session_s, gen_s)
        else:
            results = measure(wl)
            values = end_to_end(wl, results, setup_s)
        attempted = sum(r.attempted for r in results)
        failed = sum(r.failed for r in results)
        if args.record:
            with open(DIGESTS, "w") as f:
                json.dump(recorded, f, indent=1, sort_keys=True)
                f.write("\n")

        metrics = {}
        for m in wanted:
            if m["name"] not in values and args.trace == 0:
                raise KeyError(f"end-to-end metric {m['name']} not measured")
            metrics[m["name"]] = {"value": values.get(m["name"], 0.0),
                                  "unit": m["unit"]}
        print(f"# workload {args.workload} seed {args.seed} size {args.size} "
              f"nproc {nproc()} passes {[round(r.wall, 3) for r in results]}")
        if results[-1].op_times:
            print(f"# last pass per operation (s) "
                  f"{json.dumps({k: round(v, 3) for k, v in results[-1].op_times.items()})}")
        print(f"# settings {json.dumps(settings, sort_keys=True)} "
              f"spark.local.dir={spark.conf.get('spark.local.dir')}")
        for name, v in metrics.items():
            print(f"# {name:32s} {v['value']:14.4f} {v['unit']}")
        not_run = [m["name"] for m in wanted if m["name"] not in values]
        if not_run:
            print(f"# layers this workload does not run, reported as 0: {not_run}")
        print(f"# output check: {attempted - failed}/{attempted} operations "
              f"matched the recorded digests")
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

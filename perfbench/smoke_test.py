"""Smoke test of the benchmark on tiny inputs.

    python3 perfbench/smoke_test.py

For every workload in BENCHMARK.json it checks that an untraced run prints
every end-to-end metric (non-zero, with its unit) and passes the output
check, and that a traced run prints every per-layer metric with its unit
(the traced run itself exits non-zero when a layer the workload declares
is missing or zero).
It then corrupts the recorded digests (PERFBENCH_CORRUPT_DIGEST=1) and
checks that the failures show in ``failed``, ``correct`` and ``ok_frac``.
Takes about nine minutes at local[4].
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, corrupt: bool = False) -> dict:
    env = dict(os.environ)
    env.pop("PERFBENCH_CORRUPT_DIGEST", None)
    if corrupt:
        env["PERFBENCH_CORRUPT_DIGEST"] = "1"
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited "
                             f"{proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, spec: list[dict], nonzero: bool) -> list[str]:
    errors = []
    got = result["metrics"]
    for m in spec:
        v = got.get(m["name"])
        if v is None:
            errors.append(f"missing {m['name']}")
        elif v["unit"] != m["unit"]:
            errors.append(f"{m['name']}: unit {v['unit']} != {m['unit']}")
        elif not math.isfinite(v["value"]) or (nonzero and v["value"] == 0):
            errors.append(f"{m['name']}: value {v['value']}")
    extra = set(got) - {m["name"] for m in spec}
    if extra:
        errors.append(f"unexpected metrics {sorted(extra)}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in spec["workloads"]:
        name = w["name"]
        for trace, metrics, nonzero in ((0, spec["end_to_end"], True),
                                        (1, spec["per_layer"], False)):
            r = run(name, trace)
            errs = check_metrics(r, metrics, nonzero)
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                errs.append(f"output check: {r['attempted']} attempted, "
                            f"{r['failed']} failed")
            failures += [f"{name} trace={trace}: {e}" for e in errs]
            print(f"{name} trace={trace}: {'ok' if not errs else 'FAIL'}")
        r = run(name, 0, corrupt=True)
        ok_frac = r["metrics"]["ok_frac"]["value"]
        if r["correct"] or r["failed"] == 0 or ok_frac >= 1.0:
            failures.append(f"{name}: corrupted digests not detected "
                            f"({r['failed']} failed, ok_frac {ok_frac})")
        print(f"{name} corrupted digests: failed {r['failed']}/{r['attempted']}")
    for f in failures:
        print("FAIL", f)
    print("smoke test", "failed" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

"""Smoke test of the benchmark itself at the smallest sizes.

    python3 perfbench/selftest.py [workload ...]

For every workload (all by default) it runs ``run.py --tiny`` untraced
and traced and asserts that the result line names exactly the
``end_to_end`` (untraced) or ``per_layer`` (traced) metrics of
BENCHMARK.json, each with its unit and a finite number, that ops were
attempted and none failed, and that a plan-changing env switch makes
the run refuse to start. Takes a few minutes; exits non-zero on the
first failure.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RUN = os.path.join(BENCH_DIR, "run.py")


def run(workload: str, trace: int, env=None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, env=env,
    )


def check_result(workload: str, trace: int, spec: dict) -> None:
    p = run(workload, trace)
    assert p.returncode == 0, f"{workload} trace={trace}: rc {p.returncode}\n{p.stderr[-3000:]}"
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    want = spec["per_layer" if trace else "end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in want], list(res["metrics"])
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), got
        if not trace:
            assert got["value"] > 0, (m["name"], got)
    print(f"ok  {workload} trace={trace}: {len(want)} metrics", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    p = run(names[0], 0, env={**os.environ, "DOT_UNROLL": "0"})
    assert p.returncode != 0 and "refusing" in p.stderr, p.stderr[-2000:]
    print("ok  plan-changing env switch refused", flush=True)
    for w in names:
        for trace in (0, 1):
            check_result(w, trace, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())

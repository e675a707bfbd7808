"""Self-test of the benchmark: every workload, untraced and traced, for
one pass over tiny generated fixtures (sf 0.001).

    python3 benchmark/selftest.py

Asserts that each run exits 0 with no failed op, that the untraced run
emits exactly the end-to-end metrics and the traced run exactly the
per-layer metrics named in BENCHMARK.json, each printed with its unit
and sample count, and that on the headline workload each query's traced
layer split (construct + Catalyst phases + execution) accounts for its
traced span within 10%.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import HEADLINE, WORKLOADS  # noqa: E402


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "0", "--trace", str(trace),
           "--sf", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, (workload, trace, proc.stdout, proc.stderr[-3000:])
    ctx = next(json.loads(x[len("# context "):]) for x in lines
               if x.startswith("# context "))
    res = json.loads(lines[-1])
    for name, m in res["metrics"].items():
        line = next(x for x in lines if x.startswith(f"# {name} = "))
        assert m["unit"] in line and "(n=" in line, line
    return res, ctx


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    wanted = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for workload in WORKLOADS:
        for trace in (0, 1):
            res, ctx = run(workload, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] and res["failed"] == 0, res
            assert res["attempted"] >= 1
            got = {k: m["unit"] for k, m in res["metrics"].items()}
            assert got == wanted[trace], (workload, trace, got)
            for k, m in res["metrics"].items():
                assert isinstance(m["value"], (int, float)), (k, m)
            assert ctx["samples"]["passes"] >= 1, ctx["samples"]
            if trace and WORKLOADS[workload].kind == "headline":
                shares = ctx["split_share_of_wall"]
                assert set(shares) == set(HEADLINE), shares
                bad = {q: s for q, s in shares.items() if abs(1 - s) > 0.10}
                assert not bad, bad
            print(f"ok {workload} trace={trace} failed_ratio="
                  f"{res['failed'] / res['attempted']:g} "
                  f"samples={ctx['samples']['ops']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

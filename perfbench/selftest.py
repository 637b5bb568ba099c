#!/usr/bin/env python3
"""Self-test of the benchmark at sf 0.001 (1,500 orders rows, 200 docs).

    python3 perfbench/selftest.py

For each workload it makes three short runs and asserts:
  * untraced: the run is correct and prints every end-to-end metric of
    BENCHMARK.json, each with its declared unit;
  * traced: the same for every per-layer metric, with error_rate 0;
  * traced against a deliberately wrong reference (--corrupt-reference):
    the wrong checks are reported in `failed` and in error_rate.
Takes about four minutes on 4 cores; exits non-zero on the first failure.
"""

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace),
           "--sf", "0.001", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr)
        raise AssertionError(f"{workload} trace={trace} {extra}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, declared: list, label: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{label}: metrics {got} != declared {want}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{label}: {k} is not a number"


def main() -> int:
    for w in [x["name"] for x in SPEC["workloads"]]:
        plain = run(w, 0)
        assert plain["correct"] and plain["failed"] == 0, f"{w}: untraced run not correct"
        check_metrics(plain, SPEC["end_to_end"], f"{w} untraced")

        traced = run(w, 1)
        assert traced["correct"] and traced["failed"] == 0, f"{w}: traced run not correct"
        check_metrics(traced, SPEC["per_layer"], f"{w} traced")
        assert traced["metrics"]["error_rate"]["value"] == 0

        wrong = run(w, 1, "--corrupt-reference")
        assert not wrong["correct"] and wrong["failed"] > 0, f"{w}: wrong reference not reported"
        assert wrong["metrics"]["error_rate"]["value"] > 0, f"{w}: error_rate stayed 0"
        print(f"selftest {w}: ok ({plain['attempted']} ops untraced, "
              f"{wrong['failed']}/{wrong['attempted']} wrong-reference failures)")
    print("selftest: all workloads ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())

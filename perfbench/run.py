#!/usr/bin/env python3
"""graft benchmark: one workload, one closed-loop client, one JVM.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark program from the checkout's sources (see build.py),
runs the workload in a single JVM at local[<cores>], and prints as the last
line of stdout one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are its per-layer metrics. The program
measures the values; their names and units come from BENCHMARK.json alone.
Workloads, inputs and metrics are described in perfbench/README.md.

Everything the run writes goes under .bench_work/ and .bench_build/ in the
checkout; the work directory is removed at the end.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["serve", "curate"]
PREFIX = "PERFBENCH_RESULT "
# a run (after the first build) must end within 180 s
RUN_LIMIT_S = 170

JAVA_OPTS = [
    "-Xmx3g", "-XX:-UsePerfData", "-Duser.language=en", "-Duser.country=US",
    "-Dio.netty.tryReflectionSetAccessible=true",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def declared_metrics(trace: int) -> dict:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in doc["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--sf", type=float, default=0.1,
                    help="input scale; orders rows = 1.5M x sf (default 0.1)")
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="check every fourth op against a wrong value (self-test)")
    args = ap.parse_args()

    started = time.monotonic()
    declared = declared_metrics(args.trace)
    classes = build.build()
    jars = build.spark_jars()

    work_root = ROOT / ".bench_work"
    work = work_root / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log_path = work_root / f"{args.workload}-{os.getpid()}.log"
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--sf", repr(args.sf)]
           + (["--corrupt-reference"] if args.corrupt_reference else []))
    budget = max(30.0, RUN_LIMIT_S - (time.monotonic() - started))
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=budget)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.stderr.write(f"perfbench: run exceeded {budget:.0f} s\n")
                out = ""
        lines = [ln[len(PREFIX):] for ln in out.splitlines() if ln.startswith(PREFIX)]
        log_lines = log_path.read_text(errors="replace").splitlines()
        sys.stderr.write("".join(ln + "\n" for ln in log_lines if "[perfbench]" in ln))
        if proc.returncode != 0 or not lines:
            sys.stderr.write("\n".join(log_lines[-40:]) + "\n")
            sys.stderr.write(f"perfbench: JVM exited {proc.returncode} without a result\n")
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        log_path.unlink(missing_ok=True)

    result = json.loads(lines[-1])
    values = result.pop("values")
    if sorted(values) != sorted(declared):
        sys.stderr.write(f"perfbench: measured metrics {sorted(values)} differ from "
                         f"BENCHMARK.json {sorted(declared)}\n")
        return 1
    result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in declared.items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

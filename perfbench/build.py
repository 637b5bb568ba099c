"""Build file of the benchmark.

Compiles the graft library (src/main/scala of the checkout) together with
the benchmark program (perfbench/src) into .bench_build/classes, using the
Scala compiler that ships among Spark's jars. A digest of every source and
of the jar list is stored next to the classes; an unchanged tree is not
compiled again.

    python3 perfbench/build.py      # prints the classes directory
"""

import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: cannot find Spark's jars; set SPARK_HOME")
    return Path(home) / "jars"


def sources() -> list:
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise SystemExit(f"perfbench: no graft sources under {lib.relative_to(ROOT)}")
    bench = Path(__file__).resolve().parent / "src"
    return sorted(lib.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def build() -> Path:
    """Returns the classes directory, compiling first when a source changed.
    Concurrent callers wait on a lock so that only one compiles."""
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build() -> Path:
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    digest.update(" ".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    out = BUILD / "classes"
    stamp = BUILD / "stamp"
    if out.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return out

    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    # compiler messages go to stderr: stdout carries only the result line
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp.write_text(digest.hexdigest())
    return out


if __name__ == "__main__":
    print(build())

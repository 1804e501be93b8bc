"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) into one class directory with the Scala
compiler that ships in Spark's jars. No sbt, so the build needs nothing
but the JDK and $SPARK_HOME/jars, and writes only under the build
directory.

Run from the repository root:  python3 perfbench/build.py
It prints the runtime class path. A build whose sources are unchanged
is skipped.
"""

import fcntl
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SOURCES = [Path("src/main/scala"), BENCH / "src"]


def build_dir() -> Path:
    """$CARGO_TARGET_DIR when set (the checkout's build directory), else .bench_build."""
    return Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build").resolve() / "perfbench"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars of the installed pyspark package."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    spec = importlib.util.find_spec("pyspark")
    if spec is None or spec.origin is None:
        raise SystemExit("perfbench: set SPARK_HOME (no pyspark package either)")
    return Path(spec.origin).parent / "jars"


def classpath() -> str:
    return f"{build_dir() / 'classes'}:{spark_jars()}/*"


def _sources() -> list:
    files = sorted(p for d in SOURCES for p in d.rglob("*.scala"))
    if not files or not Path("src/main/scala/graft").is_dir():
        raise SystemExit("perfbench: run from the repository root (src/main/scala/graft not found)")
    return files


def ensure_built() -> str:
    """Compiles when a source changed since the last build; returns the class path."""
    files = _sources()
    digest = hashlib.sha256()
    for f in files:
        st = f.stat()
        digest.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp_value = digest.hexdigest()
    out = build_dir()
    out.mkdir(parents=True, exist_ok=True)
    stamp = out / "classes.stamp"
    with open(out / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp.exists() and stamp.read_text() == stamp_value:
            return classpath()
        classes = out / "classes"
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir()
        argfile = out / "sources.txt"
        argfile.write_text("".join(f"{f}\n" for f in files))
        t0 = time.monotonic()
        print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr)
        done = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"],
            stdout=sys.stderr, timeout=840)
        if done.returncode != 0:
            raise SystemExit(f"perfbench: compilation failed (exit {done.returncode})")
        stamp.write_text(stamp_value)
        print(f"perfbench: compiled in {time.monotonic() - t0:.1f} s", file=sys.stderr)
    return classpath()


if __name__ == "__main__":
    print(ensure_built())

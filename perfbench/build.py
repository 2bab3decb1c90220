"""Build file of the benchmark: compiles graft (src/main/scala) and the benchmark
(perfbench/src) from source into .bench_build/perfbench/classes, with the Scala compiler that
ships in Spark's jars directory ($SPARK_HOME/jars). Rebuilds only when a source file changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SRC = ROOT / "perfbench" / "src"


def spark_jars():
    return pathlib.Path(os.environ.get("SPARK_HOME", "SPARK_HOME-is-not-set")) / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def sources():
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"perfbench: graft sources not found at {PROGRAM_SRC}; run from a "
                         "checkout of the repository")
    if not spark_jars().is_dir():
        raise SystemExit(f"perfbench: Spark jars not found at {spark_jars()}; set SPARK_HOME")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build():
    """Compiles if needed; returns the runtime classpath entries of graft and the benchmark."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = OUT / "stamp"
    if not (CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest()):
        tmp = OUT / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        args = OUT / "sources.txt"
        args.write_text("\n".join(str(p) for p in srcs) + "\n")
        jars = str(spark_jars() / "*")
        print(f"perfbench: compiling {len(srcs)} Scala files", file=sys.stderr, flush=True)
        res = subprocess.run([java(), "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
                              "-classpath", jars, "-d", str(tmp), "-nowarn", f"@{args}"],
                             stdout=sys.stderr, timeout=800)
        if res.returncode != 0:
            raise SystemExit("perfbench: compilation failed")
        shutil.rmtree(CLASSES, ignore_errors=True)
        tmp.rename(CLASSES)
        stamp.write_text(digest.hexdigest())
    return [str(CLASSES)] + ([str(RESOURCES)] if RESOURCES.is_dir() else [])


if __name__ == "__main__":
    build()

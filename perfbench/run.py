"""graft's maintenance benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size tiny]

Builds graft and the benchmark from source (perfbench/build.py), runs one workload at
local[4] in one JVM, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are the end-to-end
metrics of BENCHMARK.json; with --trace 1 the per-layer metrics, and a span file is written to
.bench_build/perfbench/traces/. --size tiny shrinks every table for the harness smoke test
(perfbench/smoke.py); its numbers are not benchmark results.
"""
import argparse
import os
import pathlib
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("compact_backlog", "merge_read_mix", "metadata_scale")
# a run must end within 180 s of its start (not counting a build); the JVM is killed before
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def driver_heap():
    """The driver heap the repository's tier-1 tests use: SPARK_DRIVER_MEM, else half of
    physical memory clamped to [2g, 8g]."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="normal", choices=("normal", "tiny"))
    a = ap.parse_args()

    classpath = build.build()
    out = build.OUT
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    result = out / "results" / f"{tag}.json"
    tmp = out / "tmp"
    for d in (result.parent, tmp):
        d.mkdir(parents=True, exist_ok=True)
    result.unlink(missing_ok=True)
    here = pathlib.Path(__file__).resolve().parent
    cmd = [build.java(), f"-Xmx{driver_heap()}", "-XX:+UseG1GC", "-Xss4m"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.callstack.depth=80", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={here / 'log4j2.properties'}",
            "-cp", os.pathsep.join(classpath + [str(build.spark_jars() / "*")]),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--size", a.size,
            "--work", str(out / "work" / tag), "--result", str(result),
            "--spans", str(out / "traces" / f"{a.workload}-seed{a.seed}.spans.jsonl")]
    env = dict(os.environ, SPARK_HOME=str(build.spark_jars().parent), SPARK_SCALA_VERSION="2.13")
    env.pop("GRAFT_TIMING", None)
    proc = subprocess.Popen(cmd, env=env, cwd=str(build.ROOT))
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: run exceeded its time limit")
    if code != 0 or not result.is_file():
        raise SystemExit(f"perfbench: benchmark JVM exited with code {code}")
    line = result.read_text().strip()
    sys.stdout.flush()
    print(line, flush=True)
    if '"correct": true' not in line:
        sys.exit(1)


if __name__ == "__main__":
    main()

"""Per-job task-time breakdown of Spark event logs.

    python3 tools/task_breakdown.py <event-log-dir | event-log-file>

Write the log without changing any program or harness, for example around the benchmark:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=/tmp/ev \
      -Dspark.eventLog.compress=false" python3 perfbench/run.py --workload compact_backlog \
      --seed 1 --seconds 5 --trace 0

For each application log, and in it each Spark job in order, one line: the job id, its call site,
the task count, then the sum over the job's tasks (s) and the per-task median (ms) of wall time
(launch to finish), executor deserialize time and CPU, executor run time and CPU, and JVM GC.
Each job is one line, so `grep` selects jobs by call site.
"""
import json
import os
import pathlib
import statistics
import sys

# (column, task-metrics key, scale to ms); the CPU times are in ns, the others in ms
METRICS = (
    ("deser", "Executor Deserialize Time", 1.0),
    ("deser_cpu", "Executor Deserialize CPU Time", 1e-6),
    ("run", "Executor Run Time", 1.0),
    ("run_cpu", "Executor CPU Time", 1e-6),
    ("gc", "JVM GC Time", 1.0),
)
COLUMNS = ("wall",) + tuple(m[0] for m in METRICS)
# Spark's event-log codecs (`spark.eventLog.compression.codec`; Spark 4 compresses by default)
COMPRESSED = (".zstd", ".lz4", ".lzf", ".snappy")
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def jobs_of(lines):
    """(job id, call site, [per-task {column: ms}]) for every job of one event log."""
    sql_sites, sites, stage_job = {}, {}, {}
    tasks = {}
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == SQL_START:
            sql_sites[str(e["executionId"])] = e.get("description", "?")
        elif kind == "SparkListenerJobStart":
            job = e["Job ID"]
            props = e.get("Properties") or {}
            stages = e.get("Stage Infos") or []
            last = max(stages, key=lambda s: s["Stage ID"])["Stage Name"] if stages else "?"
            sites[job] = (sql_sites.get(props.get("spark.sql.execution.id"))
                          or props.get("callSite.short") or last)
            tasks[job] = []
            for s in e.get("Stage IDs") or [s["Stage ID"] for s in stages]:
                stage_job[s] = job
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(e.get("Stage ID"))
            metrics = e.get("Task Metrics")
            if job is None or not metrics:
                continue
            info = e["Task Info"]
            row = {"wall": float(info["Finish Time"] - info["Launch Time"])}
            for col, key, scale in METRICS:
                row[col] = metrics.get(key, 0) * scale
            tasks[job].append(row)
    return [(job, sites[job], tasks[job]) for job in sorted(tasks)]


def app_logs(root):
    """Each application's event-log files, in order. A single-file log is one application; a
    rolling (v2) log is a directory `eventlog_v2_<app>` of `events_<n>_<app>` files."""
    if root.is_file():
        return [[root]]
    if root.name.startswith("eventlog_v2_"):
        parts = [p for p in root.iterdir() if p.name.startswith("events_")]
        return [sorted(parts, key=lambda p: int(p.name.split("_")[1]))]
    children = [p for p in sorted(root.iterdir()) if not p.name.startswith((".", "appstatus"))]
    return [log for p in children for log in app_logs(p)]


def report(files):
    def lines():
        for path in files:
            with open(path) as f:
                yield from f
    jobs = jobs_of(lines())
    print(f"# {files[0]}: {len(jobs)} jobs; per column: sum over tasks (s) / median task (ms)")
    print("job\ttasks\t" + "\t".join(COLUMNS) + "\tcall site")
    for job, site, rows in jobs:
        cells = []
        for col in COLUMNS:
            vals = [r[col] for r in rows] or [0.0]
            cells.append(f"{sum(vals) / 1e3:.2f}/{statistics.median(vals):.1f}")
        print(f"{job}\t{len(rows)}\t" + "\t".join(cells) + f"\t{site}")


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    root = pathlib.Path(sys.argv[1])
    logs = [files for files in app_logs(root) if files]
    if not logs:
        raise SystemExit(f"task_breakdown: no event log in {root}")
    packed = [p for files in logs for p in files if p.suffix in COMPRESSED]
    if packed:
        raise SystemExit(f"task_breakdown: {packed[0]} is compressed; write the event log with "
                         "-Dspark.eventLog.compress=false")
    for files in logs:
        report(files)


if __name__ == "__main__":
    try:
        main()
        sys.stdout.flush()
    except BrokenPipeError:
        # the reader (`| head`) closed early: exit quietly, and keep the interpreter's own
        # flush at exit from failing on the closed pipe again
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())

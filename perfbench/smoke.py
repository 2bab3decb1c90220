"""Smoke test of the benchmark harness at tiny size (a few minutes; not a benchmark result).

    python3 perfbench/smoke.py [workload ...]

For every workload (default: all three), untraced and traced, it checks that
  - the run exits 0 and its last stdout line is a result with "correct": true;
  - every BENCHMARK.json metric of that mode is in the result with its unit, and every
    end-to-end metric is also printed as a "[perfbench] metric <name> [<unit>]" line;
  - every output check of the workload ran;
  - the traced run wrote a span file whose self times account for the root span within 5%.
"""
import json
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
CHECKS = {
    "compact_backlog": ["drain terminates", "compact_backlog pruned scan",
                        "compact_backlog lookup", "compact_backlog full scan"],
    "merge_read_mix": ["drain terminates", "merge_read_mix after merges pruned scan",
                       "merge_read_mix after merges lookup", "merge_read_mix after merges full scan",
                       "merge_read_mix after drain full scan"],
    "metadata_scale": ["metadata_scale pruned scan", "metadata_scale lookup",
                       "metadata_scale carried entries live", "metadata_scale real-file hash",
                       "metadata_scale total-files summary"],
}


def run(workload, trace):
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in sys.argv[1:] or list(CHECKS):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, lines, err = run(w, trace)
            tag = f"{w} trace={trace}"
            if code != 0 or not lines or not lines[-1].startswith("{"):
                problems.append(f"{tag}: exit {code}\n{err[-2000:]}")
                continue
            result = json.loads(lines[-1])
            if result["correct"] is not True or result["failed"] != 0:
                problems.append(f"{tag}: correct={result['correct']} failed={result['failed']}")
            for m in bench[key]:
                got = result["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{tag}: metric {m['name']} [{m['unit']}] missing: {got}")
                if trace == 0 and not any(l.startswith(f"[perfbench] metric {m['name']} "
                                                       f"[{m['unit']}]") for l in lines):
                    problems.append(f"{tag}: metric {m['name']} not printed with its unit")
            ran = next((l for l in lines if l.startswith("[perfbench] checks run:")), "")
            problems += [f"{tag}: check '{c}' did not run" for c in CHECKS[w] if c not in ran]
            if trace == 1:
                spans_file = ROOT / ".bench_build" / "perfbench" / "traces" / f"{w}-seed1.spans.jsonl"
                spans = [json.loads(l) for l in spans_file.read_text().splitlines()]
                spans = [s for s in spans if s["type"] == "span"]
                root = next(s for s in spans if s["parent"] == -1)
                share = sum(s["self_ms"] for s in spans) / (root["end_ms"] - root["start_ms"])
                if abs(share - 1) > 0.05:
                    problems.append(f"{tag}: self times cover {share:.3f} of the root span")
            print(f"smoke: {tag} done", flush=True)
    if problems:
        print("smoke: FAILED\n" + "\n".join(problems))
        sys.exit(1)
    print("smoke: all checks passed")


if __name__ == "__main__":
    main()

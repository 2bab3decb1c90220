"""Interleaved benchmark pairs of two checkouts, and the comparison of their end-to-end metrics.

    python3 tools/bench_pairs.py --parent <dir> --change <dir> --workload <name> --seeds A-B
                                 [--seconds 5] [--jsonl <file>] [--claim <metric>]

For each seed from A to B, runs `perfbench/run.py --trace 0` once in each checkout, the parent
first on even pairs and the change first on odd ones, and appends every run's result line,
failed runs included, to the JSONL file (default: pairs-<workload>.jsonl in the working
directory). Then prints, for every numeric metric the runs report: each side's median and
quartiles over its correct runs, the change's wins over the parent in pairs of one seed (ties
count for neither), and the parent's interquartile range. A metric that BENCHMARK.json (the
parent's) lists as end to end is checked against its bound: the change's median may be worse
than the parent's by at most that share of it. `--claim <metric>` adds the gain verdict: the
change must win at least nine tenths of the pairs, and the medians must differ, in the better
direction, by more than the parent's interquartile range. A run that is not correct, or whose
operations failed, is listed.

The runs read the checkouts only; each builds into its own checkout's .bench_build/.
"""
import argparse
import json
import pathlib
import re
import statistics
import subprocess
import sys


# `[perfbench] metric <name> [<unit>] <value>` or `... median=<value> ...`: what the run prints
PRINTED = re.compile(
    r"^\[perfbench\] metric (\S+) \[[^\]]*\] (?:median=)?(-?[0-9.]+(?:[eE][-+]?[0-9]+)?)")


def run(checkout, workload, seed, seconds):
    """One benchmark run: (result dict or None, printed metrics, return code, last stderr
    line). The result's metrics are {name: {"value", "unit"}}; the printed ones include the
    unbounded latencies the result leaves out."""
    cmd = [sys.executable, str(checkout / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=str(checkout), capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    printed = {m.group(1): float(m.group(2)) for m in map(PRINTED.match, lines) if m}
    err = (p.stderr.strip().splitlines() or [""])[-1]
    return result, printed, p.returncode, err


def values(result, printed):
    """Every numeric metric of one run, by name: the printed ones, then the result's."""
    out = dict(printed)
    for k, v in (result or {}).get("metrics", {}).items():
        v = v.get("value") if isinstance(v, dict) else v
        if isinstance(v, (int, float)):
            out[k] = float(v)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def seeds_of(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, type=pathlib.Path)
    ap.add_argument("--change", required=True, type=pathlib.Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--seconds", default=5, type=float)
    ap.add_argument("--jsonl", type=pathlib.Path)
    ap.add_argument("--claim", help="an end-to-end metric the change claims to improve")
    a = ap.parse_args()
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    bench = json.loads((sides["parent"] / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    if a.claim and a.claim not in bounds:
        raise SystemExit(f"bench_pairs: {a.claim} is not an end-to-end metric of BENCHMARK.json")
    log = a.jsonl or pathlib.Path(f"pairs-{a.workload}.jsonl")

    runs = []  # (seed, side, result or None, metrics)
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            result, printed, code, err = run(sides[side], a.workload, seed, a.seconds)
            rec = {"workload": a.workload, "seed": seed, "side": side, "first": order[0],
                   "returncode": code, "result": result, "printed": printed}
            if result is None:
                rec["error"] = err
            with open(log, "a") as f:
                f.write(json.dumps(rec) + "\n")
            m = values(result, printed)
            runs.append((seed, side, result, m))
            print(f"seed {seed} {side}: " + (" ".join(f"{k}={v:.4g}" for k, v in m.items())
                                             or f"no result ({err})"), flush=True)

    def ok(r):
        return r is not None and r.get("correct") is True and not r.get("failed")

    for seed, side, r, _ in runs:
        if not ok(r):
            print(f"NOT OK: seed {seed} {side}: " + (json.dumps(
                {k: r.get(k) for k in ("correct", "attempted", "failed")}) if r else "no result"))
    good = {(seed, side): m for seed, side, r, m in runs if ok(r)}
    names = sorted({k for m in good.values() for k in m}, key=lambda n: (n not in bounds, n))
    print(f"\n{a.workload}: {len(runs) // 2} pairs, log {log}")
    print("metric\tparent median [q1, q3]\tchange median [q1, q3]\twins/pairs\tparent IQR\tcheck")
    verdict_ok = True
    for name in names:
        xs = {side: [m[name] for (s, sd), m in good.items() if sd == side and name in m]
              for side in sides}
        if not xs["parent"] or not xs["change"]:
            continue
        med = {side: statistics.median(v) for side, v in xs.items()}
        qs = {side: quartiles(v) for side, v in xs.items()}
        # unbounded metrics: rates are better higher, everything else lower
        lower = bounds[name]["better"] == "lower" if name in bounds else not name.endswith("_per_s")
        pairs = [(good[(s, "parent")][name], good[(s, "change")][name])
                 for s in sorted({s for s, _, _, _ in runs})
                 if (s, "parent") in good and (s, "change") in good
                 and name in good[(s, "parent")] and name in good[(s, "change")]]
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        iqr = qs["parent"][1] - qs["parent"][0]
        if name in bounds:
            worse = (med["change"] - med["parent"]) if lower else (med["parent"] - med["change"])
            limit = bounds[name]["bound"] * abs(med["parent"])
            check = f"bound {bounds[name]['bound']:.0%}: " + (
                "ok" if worse <= limit else "WORSE THAN BOUND")
            verdict_ok &= worse <= limit
        else:
            check = "unbounded"
        print(f"{name}\t{med['parent']:.4g} [{qs['parent'][0]:.4g}, {qs['parent'][1]:.4g}]\t"
              f"{med['change']:.4g} [{qs['change'][0]:.4g}, {qs['change'][1]:.4g}]\t"
              f"{wins}/{len(pairs)}\t{iqr:.4g}\t{check}")
        if name == a.claim:
            gap = (med["parent"] - med["change"]) if lower else (med["change"] - med["parent"])
            gain = len(pairs) > 0 and wins >= 0.9 * len(pairs) and gap > iqr
            print(f"claim {name}: wins {wins}/{len(pairs)}, median gap {gap:.4g} vs parent IQR "
                  f"{iqr:.4g}: " + ("GAIN" if gain else "NO GAIN"))
    failed = sum(1 for _, _, r, _ in runs if not ok(r))
    print(f"runs not ok: {failed}/{len(runs)}; bounds " + ("held" if verdict_ok else "BROKEN"))
    sys.exit(0 if verdict_ok and failed == 0 else 1)


if __name__ == "__main__":
    main()

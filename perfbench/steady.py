"""Steadiness report for the benchmark.

Run each workload N times, each with another seed, and print every
end-to-end metric's median, quartiles and spread (the distance between the
quartiles as a share of the median) beside the metric's bound from
BENCHMARK.json:

    python3 perfbench/steady.py run --runs 10 [--workloads a,b] [--first-seed 1] --out set1.json

Compare two sets of runs of the same code: every metric's two medians must
agree, in either direction, within its bound, and every spread must stay
within its bound:

    python3 perfbench/steady.py compare set1.json set2.json

Both commands exit non-zero when a bound is broken.
"""

import argparse
import json
import pathlib
import statistics
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m for m in SPEC["end_to_end"]}


def run_once(workload: str, seed: int) -> dict:
    cmd = [*SPEC["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(SPEC["run_seconds"]), "--trace", "0"]
    done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = done.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if done.returncode != 0 or result is None or not result["correct"]:
        sys.exit(f"{workload} seed {seed}: run failed (exit {done.returncode})\n{done.stdout}")
    for line in lines:
        if line.startswith(("setup:", "ops:")):
            print(f"  {workload} seed {seed} {line}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def summary(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def report(runs: dict) -> bool:
    """Print each metric's quartiles; False when a spread breaks its bound."""
    ok = True
    for workload, results in runs.items():
        print(f"{workload}: {len(results)} runs")
        for name, spec in BOUNDS.items():
            s = summary([r[name] for r in results])
            within = s["spread"] <= spec["bound"]
            ok &= within
            print(f"  {name:30s} median {s['median']:14.4f} {spec['unit']:7s} q1 {s['q1']:14.4f} "
                  f"q3 {s['q3']:14.4f}  spread {s['spread']:7.2%} (bound {spec['bound']:.0%})"
                  f"{'' if within else '  SPREAD ABOVE BOUND'}")
    return ok


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse `second` is than `first`, as a share of `first`
    (negative when it is better)."""
    return (second - first) / first if better == "lower" else (first - second) / first


def compare(a: dict, b: dict) -> bool:
    ok = report(a) & report(b)
    for workload in a:
        if workload not in b:
            print(f"{workload}: missing from the second set")
            ok = False
            continue
        for name, spec in BOUNDS.items():
            m1 = summary([r[name] for r in a[workload]])["median"]
            m2 = summary([r[name] for r in b[workload]])["median"]
            w = worse_by(m1, m2, spec["better"])
            within = abs(w) <= spec["bound"]
            ok &= within
            print(f"{workload:14s} {name:30s} {m1:14.4f} -> {m2:14.4f}  worse by {w:+7.2%} "
                  f"(bound {spec['bound']:.0%}){'' if within else '  DISAGREE'}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()

    if args.cmd == "compare":
        a, b = (json.loads(pathlib.Path(p).read_text()) for p in (args.first, args.second))
        return 0 if compare(a, b) else 1
    runs = {}
    for workload in args.workloads.split(","):
        runs[workload] = []
        for i in range(args.runs):
            seed = args.first_seed + i
            runs[workload].append(run_once(workload, seed))
            print(f"{workload} seed {seed}: {json.dumps(runs[workload][-1])}", flush=True)
    pathlib.Path(args.out).write_text(json.dumps(runs, indent=1))
    return 0 if report(runs) else 1


if __name__ == "__main__":
    sys.exit(main())

"""Steadiness check: run the benchmark in two sets of runs of the same
code and compare them against the bounds in BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 --seed-base 1000

Each of the two sets runs every workload of BENCHMARK.json `--runs`
times, each run with its own seed. For each workload and end-to-end
metric it prints each set's median and quartiles, the spread (quartile
distance over the median), whether that spread is within the metric's
bound, and whether the two sets' medians differ by no more than the
bound. Raw result lines are appended to
perfbench/.results/steadiness.jsonl. The last line projects the wall
time of a full benchmark pass (4 + 22 runs per workload) from the mean
run wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return {"workload": workload, "seed": seed, "wall_s": wall,
            "detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1000)
    args = ap.parse_args()
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
    log = os.path.join(HERE, ".results", "steadiness.jsonl")

    sets: list[dict] = []
    for s in range(2):
        runs: dict[str, list[dict]] = {w: [] for w in workloads}
        for i in range(args.runs):
            for w in workloads:
                r = run_once(w, args.seed_base + 100 * s + i,
                             bench["run_seconds"], 0)
                runs[w].append(r)
                with open(log, "a") as fh:
                    fh.write(json.dumps(r) + "\n")
                res = r["result"]
                print(f"set {s + 1} {w} seed {r['seed']}: {r['wall_s']:.1f} s "
                      f"correct={res['correct']} failed={res['failed']}/"
                      f"{res['attempted']}", file=sys.stderr, flush=True)
        sets.append(runs)

    ok = True
    projected = 0.0
    longest = 0.0
    for w in workloads:
        walls = [r["wall_s"] for s in sets for r in s[w]]
        projected += 22 * statistics.mean(walls)
        longest = max(longest, max(walls))
        print(f"\n{w}: mean run wall {statistics.mean(walls):.1f} s, "
              f"failed runs {sum(not r['result']['correct'] for s in sets for r in s[w])}")
        for name, m in metrics.items():
            meds = []
            for k, runs in enumerate(sets):
                vals = [r["result"]["metrics"][name]["value"] for r in runs[w]]
                q1, med, q3, sp = spread(vals)
                meds.append(med)
                within = sp <= m["bound"]
                ok &= within
                print(f"  set {k + 1} {name:20s} median {med:12.4f} "
                      f"q1 {q1:12.4f} q3 {q3:12.4f} spread {sp:6.3f} "
                      f"bound {m['bound']:.2f} {'ok' if within else 'WIDE'}"
                      f"{'' if sp < m['bound'] / 3 else ' (over bound/3)'}")
            diff = (meds[1] - meds[0]) / meds[0]
            agree = abs(diff) <= m["bound"]
            ok &= agree
            print(f"  sets agree on {name}: {agree} "
                  f"(second differs by {diff:+.3f})")
    projected += 4 * longest
    print(f"\nprojected full pass: {projected:.0f} s; "
          f"{'steady' if ok else 'NOT steady'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

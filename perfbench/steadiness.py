"""Steadiness receipt: run workloads on several seeds and report, for
every end-to-end metric, the median, quartiles, min/max and the spread
(interquartile distance over the median, as `statistics.quantiles(n=4)`
gives the quartiles).

    python3 perfbench/steadiness.py --seeds 101-110 [--workloads a,b] [--out runs.json]
    python3 perfbench/steadiness.py --summarize runs.json [second-set.json]

With two files, a last table compares the second set's medians with the
first's, positive where the second is worse.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workloads, seeds, seconds):
    out = {}
    for wl in workloads:
        out[wl] = []
        for s in seeds:
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", wl,
                                "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            out[wl].append({"seed": s, "wall_s": round(time.time() - t0, 1),
                            "exit": p.returncode, "result": result, "log": lines[:-1]})
            print(wl, s, "exit", p.returncode, "wall %.1fs" % (time.time() - t0),
                  file=sys.stderr, flush=True)
    return out


def summarize(runs):
    b = bench()
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    print("| workload | metric | n | median | q1 | q3 | min | max | spread | bound |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    for wl, rs in runs.items():
        ok = [r["result"] for r in rs if r["result"]]
        bad = sum(1 for r in ok if not r["correct"]) + len(rs) - len(ok)
        for name in bounds:
            xs = [r["metrics"][name]["value"] for r in ok if name in r["metrics"]]
            if len(xs) < 2:
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            m = statistics.median(xs)
            print(f"| {wl} | {name} | {len(xs)} | {m:.4g} | {q1:.4g} | {q3:.4g} | "
                  f"{min(xs):.4g} | {max(xs):.4g} | {(q3 - q1) / m:.3f} | {bounds[name]} |")
        walls = [r["wall_s"] for r in rs]
        print(f"| {wl} | (runs failed or incorrect: {bad}; wall s median "
              f"{statistics.median(walls):.1f}, max {max(walls):.1f}) | | | | | | | | |")


def compare(first, second):
    b = bench()
    print("| workload | metric | first median | second median | second vs first (worse direction) | bound |")
    print("|---|---|---|---|---|---|")
    for wl in first:
        for m in b["end_to_end"]:
            sign = 1 if m["better"] == "lower" else -1
            med = []
            for runs in (first, second):
                xs = [r["result"]["metrics"][m["name"]]["value"]
                      for r in runs.get(wl, []) if r["result"]]
                med.append(statistics.median(xs) if xs else None)
            if None in med:
                continue
            worse = sign * (med[1] - med[0]) / med[0]
            print(f"| {wl} | {m['name']} | {med[0]:.4g} | {med[1]:.4g} | {worse:+.3f} | {m['bound']} |")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--workloads")
    ap.add_argument("--out")
    ap.add_argument("--summarize", nargs="+")
    a = ap.parse_args()
    if a.summarize:
        sets = []
        for f in a.summarize:
            with open(f) as fh:
                sets.append(json.load(fh))
            print(f"\n{f}:\n")
            summarize(sets[-1])
        if len(sets) == 2:
            print("\nsecond set against the first:\n")
            compare(*sets)
        return
    lo, _, hi = a.seeds.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    wls = a.workloads.split(",") if a.workloads else [w["name"] for w in bench()["workloads"]]
    runs = run(wls, seeds, bench()["run_seconds"])
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(runs, fh, indent=1)
    summarize(runs)


if __name__ == "__main__":
    main()

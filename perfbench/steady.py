#!/usr/bin/env python3
"""Steadiness check for the benchmark.

Runs every workload once per seed, untraced, and prints for each end-to-end
metric the median, the quartiles (statistics.quantiles, n=4) and the spread
(interquartile distance as a share of the median) beside the metric's
bound. Run from the root of a checkout:

    python3 perfbench/steady.py --seeds 1-10 --out steady.json [--workloads a,b]
    python3 perfbench/steady.py --compare first.json second.json

Writes every run's result, its report lines (`metric NAME VALUE UNIT`) and
the summary to --out as JSON. --compare checks two such records against
the bounds: every metric's spread within its bound in both records, and
the two medians apart by no more than the bound, in either direction.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def compare(first, second, bench):
    """Print both records side by side; return True when they agree."""
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    a, b = json.load(open(first))["summary"], json.load(open(second))["summary"]
    ok = True
    for w in a:
        for m, x in a[w].items():
            y = b[w][m]
            worse = (y["median"] - x["median"]) / x["median"]
            if better[m] == "higher":
                worse = -worse
            agree = abs(worse) <= x["bound"] and max(x["spread"], y["spread"]) <= x["bound"]
            ok &= agree
            print(f"{w:14s} {m:20s} median {x['median']:11.4f} -> {y['median']:11.4f} "
                  f"({worse:+.3f} worse) spread {x['spread']:.3f} / {y['spread']:.3f} "
                  f"bound {x['bound']} {'ok' if agree else 'FAIL'}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar="RECORD")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    if a.compare:
        sys.exit(0 if compare(*a.compare, bench) else 1)
    if not a.out:
        ap.error("--out is required unless --compare is given")
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs, summary = [], {}
    # seed-major order: each workload's runs spread over the whole set, so a
    # slow stretch of a shared host touches a few runs of every workload
    # instead of most runs of one
    for s in seeds(a.seeds):
        for w in names:
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last) if last.startswith("{") else {}
            report = {f[1]: float(f[2]) for f in map(str.split, p.stdout.splitlines())
                      if len(f) >= 4 and f[0] == "metric"}
            runs.append({"workload": w, "seed": s, "exit": p.returncode,
                         "wall_s": round(time.time() - t0, 1), "result": res, "report": report})
            print(f"{w} seed {s}: exit {p.returncode} wall {runs[-1]['wall_s']} s "
                  f"correct {res.get('correct')}", flush=True)
    for w in names:
        print(w, flush=True)
        for m, bound in bounds.items():
            vals = [r["result"]["metrics"][m]["value"] for r in runs
                    if r["workload"] == w and r["result"].get("metrics")]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary.setdefault(w, {})[m] = {"median": med, "q1": q1, "q3": q3,
                                            "spread": (q3 - q1) / med, "bound": bound, "n": len(vals)}
            print(f"  {m:22s} median {med:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} "
                  f"spread {(q3 - q1) / med:6.3f} bound {bound}", flush=True)
    json.dump({"runs": runs, "summary": summary}, open(a.out, "w"), indent=1)


if __name__ == "__main__":
    main()

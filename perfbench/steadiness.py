#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports, per workload and
end-to-end metric, the median, the quartiles and the interquartile range as
a share of the median (statistics.quantiles(values, n=4)), plus the host
speed diagnostic (host.calib_start_ms / host.calib_end_ms) and the timed
pass walls of every run.

Usage (from the repository root):

    python3 perfbench/steadiness.py --workloads handler_session,operator_panel \
        --seeds 1-10 [--out perfbench/steadiness/set-a.json]
    python3 perfbench/steadiness.py --compare set-a.json set-b.json

--compare prints, per workload and end-to-end metric, each set's median and
quartiles, the second median relative to the first, and whether both sets'
spreads and the median shift (in either direction) stay within the metric's
bound in BENCHMARK.json (setup_s is held to the median shift only).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed (rc={p.returncode}):\n{p.stderr[-2000:]}")
    info = {}
    for l in lines:
        if l.startswith("  info "):
            k, _, v = l[len("  info "):].partition(" = ")
            info[k] = v
    res = json.loads(lines[-1])
    return {"seed": seed, "wall_s": round(time.time() - t0, 1), "correct": res["correct"],
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "calib_ms": [float(info["host.calib_start_ms"]), float(info["host.calib_end_ms"])],
            "pass_wall_s": [float(x) for x in info["pass_wall_s"].split()]}


def summary(runs):
    out = {}
    for k in runs[0]["metrics"]:
        vals = [r["metrics"][k] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[k] = {"median": med, "q1": q1, "q3": q3,
                  "iqr_share": (q3 - q1) / med if med else float("nan")}
    return out


def compare(bench, paths):
    sets = []
    for p in paths:
        with open(p) as f:
            sets.append(json.load(f))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in sets[0]:
        print(w)
        for k, bound in bounds.items():
            a, b = (s[w]["summary"][k] for s in sets)
            shift = b["median"] / a["median"] - 1
            good = abs(shift) <= bound and (k == "setup_s" or
                                            (a["iqr_share"] <= bound and b["iqr_share"] <= bound))
            ok &= good
            print(f"  {k:28s} bound {bound:.2f}  "
                  f"A {a['median']:.4g} [{a['q1']:.4g}, {a['q3']:.4g}] spread {a['iqr_share']:.3f}  "
                  f"B {b['median']:.4g} [{b['q1']:.4g}, {b['q3']:.4g}] spread {b['iqr_share']:.3f}  "
                  f"B/A-1 {shift:+.3f}  {'ok' if good else 'OUT OF BOUND'}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads")
    ap.add_argument("--seeds")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.compare:
        sys.exit(0 if compare(bench, a.compare) else 1)
    if not (a.workloads and a.seeds):
        ap.error("--workloads and --seeds are required unless --compare is given")
    seconds = a.seconds or bench["run_seconds"]
    workloads = a.workloads.split(",")
    # workloads alternate seed by seed, so a slow stretch of the host falls
    # on both instead of on one workload's consecutive runs
    runs = {w: [] for w in workloads}
    for s in seeds(a.seeds):
        for w in workloads:
            runs[w].append(run(w, s, seconds))
    report = {}
    for w in workloads:
        report[w] = {"runs": runs[w], "summary": summary(runs[w])}
        print(f"{w}: {len(runs[w])} runs, wall {sum(r['wall_s'] for r in runs[w]):.0f}s, "
              f"all correct: {all(r['correct'] for r in runs[w])}")
        for k, v in report[w]["summary"].items():
            print(f"  {k:28s} median {v['median']:12.4f}  q1 {v['q1']:12.4f}  "
                  f"q3 {v['q3']:12.4f}  iqr/median {v['iqr_share']:.4f}")
        calib = [c for r in runs[w] for c in r["calib_ms"]]
        print(f"  host.calib_ms min {min(calib):.1f} median {statistics.median(calib):.1f} "
              f"max {max(calib):.1f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Steadiness check: run each workload repeatedly and report, for every
metric, the median, the quartiles and the spread (interquartile range as a
share of the median) against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py [--workloads region,scan_write]
                                [--runs 10] [--seed0 1000] [--trace 0]

Each run uses its own seed (seed0, seed0 + 1, ...). The per-leg "detail"
metrics are reported too, without a bound. /proc/loadavg and the /proc/stat
steal share during each run are printed as context; they gate nothing.
Results are also written to perfbench/work/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {}
    for wl in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            seed = a.seed0 + i
            t0, s0 = cpu_times()
            la = loadavg()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            t1, s1 = cpu_times()
            lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
            if p.returncode != 0 or len(lines) < 2:
                print(f"{wl} seed {seed}: run failed (exit {p.returncode})", flush=True)
                continue
            res, det = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
            steal = (s1 - s0) / max(1, t1 - t0)
            runs.append({"seed": seed, "result": res, "detail": det, "loadavg": la,
                         "steal": steal})
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{wl} seed {seed}: attempted={res['attempted']} failed={res['failed']} "
                  f"correct={res['correct']} {vals} | loadavg {la} steal {steal:.3f}",
                  flush=True)
        if len(runs) < 2:
            continue
        rows = {}
        for source in ("result", "detail"):
            names = (runs[0]["result"]["metrics"] if source == "result" else
                     {k: v for k, v in runs[0]["detail"].items() if isinstance(v, (int, float))})
            for name in names:
                vals = [r["result"]["metrics"][name]["value"] if source == "result"
                        else r["detail"].get(name) for r in runs]
                vals = [v for v in vals if isinstance(v, (int, float))]
                if len(vals) < 2 or statistics.median(vals) == 0:
                    continue
                q1, med, q3, sp = spread(vals)
                b = bounds.get(name) if source == "result" else None
                rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "bound": b}
                flag = "" if b is None else (" OK" if sp < b / 3 else
                                            (" within bound" if sp <= b else " OVER BOUND"))
                print(f"  {wl:10s} {name:28s} median={med:<12.5g} q1={q1:<12.5g} q3={q3:<12.5g} "
                      f"spread={sp:.3f}" + ("" if b is None else f" bound={b}") + flag)
        fails = {r["result"]["failed"] / r["result"]["attempted"] for r in runs}
        print(f"  {wl:10s} failed share per run: {sorted(fails)}")
        report[wl] = {"runs": runs, "metrics": rows}
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    with open(os.path.join(HERE, "work", "steady.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()

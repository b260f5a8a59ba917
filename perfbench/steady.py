#!/usr/bin/env python3
"""Steadiness check: run each workload repeatedly and report run-to-run spread.

Usage (from the root of a checkout):

    python3 perfbench/steady.py [--runs 10] [--seed0 1000] [--workloads w1,w2]
                                [--trace-runs 1]

For every workload it makes `--runs` untraced runs, each with another seed,
and prints for each end-to-end metric the median, the quartiles (Python's
`statistics.quantiles(values, n=4)`), the spread (q3 - q1) / median, and the
metric's bound from BENCHMARK.json. Every spread, setup_s's too, must stay
within the metric's bound and should stay below a third of it. `--trace-runs` traced
runs per workload then give the per-layer metrics and the tracing overhead:
each traced run's end-to-end figures against the untraced medians.

It also lists the metrics and workloads left out of the benchmark as
unsteady or too slow, with their numbers (perfbench/dropped.json). Raw
results go to .bench_out/steady-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    t = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        return {"rc": p.returncode, "wall_s": time.time() - t}
    extra = {k: v for l in lines[:-1] for k, v in l.items()}
    return dict(lines[-1], rc=0, wall_s=time.time() - t, **extra)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--trace-runs", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    seconds = bench["run_seconds"]
    e2e = bench["end_to_end"]
    report = {"seconds": seconds, "workloads": {}}
    worst_ok = True
    for w in a.workloads.split(","):
        runs = [run(w, a.seed0 + i, seconds, 0) for i in range(a.runs)]
        traced = [run(w, a.seed0 + 500 + i, seconds, 1) for i in range(a.trace_runs)]
        good = [r for r in runs if r.get("rc") == 0]
        print(f"\n== {w}: {len(good)}/{len(runs)} runs ok, "
              f"correct in {sum(1 for r in good if r['correct'])}, "
              f"attempted {sum(r['attempted'] for r in good)}, "
              f"failed {sum(r['failed'] for r in good)}, "
              f"wall {sum(r['wall_s'] for r in runs):.0f} s")
        print(f"{'metric':<20}{'unit':>6}{'median':>12}{'q1':>12}{'q3':>12}"
              f"{'spread':>9}{'bound':>7}  verdict")
        rows = {}
        for m in e2e:
            vals = [r["metrics"][m["name"]]["value"] for r in good]
            if len(vals) < 2:
                continue
            q1, _, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med if med else float("inf")
            if spread <= m["bound"] / 3:
                verdict = "ok (< bound/3)"
            elif spread <= m["bound"]:
                verdict = "within bound, above bound/3"
            else:
                verdict = "UNSTEADY"
                worst_ok = False
            rows[m["name"]] = {"values": vals, "median": med, "q1": q1, "q3": q3,
                               "spread": spread, "bound": m["bound"]}
            print(f"{m['name']:<20}{m['unit']:>6}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}"
                  f"{spread:>9.3f}{m['bound']:>7.2f}  {verdict}")
        for t in traced:
            if t.get("rc") != 0:
                print(f"traced run failed (rc {t.get('rc')})")
                continue
            over = {k: (v["value"] - rows[k]["median"]) / rows[k]["median"]
                    for k, v in t.get("e2e_traced", {}).items() if k in rows}
            print("tracing overhead (traced vs untraced median): " +
                  ", ".join(f"{k} {v:+.1%}" for k, v in sorted(over.items())))
            print("per-layer: " + ", ".join(
                f"{k}={v['value']:.4g}{v['unit']}" for k, v in sorted(t["metrics"].items())))
        report["workloads"][w] = {"metrics": rows, "runs": runs, "traced": traced}
    dropped = os.path.join(HERE, "dropped.json")
    if os.path.exists(dropped):
        with open(dropped) as fh:
            print("\nleft out of the benchmark:")
            for d in json.load(fh):
                print(f"- {d['what']}: {d['why']}")
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    out = os.path.join(ROOT, ".bench_out", f"steady-{int(time.time())}.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"\nraw results: {os.path.relpath(out, ROOT)}")
    sys.exit(0 if worst_ok else 1)


if __name__ == "__main__":
    main()

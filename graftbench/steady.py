#!/usr/bin/env python3
"""Steadiness check for the graft benchmark. Run from the repository root.

    # N runs of one workload, one seed each; prints median, quartiles and
    # min/max of every metric, and saves the results
    python3 graftbench/steady.py run --workload refresh --runs 10 --seed0 1 \
        --out .bench_out/refresh-a.json [--trace 1]

    # two sets of runs of the same code: spread of each set against the
    # metric's bound in BENCHMARK.json, and the shift between the medians
    python3 graftbench/steady.py compare .bench_out/refresh-a.json .bench_out/refresh-b.json

    # models whose work (tasks, shuffle records) differs between
    # traced runs of the refresh workload (its cold build)
    python3 graftbench/steady.py models .bench_out/traces/trace-refresh-*.jsonl
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def summary(results):
    metrics = {}
    for r in results:
        for k, v in r["metrics"].items():
            metrics.setdefault(k, (v["unit"], []))[1].append(v["value"])
    out = {}
    for k, (unit, vals) in metrics.items():
        q1, q2, q3 = quartiles(vals)
        med = statistics.median(vals)
        out[k] = {"unit": unit, "n": len(vals), "median": med, "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / med if med else 0.0,
                  "min": min(vals), "max": max(vals)}
    return out


def show(s):
    print(f"{'metric':28} {'unit':6} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'min':>12} {'max':>12}")
    for k, m in s.items():
        print(f"{k:28} {m['unit']:6} {m['n']:3d} {m['median']:12.4f} {m['q1']:12.4f} "
              f"{m['q3']:12.4f} {m['spread']:7.3f} {m['min']:12.4f} {m['max']:12.4f}")


def cmd_run(a):
    results = []
    for i in range(a.runs):
        seed = a.seed0 + i
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "graftbench/run.py", "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", a.trace],
            capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {p.returncode})\n{p.stderr[-2000:]}")
            continue
        r = json.loads(lines[-1])
        r["seed"] = seed
        r["env"] = next((json.loads(l[5:]) for l in lines if l.startswith("env: ")), {})
        r["wall_s"] = time.time() - t0
        results.append(r)
        print(f"seed {seed} ({r['wall_s']:.0f} s): correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    with open(a.out, "w") as fh:
        json.dump(results, fh, indent=1)
    show(summary(results))
    print(f"run wall: " + " ".join(f"{r['wall_s']:.0f}" for r in results))
    bad = [r["seed"] for r in results if not r["correct"] or r["failed"]]
    print(f"runs={len(results)}/{a.runs} incorrect={bad}")


def cmd_compare(a):
    with open(a.bench) as fh:
        bounds = {m["name"]: m for m in json.load(fh)["end_to_end"]}
    sets = []
    for path in (a.first, a.second):
        with open(path) as fh:
            sets.append(summary(json.load(fh)))
    print(f"{'metric':16} {'bound':>6} {'spread1':>8} {'spread2':>8} {'median1':>12} "
          f"{'median2':>12} {'shift':>7}  verdict")
    ok = True
    for k, b in bounds.items():
        if k not in sets[0] or k not in sets[1]:
            continue
        m1, m2 = sets[0][k], sets[1][k]
        worse = (m2["median"] - m1["median"]) / m1["median"]
        if b["better"] == "higher":
            worse = -worse
        spread_ok = max(m1["spread"], m2["spread"]) <= b["bound"]
        steady = max(m1["spread"], m2["spread"]) < b["bound"] / 3
        good = spread_ok and worse <= b["bound"]
        ok &= good
        verdict = ("ok" if good else "FAIL") + ("" if steady else " (spread above bound/3)")
        print(f"{k:16} {b['bound']:6.3f} {m1['spread']:8.3f} {m2['spread']:8.3f} "
              f"{m1['median']:12.4f} {m2['median']:12.4f} {worse:7.3f}  {verdict}")
    print("ACCEPT" if ok else "REJECT")


def cmd_models(a):
    work = {}
    for path in a.traces:
        with open(path) as fh:
            for line in fh:
                r = json.loads(line)
                if "model" in r and r["pass"] == 0:
                    work.setdefault(r["model"], {})[path] = (r["tasks"], r["shuffle_records"])
    runs = len(a.traces)
    differ = {m: w for m, w in work.items() if len(set(w.values())) > 1 or len(w) < runs}
    for m, w in sorted(differ.items()):
        vals = sorted(set(w.values()))
        print(f"{m:40} (tasks, shuffle records) seen: {vals}")
    print(f"{len(differ)} of {len(work)} models did different work across {runs} cold builds")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1)
    r.add_argument("--seconds", type=float, default=4)
    r.add_argument("--trace", choices=["0", "1"], default="0")
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    c.add_argument("--bench", default="BENCHMARK.json")
    m = sub.add_parser("models")
    m.add_argument("traces", nargs="+")
    a = ap.parse_args()
    {"run": cmd_run, "compare": cmd_compare, "models": cmd_models}[a.cmd](a)


if __name__ == "__main__":
    main()

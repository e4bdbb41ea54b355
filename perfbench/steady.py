#!/usr/bin/env python3
"""Steadiness check of the graft benchmark.

Runs each workload once per seed (untraced) and prints, for every
end-to-end metric, the median of the runs and their quartile spread:
(Q3 - Q1) / median, with the quartiles of statistics.quantiles(n=4). A
spread is "steady" below a third of the metric's bound in BENCHMARK.json,
"wide" below the bound, and "too wide" above it. With --against, the
medians are compared with an earlier result file: a median worse by more
than the bound is a regression. With
--trace, every seed is also run traced and the tracing overhead (traced
minus untraced op_cpu_ms_p50) is printed.

    python3 perfbench/steady.py                       # 10 seeds, all workloads
    python3 perfbench/steady.py --workloads lookup --seeds 5
    python3 perfbench/steady.py --against perfbench/out/steady-<time>.json

Results are written to perfbench/out/steady-<time>.json.
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
OVERHEAD = ("op_cpu_ms_p50",)


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0"]
    t = time.time()
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
        raise SystemExit(f"steady: {workload} seed {seed} failed")
    lines = r.stdout.strip().split("\n")
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"steady: {workload} seed {seed}: {result['failed']} failed checks")
    info = next((json.loads(x)["info"] for x in lines if x.startswith('{"info"')), {})
    return {k: v["value"] for k, v in result["metrics"].items()}, wall, info


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(names))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--against", help="an earlier steady-*.json to compare medians with")
    a = ap.parse_args()

    seconds = bench["run_seconds"]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    seeds = list(range(a.first_seed, a.first_seed + a.seeds))
    out = {"seconds": seconds, "seeds": seeds, "workloads": {}}
    for w in a.workloads.split(","):
        runs, walls, overhead = [], [], []
        for seed in seeds:
            m, wall, info = run(w, seed, seconds, trace=False)
            runs.append(m)
            walls.append(wall)
            line = (f"{w} seed {seed}: wall {wall:.1f} s  ops {info.get('ops')}  "
                    f"steal {float(info.get('host.steal_pct', 'nan')):.1f}%  ") + "  ".join(
                f"{k}={m[k]:.4g}" for k in metrics)
            if a.trace:
                t, twall, _ = run(w, seed, seconds, trace=True)
                walls.append(twall)
                overhead.append({k: t[f"traced.{k}"] - m[k] for k in OVERHEAD})
                line += f"  | traced wall {twall:.1f} s"
            print(line, flush=True)
        summary = {}
        for k, spec in metrics.items():
            med, sp = spread([r[k] for r in runs])
            bound = spec["bound"]
            verdict = ("steady" if sp < bound / 3
                       else "wide" if sp <= bound else "TOO WIDE")
            summary[k] = {"median": med, "spread": sp, "bound": bound, "verdict": verdict,
                          "values": [r[k] for r in runs]}
        out["workloads"][w] = {"metrics": summary, "walls": walls}
        print(f"\n{w}: mean run wall {statistics.mean(walls):.1f} s")
        print(f"  {'metric':28} {'median':>12} {'spread':>8} {'bound':>6}  verdict")
        for k, s in summary.items():
            print(f"  {k:28} {s['median']:12.4f} {s['spread']:8.4f} {s['bound']:6.2f}  {s['verdict']}")
        if overhead:
            for k in OVERHEAD:
                print(f"  tracing overhead {k}: median traced - untraced = "
                      f"{statistics.median(o[k] for o in overhead):+.4f}")
        print(flush=True)

    if a.against:
        with open(a.against) as f:
            before = json.load(f)["workloads"]
        print("medians against", a.against)
        for w, res in out["workloads"].items():
            for k, s in res["metrics"].items():
                if w not in before or k not in before[w]["metrics"]:
                    continue
                old = before[w]["metrics"][k]["median"]
                worse = (s["median"] - old) / old if metrics[k]["better"] == "lower" \
                    else (old - s["median"]) / old
                flag = "REGRESSION" if worse > metrics[k]["bound"] else "ok"
                print(f"  {w:8} {k:28} {old:12.4f} -> {s['median']:12.4f}  worse by {worse:+.3f}  {flag}")

    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    path = os.path.join(HERE, "out", time.strftime("steady-%Y%m%d-%H%M%S.json"))
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("written", path)


if __name__ == "__main__":
    main()

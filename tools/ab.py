#!/usr/bin/env python3
"""A/B the benchmark between two checkouts: alternating parent/change pairs.

Runs `perfbench/run.py` from each checkout (each with its own build and
stores), N pairs per workload, one seed per pair, alternating which side
runs first. Every run's result line is appended to a JSONL log as it
finishes, so a cut session keeps what it measured. Then, per workload and
metric, it prints each side's median and quartiles, the parent's
IQR/median, the change's median delta and how many pairs the change won
(ties count for neither side).

    python3 tools/ab.py --parent ../parent --change . \\
        --workload iterative --pairs 10 --seed 1 --seconds 10 --log ab.jsonl
    python3 tools/ab.py --summarize ab.jsonl      # summary of a log only

Which direction is better comes from the change checkout's BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def run_side(checkout, workload, seed, seconds, trace):
    """One perfbench run; returns its result line (a dict) and wall time."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.time() - t0
    result = None
    for line in p.stdout.splitlines():
        if line.startswith('{"correct"'):
            result = json.loads(line)
    if p.returncode != 0 or result is None:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} in {checkout}")
    info = [l for l in p.stdout.splitlines() if l.startswith("workload ")]
    return result, wall, (info[0] if info else "")


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def better_lower(bench_json):
    """metric name -> True when lower is better."""
    doc = json.loads(Path(bench_json).read_text())
    return {m["name"]: m["better"] == "lower"
            for m in doc.get("end_to_end", []) + doc.get("per_layer", [])}


def summarize(records, lower):
    by_wl = {}
    for r in records:
        by_wl.setdefault(r["workload"], []).append(r)
    for wl, rs in sorted(by_wl.items()):
        pairs = {}
        for r in rs:
            pairs.setdefault(r["seed"], {})[r["side"]] = r
        full = [p for _, p in sorted(pairs.items()) if len(p) == 2]
        failed = {s: sum(p[s]["result"]["failed"] for p in full)
                  for s in ("parent", "change")}
        print(f"\n== {wl}: {len(full)} pairs (seeds "
              f"{', '.join(str(p['parent']['seed']) for p in full)}), "
              f"failed ops parent {failed['parent']} change {failed['change']}")
        print(f"{'metric':<28} {'parent q1/med/q3':>28} {'change q1/med/q3':>28}"
              f" {'par IQR/med':>11} {'delta':>8} {'wins':>6}")
        names = sorted({k for p in full for s in p.values()
                        for k in s["result"]["metrics"]})
        for name in names:
            vals = {s: [p[s]["result"]["metrics"].get(name, {}).get("value")
                        for p in full] for s in ("parent", "change")}
            ok = [i for i in range(len(full))
                  if vals["parent"][i] is not None and vals["change"][i] is not None]
            if not ok:
                continue
            par = [vals["parent"][i] for i in ok]
            chg = [vals["change"][i] for i in ok]
            pq, cq = quartiles(par), quartiles(chg)
            low = lower.get(name, True)
            wins = sum((c < p) if low else (c > p) for p, c in zip(par, chg))
            iqr = (pq[2] - pq[0]) / pq[1] if pq[1] else float("nan")
            delta = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
            fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
            print(f"{name:<28} {fmt(pq):>28} {fmt(cq):>28} {iqr:>11.3f}"
                  f" {delta:>+8.1%} {wins:>3}/{len(ok):<2}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="parent checkout")
    ap.add_argument("--change", help="change checkout")
    ap.add_argument("--workload", action="append",
                    help="workload (repeat for several)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", help="JSONL file every run is appended to")
    ap.add_argument("--summarize", metavar="LOG",
                    help="only print the summary of an existing log")
    a = ap.parse_args()
    lower = better_lower(str(Path(a.change or ".") / "BENCHMARK.json"))
    if a.summarize:
        records = [json.loads(l) for l in Path(a.summarize).read_text().splitlines() if l]
        summarize(records, lower)
        return
    if not (a.parent and a.change and a.workload and a.log):
        ap.error("--parent, --change, --workload and --log are required")
    sides = {"parent": str(Path(a.parent).resolve()),
             "change": str(Path(a.change).resolve())}
    records = []
    with open(a.log, "a") as log:
        for wl in a.workload:
            for i in range(a.pairs):
                seed = a.seed + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    result, wall, info = run_side(sides[side], wl, seed,
                                                  a.seconds, a.trace)
                    rec = {"workload": wl, "seed": seed, "side": side,
                           "first": order[0], "wall_s": round(wall, 1),
                           "info": info, "result": result}
                    records.append(rec)
                    log.write(json.dumps(rec) + "\n")
                    log.flush()
                    print(f"{wl} seed {seed} {side}: {info}", flush=True)
    summarize(records, lower)


if __name__ == "__main__":
    main()

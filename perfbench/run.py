#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one fresh JVM, one result.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source on first use (perfbench/build.py), prebuilds
the persisted stores the query workloads read, then runs the workload
closed-loop (one client, one op at a time, local[nproc]) in a fresh JVM
with its own working directory and java.io.tmpdir. The seed permutes the
order of the workload's ops; the ops and fixtures are fixed. Every op's
result digest is checked against perfbench/reference.json.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). The lines before it print the same metrics for a reader.
See perfbench/README.md for what each workload and metric means.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
WORK = build.WORK
# the read-only sf0.1 fixtures every workload reads; SPARK_GRAFT_SF_DIR is
# the variable graft.Bench reads too
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", str(Path.home() / "testdata" / "sf0.1"))
JVM_TIMEOUT_S = 170
PREBUILD_TIMEOUT_S = 600

WORKLOADS = json.loads((HERE / "workloads.json").read_text())

MODULES = ["queries", "plans", "ml", "dedup", "text", "etl", "profiling",
           "sources", "core", "functions"]
# the stores the iterative workload rebuilds, named by their ensure* frame
STORES = ["sig_store"]
MB = 1048576.0

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return fields[7], sum(fields)


def other_jvms():
    n = 0
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                n += (p / "comm").read_text().strip() == "java"
            except OSError:
                pass
    return n


def run_jvm(spec, cwd, timeout=JVM_TIMEOUT_S):
    """Runs the harness once in a fresh JVM whose working directory and
    temporary directories are under `cwd`; returns its output document."""
    tmp = cwd / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    spec_file, out_file = cwd / "spec.properties", cwd / "out.json"
    out_file.unlink(missing_ok=True)
    spec["launch_ms"] = int(time.time() * 1000)
    spec_file.write_text("".join(f"{k}={v}\n" for k, v in spec.items()))
    cmd = ["java", "-Xmx4g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *JDK17_OPENS, "-cp", build.classpath(),
           "org.apache.spark.graftbench.Harness", str(spec_file), str(out_file)]
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.DEVNULL,
                            stderr=open(cwd / "jvm.log", "w"))
    try:
        code = proc.wait(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.copy(cwd / "jvm.log", WORK / "last_jvm.log")
    if code != 0 or not out_file.exists():
        tail = (cwd / "jvm.log").read_text(errors="replace")[-3000:]
        fail(f"harness exited with {code}:\n{tail}")
    return json.loads(out_file.read_text())


def ensure_stores(stamp):
    """Prebuilds the persisted stores the query workloads read, once per
    build: the stores are keyed on the fixture but not on the code that
    built them, so a new build starts from an empty store directory."""
    home = WORK / "stores"
    mark = home / "stores.stamp"
    if mark.exists() and mark.read_text() == stamp:
        return home / "target"
    shutil.rmtree(home, ignore_errors=True)
    home.mkdir(parents=True)
    print(f"perfbench: prebuilding stores for {SF_DIR}", file=sys.stderr)
    run_jvm({"mode": "prebuild", "sf_dir": SF_DIR}, home, PREBUILD_TIMEOUT_S)
    shutil.rmtree(home / "tmp", ignore_errors=True)
    mark.write_text(stamp)
    return home / "target"


def tail_percentile(xs):
    """The highest whole percentile with at least ten samples beyond it,
    by nearest rank; None when there are fewer than eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    p = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(p * n / 100))
    while n - rank < 10:
        p -= 1
        rank = max(1, math.ceil(p * n / 100))
    return p, s[rank - 1], n - rank


def account(doc, reference):
    """Marks each op record failed when it threw or its (rows, digest)
    differs from the reference; failed ops are left out of every timing.
    Returns (attempted, failed)."""
    for r in doc["ops"]:
        ref = reference.get(r["op"])
        r["failed"] = bool(r["error"]) or ref is None or \
            [r["rows"], r["digest"]] != [ref["rows"], ref["digest"]]
        r["wall_s"] = (r["end"] - r["start"]) / 1e3
    return len(doc["ops"]), sum(r["failed"] for r in doc["ops"])


def pass_times(doc):
    """Per pass: the summed wall time of its ops that did not fail."""
    out = {}
    for r in doc["ops"]:
        if not r["failed"]:
            out[r["pass"]] = out.get(r["pass"], 0.0) + r["wall_s"]
    return out


def end_to_end(doc):
    passes = pass_times(doc)
    warm = [t for p, t in passes.items() if p > 0]
    warm_ops = [r["wall_s"] for r in doc["ops"] if r["pass"] > 0 and not r["failed"]]
    nan = float("nan")
    return {
        "setup_s": doc["setup_s"],
        "cold_pass_s": passes.get(0, nan),
        "warm_pass_s": statistics.median(warm) if warm else nan,
        "op_p50_s": statistics.median(warm_ops) if warm_ops else nan,
        "retained_heap_mb": doc["heap_mb"],
    }, tail_percentile(warm_ops)


def layer_row(recs, cpus):
    """The per-layer totals of one traced pass's ops that did not fail."""
    wall = sum(r["wall_s"] for r in recs)
    t, samples = {}, {}
    for r in recs:
        for ph in ("build", "action"):
            x = r[ph]
            if not x:
                continue
            t[f"{ph}_s"] = t.get(f"{ph}_s", 0.0) + (x["end"] - x["start"]) / 1e3
            t[f"{ph}_jobs"] = t.get(f"{ph}_jobs", 0) + x["jobs"]
            for k, v in x.items():
                if k == "samples":
                    for sk, sv in v.items():
                        samples[sk] = samples.get(sk, 0.0) + sv
                elif k not in ("start", "end"):
                    t[k] = t.get(k, 0) + v
        t["store_files"] = t.get("store_files", 0) + r["files"]
        t["store_bytes"] = t.get("store_bytes", 0) + r["bytes"]
    row = {
        "queries.build_s": t.get("build_s", 0.0),
        "queries.build_jobs": t.get("build_jobs", 0),
        "queries.action_s": t.get("action_s", 0.0),
        "spark.jobs": t.get("jobs", 0),
        "spark.stages": t.get("stages", 0),
        "spark.tasks": t.get("tasks", 0),
        "spark.out_of_job_s": max(0.0, wall - t.get("in_job_s", 0.0)),
        "spark.executor_run_s": t.get("run_s", 0.0),
        "spark.executor_cpu_s": t.get("cpu_s", 0.0),
        "spark.executor_util": t.get("run_s", 0.0) / (wall * cpus) if wall else 0.0,
        "spark.shuffle_write_mb": t.get("shuffle_write_b", 0) / MB,
        "spark.shuffle_read_mb": t.get("shuffle_read_b", 0) / MB,
        "spark.spill_mb": t.get("spill_b", 0) / MB,
        "spark.result_mb": t.get("result_b", 0) / MB,
        "spark.gc_s": t.get("gc_s", 0.0),
        "spark.failed_tasks": t.get("failed_tasks", 0),
        "core.scan_mb": t.get("scan_b", 0) / MB,
        "core.scan_rows": t.get("scan_rows", 0),
    }
    for m in MODULES:
        row[f"{m}.driver_s"] = samples.get(f"{m}.driver_s", 0.0)
        row[f"{m}.job_wait_s"] = samples.get(f"{m}.job_wait_s", 0.0)
    row["stores.build_s"] = sum(v for k, v in samples.items() if k.startswith("stores."))
    for s in STORES:
        row[f"stores.{s}.build_s"] = samples.get(f"stores.{s}.build_s", 0.0)
    row["stores.written_mb"] = t.get("store_bytes", 0) / MB
    row["stores.files"] = t.get("store_files", 0)
    return row


def per_layer(doc):
    """Per-layer metrics: the median over traced warm passes of each
    pass's totals, plus the tracing overhead: traced against untraced
    warm passes of the same run. A metric is None when it has nothing to
    measure, e.g. when every op of the traced warm passes failed."""
    traced = {}
    for r in doc["ops"]:
        if r["pass"] > 0 and r["traced"] and not r["failed"]:
            traced.setdefault(r["pass"], []).append(r)
    rows = [layer_row(recs, doc["cpus"]) for recs in traced.values()]
    out = {k: statistics.median(r[k] for r in rows) if rows else None
           for k in layer_row([], doc["cpus"])}
    out["spark.block_mb_peak"] = doc["block_mb_peak"]
    passes = pass_times(doc)
    traced_passes = {p["pass"] for p in doc["passes"] if p["traced"]}
    on = [t for p, t in passes.items() if p > 0 and p in traced_passes]
    off = [t for p, t in passes.items() if p > 0 and p not in traced_passes]
    out["trace.overhead_frac"] = \
        statistics.median(on) / statistics.median(off) - 1 if on and off else None
    return out


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if "_mb" in name:
        return "MB"
    if name.endswith(("_frac", "_util")):
        return "1"
    return "count"


def run_workload(name, seed, seconds, trace):
    ops = WORKLOADS[name]
    if not (Path(SF_DIR) / "lineitem.parquet").exists():
        fail(f"no fixtures at {SF_DIR}")
    stamp = build.ensure_built()
    stores = ensure_stores(stamp)
    rundir = WORK / "runs" / f"{name}-{seed}-{os.getpid()}"
    shutil.rmtree(rundir, ignore_errors=True)
    rundir.mkdir(parents=True)
    try:
        # store ops delete and rebuild stores: each run gets its own copy
        shutil.copytree(stores, rundir / "target")
        env = {"load_before": os.getloadavg()[0], "jvms_before": other_jvms()}
        steal0, total0 = cpu_ticks()
        doc = run_jvm({"mode": "run", "sf_dir": SF_DIR, "ops": ",".join(ops), "seed": seed,
                       "seconds": seconds, "trace": int(trace)}, rundir)
        steal1, total1 = cpu_ticks()
        env.update(load_after=os.getloadavg()[0], jvms_after=other_jvms(),
                   steal=(steal1 - steal0) / max(1, total1 - total0))
        if trace:
            traces = WORK / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            (traces / f"{name}.json").write_text(json.dumps(doc["spans"]))
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    return doc, env


def main():
    # a terminated run still stops its JVM (run_jvm's finally kills it)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    reference = json.loads((HERE / "reference.json").read_text())[a.workload]
    doc, env = run_workload(a.workload, a.seed, a.seconds, a.trace == 1)
    attempted, failed = account(doc, reference)
    for r in doc["ops"]:
        if r["failed"]:
            print(f"FAILED pass {r['pass']} {r['op']}: "
                  f"{r['error'] or 'digest differs from reference'}")
    print(f"workload {a.workload} seed {a.seed}: {attempted} ops attempted, "
          f"{failed} failed (failed_frac {failed / attempted:.4f}), "
          f"{len(doc['passes'])} passes, {doc['cpus']} cores, "
          f"load {env['load_before']:.2f}->{env['load_after']:.2f}, "
          f"other JVMs {env['jvms_before']}->{env['jvms_after']}, "
          f"CPU steal {env['steal']:.1%}")
    if a.trace:
        metrics = per_layer(doc)
    else:
        metrics, tail = end_to_end(doc)
        print("  op_tail_s: " + (f"{tail[1]:.6g} s, p{tail[0]} of the warm op samples, "
                                 f"{tail[2]} beyond it" if tail else
                                 "undefined, fewer than 11 warm op samples"))
    # a metric with no successful op to measure (e.g. every op failed) has
    # no value; JSON has no NaN
    out = {k: {"value": v if v is not None and math.isfinite(v) else None,
               "unit": unit_of(k)} for k, v in metrics.items()}
    for k, v in out.items():
        print(f"  {k}: {v['value']} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Regenerates perfbench/reference.json: each op's (rows, digest).

Runs every workload once (a cold pass and two warm passes) and keeps an
op's digest only if all its passes agree and none threw. Rerun it only
when an op's output is meant to change, after checking the new output
against the DuckDB oracle (see perfbench/README.md).

Usage: python3 perfbench/record_reference.py
"""
import json
import sys

import run

reference = {}
for name in sorted(run.WORKLOADS):
    doc, _ = run.run_workload(name, seed=0, seconds=1, trace=False)
    ops = {}
    for r in doc["ops"]:
        if r["error"]:
            sys.exit(f"{name}/{r['op']} threw: {r['error']}")
        got = {"rows": r["rows"], "digest": r["digest"]}
        if ops.setdefault(r["op"], got) != got:
            sys.exit(f"{name}/{r['op']} differs between passes: {ops[r['op']]} vs {got}")
    reference[name] = dict(sorted(ops.items()))
    print(f"{name}: {len(ops)} ops", file=sys.stderr)
(run.HERE / "reference.json").write_text(json.dumps(reference, indent=1) + "\n")

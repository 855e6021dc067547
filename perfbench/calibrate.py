#!/usr/bin/env python3
"""Measures reference.json: each query's and each stream phase's batch time
on this box, as medians over several seeds.

    python3 perfbench/calibrate.py [SEEDS ...]      (default: 1 2)

A batch workload's pass, in each seed's order, is cut into prefixes of
about a run's length (SECONDS), and each prefix runs in its own JVM exactly
as a run does, so the reference sees the
same JVM and cache state the runs do; the stream replays 40 batches per
phase. Sizing the prefixes needs a reference: the current reference.json.
A seed's parts already recorded under .bench_build/calibrate are reused when
they cover its pass; delete that directory to measure afresh. Output-check failures are printed and written
into the file: their times still count.
"""
import json
import os
import statistics
import sys
import time

import run

SECONDS = 10  # the timed pass of a batch run at --seconds 20


def measure(workload, seed, part, plan, nproc, heap):
    root = os.path.join(run.BUILD, "calibrate", f"{workload}-{seed}-{part}")
    data, out = os.path.join(root, "data"), os.path.join(root, "out")
    done = os.path.join(out, "raw.json")
    plan_file = os.path.join(out, "plan.txt")
    if os.path.exists(done) and open(plan_file).read().split("\n")[:-1] == plan:
        with open(done) as f:
            raw = json.load(f)
    else:
        run.gen.write_tables(seed, run.SCALE, data)
        if workload == "stream":
            run.gen.write_stream(seed, 40, data)
        raw = run.launch(workload, seed, plan, data, out, 0, nproc, heap, time.time() + 1800)
    if workload == "stream":
        bad = {k: v["problems"] for k, v in run.check_stream(raw, data, out).items() if not v["ok"]}
    else:
        run.check_queries(raw, data, out)
        bad = {o["name"]: o["check"] for o in raw["ops"] if not o["checked_ok"]}
    print(f"{workload} seed {seed} part {part}: {len(raw['ops'])} ops, "
          f"{sum(run._dur_s(o) for o in run.timed(raw['ops'])):.1f} s, failed checks: {bad or 'none'}", flush=True)
    return raw, bad


def plans(workload, seed, names, group, ref):
    """The parts of one seed's pass: those already recorded when they cover
    the pass, else prefixes sized by `ref`."""
    if workload == "stream":
        return [[f"{p} 40" for p in run.PHASES]]
    order = run.pass_order(seed, workload, names[workload], group)
    recorded, part = [], 0
    while os.path.exists(os.path.join(run.BUILD, "calibrate", f"{workload}-{seed}-{part}", "out", "raw.json")):
        with open(os.path.join(run.BUILD, "calibrate", f"{workload}-{seed}-{part}", "out", "plan.txt")) as f:
            recorded.append(f.read().split())
        part += 1
    if sum(recorded, []) == order:
        return recorded
    out = []
    while order:
        out.append(run.prefix(order, SECONDS, ref))
        order = order[len(out[-1]):]
    return out


def main(seeds):
    nproc, heap = run.box()
    commit = run.ensure_build(heap)
    names, group = run.declared()
    previous = run.reference()
    per_query, per_phase, failures = {}, {p: [] for p in run.PHASES}, {}
    for seed in seeds:
        for workload in run.WORKLOADS:
            for part, plan in enumerate(plans(workload, seed, names, group, previous)):
                raw, bad = measure(workload, seed, part, plan, nproc, heap)
                if bad:
                    failures[f"{workload} seed {seed} part {part}"] = bad
                for o in run.timed(raw["ops"]):
                    d = run._dur_s(o)
                    if o["kind"] == "batch":
                        per_phase[o["phase"]].append(d)
                    else:
                        per_query.setdefault(o["name"], []).append(d)
    ref = {
        "about": "median seconds per query (its timed, second run) and per stream batch "
                 f"over seeds {seeds}; nproc {nproc}, heap {heap}, sources {commit[:12]}",
        "check_failures": failures,
        "workloads": names,
        "queries": {n: round(statistics.median(v), 4) for n, v in sorted(per_query.items())},
        "batches": {p: round(statistics.median(v), 4) for p, v in per_phase.items()},
    }
    with open(os.path.join(run.HERE, "reference.json"), "w") as f:
        json.dump(ref, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main([int(s) for s in sys.argv[1:]] or [1, 2])

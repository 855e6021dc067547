#!/usr/bin/env python3
"""Benchmark of the graft engine: two workloads, one closed-loop client.

    python3 perfbench/run.py --workload batch|stream --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source into .bench_build; later runs reuse the build while the
sources are unchanged. Each run generates its inputs from the seed, sizes its
work from reference.json to take about S seconds on the reference box,
drives the program in one JVM, checks every output outside the timed region
and prints the metrics; the last line of stdout is one JSON object. With
--trace 1 it runs the same seed twice, untraced and with Spark's listeners
registered, and prints the per-layer metrics instead. A full record of each
run, and the span file of a traced run, go to .bench_build/results.
See README.md for what each workload and metric means.
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("batch", "stream")
PHASES = ("tumble", "topn", "wjoin")
WINDOW_US = 300_000_000  # the pipelines' 5-minute tumbling window
SCALE = 0.01          # table scale factor of the batch workloads
SETUPS = 3            # session set-ups per run; setup_s is their median
WARMUP = 2            # untimed start-up batches of each stream pipeline
BATCH_TIMED = 0.5     # share of --seconds that batch's timed pass fills at
                      # reference cost; its untimed first pass takes about
                      # as long again
JVM_SECONDS = 170     # a run's budget after the build
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation the program builds and runs against."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def classpath():
    return os.pathsep.join([os.path.join(BUILD, "target", "scala-2.13", "classes"),
                            os.path.join(spark_home(), "jars", "*")])


def java_cmd(heap, main_args, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xmx{heap}", *opens, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath(), "perfbench.Harness", *main_args]


def ensure_build(heap):
    """Compiles program and harness when the sources changed since the last
    build, and lists the batch workload's declared queries. Returns the
    sources' hash, which identifies the commit in each run's record."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (src/main/scala) are not in this checkout")
    stamp_path = os.path.join(BUILD, "stamp")
    digest = source_hash()
    listing = os.path.join(BUILD, "workloads.txt")
    if os.path.exists(stamp_path) and open(stamp_path).read() == digest and os.path.exists(listing):
        return digest
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                            "-Dsbt.server.autostart=false", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=880)
    if r.returncode != 0:
        fail(f"build failed, see {log}")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(java_cmd(heap, ["--list", listing], tmp), cwd=ROOT,
                       stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, timeout=120)
    if r.returncode != 0:
        fail("listing the workloads failed: " + r.stderr.decode()[-2000:])
    with open(stamp_path, "w") as f:
        f.write(digest)
    return digest


def box():
    """This box's lane count and the driver heap Tier-1 would set."""
    nproc = len(os.sched_getaffinity(0))
    mem_kb = next(int(line.split()[1]) for line in open("/proc/meminfo") if line.startswith("MemTotal:"))
    g = min(8, max(2, mem_kb // 2097152))
    return nproc, f"{g}g"


def loadavg():
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


def declared():
    """The batch workload's declared queries, and the group (`sql` or
    `curation`) of each."""
    names, group = [], {}
    for line in open(os.path.join(BUILD, "workloads.txt")):
        _, name, g = line.split()
        names.append(name)
        group[name] = g
    return {"batch": names}, group


def reference():
    with open(os.path.join(HERE, "reference.json")) as f:
        return json.load(f)


def ref_cost(ref, name):
    """Reference seconds of one query; one the reference does not know costs
    the median query."""
    costs = ref["queries"]
    return costs.get(name, statistics.median(costs.values()))


def pass_order(seed, workload, names, group):
    """Every declared query of the workload once: a seeded permutation of
    each group, the groups taken in turn (one `sql` query, one `curation`
    query, ...) until one runs out, then the rest of the other. Every prefix
    of the pass then holds both groups in about equal numbers."""
    rng = gen.np.random.default_rng([seed, WORKLOADS.index(workload)])
    perm = [names[i] for i in rng.permutation(len(names))]
    return interleave([n for n in perm if group[n] == g] for g in ("sql", "curation"))


def interleave(orders):
    """One item from each list in turn, skipping lists that have run out."""
    orders = [list(o) for o in orders]
    out = []
    for i in range(max(map(len, orders))):
        out += [o[i] for o in orders if i < len(o)]
    return out


def prefix(order, seconds, ref):
    """The first queries of `order` that cost `seconds` on the reference box;
    at least one."""
    out, total = [], 0.0
    for n in order:
        if out and total >= seconds:
            break
        out.append(n)
        total += ref_cost(ref, n)
    return out


def plan_stream(seconds, ref):
    """Every phase replays the same first batches of the schedule: WARMUP
    that start the pipeline up, then as many timed ones as fill the run at
    the phases' summed reference batch times, and at least six, so each
    phase's batch times rest on several samples."""
    return WARMUP + max(6, int(round(seconds / sum(ref["batches"][p] for p in PHASES))))


def launch(workload, seed, plan_lines, data_dir, run_dir, trace, nproc, heap, deadline):
    os.makedirs(run_dir, exist_ok=True)
    plan_file = os.path.join(run_dir, "plan.txt")
    with open(plan_file, "w") as f:
        f.write("\n".join(plan_lines) + "\n")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = ["--workload", workload, "--data", data_dir, "--plan", plan_file, "--out", run_dir,
            "--threads", str(nproc), "--setups", str(SETUPS), "--warmup", str(WARMUP),
            "--trace", str(trace)]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(java_cmd(heap, args, tmp), cwd=ROOT, stdout=out,
                               stderr=subprocess.STDOUT, timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"the {workload} run did not finish in time, see {log}", 3)
    if r.returncode != 0:
        fail(f"the {workload} run exited with {r.returncode}, see {log}", 3)
    with open(os.path.join(run_dir, "raw.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def _duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(con, sql):
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from parity import canon_rows
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    return sorted(cols), canon_rows(cols, rel.fetchall())[1]


def check_queries(raw, data_dir, run_dir):
    """Compares each query's collected result with its DuckDB oracle under
    tools/parity.py's canonicalization; marks every op checked_ok."""
    con = _duck(data_dir)
    for op in raw["ops"]:
        if not op["ok"]:
            op["checked_ok"], op["check"] = False, "raised: " + str(op["error"])
            continue
        name = op["name"]
        sql = raw["oracle_sql"].get(name)
        err = raw["result_errors"].get(name)
        if err or not sql:
            op["checked_ok"], op["check"] = False, err or "no oracle SQL"
            continue
        try:
            got = _canon(con, f"SELECT * FROM read_parquet('{run_dir}/results/{name}/*.parquet')")
            want = _canon(con, sql)
        except Exception as e:  # an unreadable result or a failing oracle is a failed check
            op["checked_ok"], op["check"] = False, f"check error: {e}"
            continue
        if got[0] != want[0]:
            op["checked_ok"], op["check"] = False, f"columns {got[0]} != {want[0]}"
        elif got[1] != want[1]:
            extra = sum((collections.Counter(got[1]) - collections.Counter(want[1])).values())
            op["checked_ok"], op["check"] = False, (
                f"{extra} of {len(got[1])} rows not in the oracle's {len(want[1])}")
        else:
            op["checked_ok"], op["check"] = True, f"{len(got[1])} rows match"


def _net_live(rows):
    """Applies a +I/-D changelog: the entries inserted more often than deleted."""
    net = {}
    for kind, key, id_, score in rows:
        k = (key, id_, round(score, 9))
        net[k] = net.get(k, 0) + (1 if kind == "+I" else -1)
    return sorted(k for k, v in net.items() if v > 0)


def expected_watermark_ms(stream, fed_batches):
    """The watermark the last fed batch ran with: the lower of the view and
    click event-time maxima over the batches before it (late rows excluded),
    in Spark's millisecond resolution, minus the 10 s delay. `single` is the
    same for the one-input pipelines."""
    ts = stream["ts"]
    prior = [(t, e) for t, e, b, late in zip(ts, stream["event_type"], stream["batch"], stream["late"])
             if b < fed_batches - 1 and not late]
    single = max(t for t, _ in prior) // 1000 - gen.DELAY_US // 1000
    by = {k: max(t for t, e in prior if e == k) // 1000 for k in ("view", "click")}
    return single, min(by.values()) - gen.DELAY_US // 1000


def check_stream(raw, data_dir, run_dir):
    """Each phase's emitted rows against its batch twin over the same rows,
    and its dropped-row count against the generator's late rows."""
    import pyarrow.parquet as pq
    con = _duck(data_dir)
    arrow = pq.read_table(os.path.join(data_dir, "stream.parquet"))
    table = arrow.drop_columns(["ts"]).to_pydict()
    table["ts"] = arrow.column("ts").cast("int64").to_pylist()  # micros, exactly
    verdicts = {}
    for phase, info in raw["stream"].items():
        n = info["batches"]
        fed = [i for i, b in enumerate(table["batch"]) if b < n]
        late = [i for i in fed if table["late"][i]]
        wm_single, wm_join = expected_watermark_ms(table, n)
        res = os.path.join(run_dir, "results", phase)
        problems = []
        if phase == "tumble":
            # Spark counts a dropped row after the partial aggregation that
            # precedes the state store, so late rows of one batch that fall
            # in the same window and event type count once.
            want_late = len({(table["batch"][i], table["ts"][i] // WINDOW_US, table["event_type"][i])
                             for i in late})
            want_wm = wm_single
            emitted = _canon(con, f"SELECT * FROM read_parquet('{res}/emitted/*.parquet')")[1]
            twin = _canon(con, f"SELECT * FROM read_parquet('{res}/twin/*.parquet') WHERE "
                               f"epoch_ms(wstart) + 300000 <= {wm_single}")[1]
        elif phase == "topn":
            want_late, want_wm = 0, None  # keyed state without event time: nothing is late
            q = "SELECT row_kind, key, id, score FROM read_parquet('{}/{}/*.parquet')"
            emitted = _net_live(con.execute(q.format(res, "emitted")).fetchall())
            twin = _net_live(con.execute(q.format(res, "twin")).fetchall())
        else:
            want_late = sum(1 for i in late if table["event_type"][i] in ("view", "click"))
            want_wm = wm_join
            emitted = _canon(con, f"SELECT * FROM read_parquet('{res}/emitted/*.parquet')")[1]
            twin = _canon(con, f"SELECT * FROM read_parquet('{res}/twin/*.parquet')")[1]
        if info["late_fed"] != len(late):
            problems.append(f"fed {info['late_fed']} late rows, generator placed {len(late)}")
        if info["late_dropped"] != want_late:
            problems.append(f"dropped {info['late_dropped']} rows as late, expected {want_late}")
        if want_wm is not None and info["watermark_ms"] != want_wm:
            problems.append(f"final watermark {info['watermark_ms']} != expected {want_wm}")
        if emitted != twin:
            problems.append(f"{len(emitted)} emitted rows differ from the batch twin's {len(twin)}")
        if not emitted:
            problems.append("the phase emitted nothing")
        verdicts[phase] = {"ok": not problems, "problems": problems, "emitted_rows": len(emitted),
                           "late_expected": want_late, "late_dropped": info["late_dropped"]}
    for op in raw["ops"]:
        op["checked_ok"] = verdicts[op["phase"]]["ok"]
    return verdicts


# ---------------------------------------------------------------- metrics

def _dur_s(op):
    return (op["end_ms"] - op["start_ms"]) / 1e3


def timed(ops):
    """The operations the metrics count: all but each pipeline's start-up
    batches, which are run and checked but not timed."""
    return [o for o in ops if not o.get("warmup")]


def op_ratio(op, ref):
    """An operation's time over its reference time on the reference box."""
    base = ref["batches"][op["phase"]] if op["kind"] == "batch" else ref_cost(ref, op["name"])
    return _dur_s(op) / base


def pass_s(raw, ref, workload, names):
    """Wall time of one full pass. The stream run replays its whole schedule,
    so it is measured: its timed batches. A batch run executes a prefix of
    the pass; the full pass is its measured time scaled by the reference cost
    of all declared queries over that of the prefix (a ratio estimate)."""
    ops = timed(raw["ops"])
    done = sum(_dur_s(o) for o in ops)
    if workload == "stream":
        return done
    return done * sum(ref_cost(ref, n) for n in names) / sum(ref_cost(ref, o["name"]) for o in ops)


def op_class(op, group):
    """What an operation's time is compared within: a batch's pipeline, a
    query's group."""
    return op["phase"] if op["kind"] == "batch" else group[op["name"]]


def end_to_end(raw, ref, workload, names, group):
    ops = timed(raw["ops"])
    ratios = [op_ratio(o, ref) for o in ops]
    by_class = {}
    for o, r in zip(ops, ratios):
        by_class.setdefault(op_class(o, group), []).append(r)
    ratio = metrics.class_gmean(by_class)
    tail_v, tail_p, beyond, n = metrics.tail(ratios)
    setups = [s["start_s"] + s["warmup_s"] for s in raw["setup"]]
    e2e = {
        "setup_s": (metrics.median(setups), "s"),
        "op_ratio": (ratio, "ratio"),
    }
    durs = [_dur_s(o) for o in ops]
    unit = "batch_s" if workload == "stream" else "query_s"
    detail = {
        "pass_s": pass_s(raw, ref, workload, names),
        **{f"op_ratio.p50.{c}": metrics.median(v) for c, v in sorted(by_class.items())},
        "op_ratio.tail": tail_v, "tail_percentile": tail_p, "tail_beyond": beyond, "samples": n,
        f"{unit}.p50": metrics.median(durs),
        f"{unit}.tail": metrics.tail(durs)[0],
        "heap_peak_mb": raw["heap_peak_mb"],
        "heap_live_mb": raw["heap_live_mb"],
        "setup_samples_s": setups,
    }
    if workload == "stream":
        detail["rows_per_s"] = sum(o["rows"] for o in ops) / detail["pass_s"]
    return e2e, detail


def _spans(raw):
    """run -> pass -> op -> job -> stage spans, parents by time containment
    (jobs) and by the job's stage list (stages)."""
    spans = [{"id": "run", "parent": None, "kind": "run", "name": "run",
              "start_ms": raw["run"]["start_ms"], "end_ms": raw["run"]["end_ms"]}]
    for i, p in enumerate(raw["passes"]):
        spans.append({"id": f"pass{i}", "parent": "run", "kind": "pass", "name": p["name"],
                      "start_ms": p["start_ms"], "end_ms": p["end_ms"]})
    boxes = [(s["id"], s["start_ms"], s["end_ms"]) for s in spans]
    for o in raw["ops"]:
        sid = f"op{o['id']}"
        spans.append({"id": sid, "parent": metrics.parent_of(o["start_ms"], boxes[1:]) or "run",
                      "kind": o["kind"], "name": o["name"], "start_ms": o["start_ms"], "end_ms": o["end_ms"],
                      "warmup": bool(o.get("warmup"))})
    op_boxes = [(f"op{o['id']}", o["start_ms"], o["end_ms"]) for o in raw["ops"]]
    trace = raw["trace"]
    stage_job = {}
    for j in trace["jobs"]:
        end = j["end_ms"] if j["end_ms"] is not None else j["start_ms"]
        parent = metrics.parent_of(j["start_ms"], op_boxes)
        spans.append({"id": f"job{j['id']}", "parent": parent, "kind": "job",
                      "name": metrics.job_module(j, trace["executions"]),
                      "start_ms": j["start_ms"], "end_ms": end})
        for s in j["stages"]:
            stage_job.setdefault(s, f"job{j['id']}")
    for s in trace["stages"]:
        spans.append({"id": f"stage{s['id']}.{s['attempt']}", "parent": stage_job.get(s["id"]),
                      "kind": "stage", "name": str(s["id"]), "start_ms": s["submit_ms"], "end_ms": s["end_ms"]})
    return spans


def per_layer(raw, untraced_pass_s, traced_pass_s):
    """Per-layer metrics of a traced run. Only events inside the timed
    operations count, so the untimed output check stays out."""
    trace = raw["trace"]
    spans = _spans(raw)
    ops = [s for s in spans if s["kind"] in ("query", "batch") and not s["warmup"]]
    timed_ids = {o["id"] for o in ops}
    jobs = [s for s in spans if s["kind"] == "job" and s["parent"] in timed_ids]
    by_id = {f"job{j['id']}": j for j in trace["jobs"]}
    stages_of_jobs = {st for s in jobs for st in by_id[s["id"]]["stages"]}
    ran = [s for s in trace["stages"] if s["id"] in stages_of_jobs]
    ran_ids = {s["id"] for s in ran}
    children = {}
    for s in jobs:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    driver_ms = sum(metrics.self_ms((o["start_ms"], o["end_ms"]), children.get(o["id"], [])) for o in ops)
    op_boxes = [(o["id"], o["start_ms"], o["end_ms"]) for o in ops]
    plans = [p for p in trace["plans"] if metrics.parent_of(p["start_ms"], op_boxes)]
    progress = [p for p in trace["progress"]
                if p["input_rows"] > 0 and metrics.parent_of(p["end_ms"], op_boxes)]
    build = [(o["start_ms"], o["start_ms"] + o["build_ms"]) for o in raw["ops"] if o["kind"] == "query"]
    modules = [s["name"] for s in jobs]
    run_ms = sum(s["run_ms"] for s in ran)
    cpu_ms = sum(s["cpu_ms"] for s in ran)
    state = [st for p in progress for st in p["state"]]

    def dur(key):
        return sum(p["duration_ms"].get(key, 0) for p in progress)

    setups = raw["setup"]
    fed = {p: [o for o in timed(raw["ops"]) if o.get("phase") == p] for p in PHASES}
    out = {
        "session.start_s": (metrics.median([s["start_s"] for s in setups]), "s"),
        "session.warmup_s": (metrics.median([s["warmup_s"] for s in setups]), "s"),
        "queries.build_s": (sum(e - s for s, e in build) / 1e3, "s"),
        "queries.build_jobs": (sum(1 for s in jobs if any(b0 <= s["start_ms"] <= b1 for b0, b1 in build)), "count"),
        "plan.parse_ms": (sum(p["phases"].get("parsing", 0) for p in plans), "ms"),
        "plan.analysis_ms": (sum(p["phases"].get("analysis", 0) for p in plans), "ms"),
        "plan.optimization_ms": (sum(p["phases"].get("optimization", 0) for p in plans), "ms"),
        "plan.planning_ms": (sum(p["phases"].get("planning", 0) for p in plans), "ms"),
        "jobs": (len(jobs), "count"),
        "jobs.queries": (modules.count("queries"), "count"),
        "jobs.operators": (modules.count("operators"), "count"),
        "jobs.streaming": (modules.count("streaming"), "count"),
        "jobs.force": (modules.count("force"), "count"),
        "jobs.other": (sum(1 for m in modules if m not in ("queries", "operators", "streaming", "force")),
                       "count"),
        "stages": (len(ran_ids), "count"),
        "stages.skipped_frac": ((len(stages_of_jobs) - len(ran_ids)) / len(stages_of_jobs)
                                if stages_of_jobs else 0.0, "ratio"),
        "tasks": (sum(s["tasks"] for s in ran), "count"),
        "tasks.failed": (sum(s["failed_tasks"] for s in ran), "count"),
        "sched.delay_ms": (sum(s["sched_delay_ms"] for s in ran), "ms"),
        "driver_ms": (driver_ms, "ms"),
        "exec.run_ms": (run_ms, "ms"),
        "exec.cpu_ms": (cpu_ms, "ms"),
        "exec.gc_ms": (sum(s["gc_ms"] for s in ran), "ms"),
        "exec.cpu_frac": (cpu_ms / run_ms if run_ms else 0.0, "ratio"),
        "input.bytes": (sum(s["input_bytes"] for s in ran), "bytes"),
        "shuffle.read_bytes": (sum(s["shuffle_read_bytes"] for s in ran), "bytes"),
        "shuffle.write_bytes": (sum(s["shuffle_write_bytes"] for s in ran), "bytes"),
        "spill.bytes": (sum(s["spill_bytes"] for s in ran), "bytes"),
        "stream.batches": (len(progress), "count"),
        "stream.trigger_ms": (dur("triggerExecution"), "ms"),
        "stream.add_batch_ms": (dur("addBatch"), "ms"),
        "stream.planning_ms": (dur("queryPlanning"), "ms"),
        "stream.commit_ms": (dur("walCommit") + dur("commitOffsets"), "ms"),
        "stream.jobs_per_batch": (modules.count("streaming") / len(progress) if progress else 0.0, "ratio"),
        "stream.late_dropped": (sum(st["dropped"] for st in state), "count"),
        "state.rows": (max((st["rows"] for st in state), default=0), "count"),
        "state.mem_bytes": (max((st["mem_bytes"] for st in state), default=0), "bytes"),
        "state.commit_ms": (sum(st["commit_ms"] for st in state), "ms"),
        "state.rows_removed": (sum(st["removed"] for st in state), "count"),
        "tracing.pass_s_untraced": (untraced_pass_s, "s"),
        "tracing.pass_s_traced": (traced_pass_s, "s"),
    }
    for p in PHASES:
        rows = sum(o["rows"] for o in fed[p])
        wall = sum(_dur_s(o) for o in fed[p])
        out[f"phase.{p}.rows_per_s"] = (rows / wall if wall else 0.0, "1/s")
    return out, spans


# ---------------------------------------------------------------- main

def run(args):
    started = time.time()
    nproc, heap = box()
    load_start = loadavg()
    sources_hash = ensure_build(heap)
    deadline = time.time() + JVM_SECONDS
    ref = reference()
    workload, seed = args.workload, args.seed
    run_root = os.path.join(BUILD, "runs", f"{workload}-{seed}")
    shutil.rmtree(run_root, ignore_errors=True)
    data_dir = os.path.join(run_root, "data")
    t0 = time.time()
    gen.write_tables(seed, SCALE, data_dir)
    group = declared()[1]
    if workload == "stream":
        count = plan_stream(args.seconds, ref)
        gen.write_stream(seed, count, data_dir)
        plan, names = [f"{p} {count}" for p in PHASES], []
    else:
        names = declared()[0][workload]
        # the same seed gives the same queries on every commit
        plan = prefix(pass_order(seed, workload, names, group), args.seconds * BATCH_TIMED, ref)
    gen_s = time.time() - t0

    def one(trace):
        run_dir = os.path.join(run_root, f"trace{trace}")
        raw = launch(workload, seed, plan, data_dir, run_dir, trace, nproc, heap, deadline)
        if workload == "stream":
            verdict = check_stream(raw, data_dir, run_dir)
        else:
            check_queries(raw, data_dir, run_dir)
            verdict = {o["name"]: o["check"] for o in raw["ops"] if not o["checked_ok"]}
        return raw, verdict

    raw, verdict = one(0)
    e2e, detail = end_to_end(raw, ref, workload, names, group)
    ratio, failed, attempted = metrics.fail_ratio(raw["ops"])
    record = {
        "workload": workload, "seed": seed, "seconds": args.seconds, "trace": args.trace,
        "sources_sha256": sources_hash, "nproc": nproc, "heap": heap, "scale": SCALE,
        "loadavg_start": load_start, "generate_s": gen_s, "plan": plan,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "detail": detail, "fail_ratio": ratio, "failed": failed, "attempted": attempted,
        "check": verdict,
        "ops": [{k: o.get(k) for k in ("name", "start_ms", "end_ms", "build_ms", "ok", "checked_ok", "check")}
                for o in raw["ops"]],
    }
    out_metrics = e2e
    if args.trace:
        traced, tverdict = one(1)
        _, t_detail = end_to_end(traced, ref, workload, names, group)
        layers, spans = per_layer(traced, detail["pass_s"], t_detail["pass_s"])
        _, t_failed, t_attempted = metrics.fail_ratio(traced["ops"])
        failed, attempted = failed + t_failed, attempted + t_attempted
        record["traced_check"] = tverdict
        record["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        spans_path = os.path.join(BUILD, "results", f"{workload}-seed{seed}-spans.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            json.dump(spans, f)
        record["spans_file"] = os.path.relpath(spans_path, ROOT)
        out_metrics = layers
    record["loadavg_end"] = loadavg()
    record["wall_s"] = time.time() - started
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    path = os.path.join(BUILD, "results", f"{workload}-seed{seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)

    ok = failed == 0
    print(f"workload {workload}  seed {seed}  nproc {nproc}  heap {heap}  load {load_start} -> {record['loadavg_end']}")
    for k, (v, u) in out_metrics.items():
        print(f"  {k:28s} {v:14.4f} {u}")
    for k, v in detail.items():
        print(f"  {k:28s} {v}")
    print(f"  output check: {'all correct' if ok else 'FAILED'}  fail_ratio {failed}/{attempted} = {failed / attempted:.4f}")
    if not ok:
        for k, v in list(verdict.items())[:20]:
            print(f"    {k}: {v}")
    print(f"  record: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out_metrics.items()}}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    run(ap.parse_args())


if __name__ == "__main__":
    main()

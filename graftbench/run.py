#!/usr/bin/env python3
"""Benchmark for the graft engine: one workload per invocation.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
engine and the benchmark's JVM program with sbt (about a minute); later runs reuse
the build while the sources and the compiled classes are unchanged. Every run gets a fresh
work directory under graftbench/target/runs/ with its own java.io.tmpdir.

Workloads (see NOTES.md for why each exists):
  batch_mixed      course-operator analogs, TPC-H joins and LLM-corpus
                   queries over the committed sf0.01 fixture tables
  stream_capstone  Jobs.courseUseCase fed by an open-loop generator process

The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; end-to-end metrics untraced (--trace 0), per-layer metrics
traced (--trace 1). Lines before it give sample counts, percentiles used,
self time per layer and, for traced runs, the overhead against the last
untraced run of the same workload in this checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import summary
import streamgen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("batch_mixed", "stream_capstone")
# batch_mixed's tables: byte copies of the seeded sf0.01 fixture tables the
# engine's tests and oracle runs read, committed with the benchmark so that
# it reads nothing outside its checkout.
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")

# stream_capstone schedule, fixed here and never re-derived per run. The
# steady rate is about a seventh of the ~21k events/s the engine drains the
# backlog at on a 4-core host: at a third (6000/s) the cold first batches
# left a longer warm-up backlog, which cost each run about 8 s more.
STEADY_EVENTS_PER_S = 3000
INTERVAL_MS = streamgen.STEP_MS
BACKLOG_EVENTS = 150_000
BACKLOG_FILES = 30
LATE_SHARE = 0.005
PROBE_EVENTS = 200

JVM_OPTS = [o for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for o in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Xmx4g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing"]


PHASE_METRICS = ("latest_offset_ms", "get_batch_ms", "query_planning_ms", "wal_commit_ms",
                 "commit_offsets_ms", "add_batch_ms", "rows_per_batch", "batches", "sink_files",
                 "state_rows", "state_bytes", "state_commit_ms")

# Every traced run reports all of these; a layer the workload does not
# exercise reports 0.
PER_LAYER = (
    ["Sessions.local_s", "Tables.t_s", "Tables.t_jobs", "operators.warm_construct_s"]
    + [f"operators.{k}{step}_{m}" for k in ("", "dataflow.", "corpus.")
       for step in ("construct", "action") for m in ("s", "jobs")]
    + [f"operators.{m}" for m in ("stages", "tasks", "exchanges", "shuffle_write_bytes",
                                  "spill_bytes", "task_busy_ratio", "gc_s")]
    + [f"streaming.{ph}.{q}.{m}" for ph in ("steady", "catchup")
       for q in ("counts", "durations") for m in PHASE_METRICS]
    + ["streaming.restart_first_batch_ms", "streaming.catchup_eps_local1",
       "streaming.steady.backlog_files", "streaming.steady.watermark_lag_s",
       "streaming.late_dropped", "generator.late_ms"])


# A run must end within 180 s of its build: 170 s after the build, every
# process it started is killed and the run fails.
RUN_LIMIT_S = 170
CHILDREN = []


def log(msg):
    print(f"graftbench: {msg}", flush=True)


def spawn(cmd, **kw):
    p = subprocess.Popen(cmd, **kw)
    CHILDREN.append(p)
    return p


def kill_children():
    for p in CHILDREN:
        if p.poll() is None:
            p.kill()
            p.wait()


# ---------------------------------------------------------------- build

def source_digest():
    """sha256 over the build inputs of the engine and the benchmark's JVM program."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        if not os.path.isdir(base):
            raise SystemExit(f"graftbench: no sources at {os.path.relpath(base, ROOT)}; "
                             "run from a checkout of the repository")
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def classes_digest(classpath):
    """sha256 over the files in the classpath's directories: the compiled
    classes of the engine and of the benchmark. Any other build into those
    directories, such as an `sbt test` of another commit, changes it."""
    h = hashlib.sha256()
    for entry in classpath.split(os.pathsep):
        if not os.path.isdir(entry):
            continue
        for dirpath, dirnames, names in os.walk(entry):
            dirnames.sort()
            for n in sorted(names):
                f = os.path.join(dirpath, n)
                h.update(os.path.relpath(f, ROOT).encode() + b"\0")
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Classpath of a build of exactly these sources, building if needed.
    The last build is reused only while both the sources and the classes
    it left are unchanged."""
    stamp_path = os.path.join(TARGET, "build-stamp.json")
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            stamp = json.load(f)
        if stamp["digest"] != digest:
            log("sources changed since the last build")
        elif stamp.get("classes") != classes_digest(stamp["classpath"]):
            log("compiled classes changed since the last build")
        else:
            return stamp["classpath"]
    os.makedirs(TARGET, exist_ok=True)
    log("building the engine and the benchmark with sbt")
    with open(os.path.join(TARGET, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
             f"-Dgraftbench.digest={digest}", "graftbench/compile",
             "export graftbench/Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("graftbench: build failed; see graftbench/target/build.log")
    if source_digest() != digest:
        raise SystemExit("graftbench: sources changed during the build")
    cp = lines[-1]
    with open(stamp_path, "w") as f:
        json.dump({"digest": digest, "classes": classes_digest(cp), "classpath": cp}, f)
    return cp


# ---------------------------------------------------------------- JVM

def jvm(cp, work, a, extra, **popen):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CONF"}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
           "-cp", cp, "graftbench.Main", "--workload", a.workload, "--work", work,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--digest", a.digest, "--cores", str(a.cores), *extra]
    err = open(os.path.join(work, "jvm.log"), "w")
    return spawn(cmd, cwd=work, env=env, stderr=err, **popen)


def read_run(work):
    with open(os.path.join(work, "run.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- batch

def run_batch(a, cp, work, t0):
    shutil.copytree(FIXTURE, os.path.join(work, "fixture"))
    p = jvm(cp, work, a, ["--fixture", os.path.join(work, "fixture")])
    if p.wait() != 0:
        raise RuntimeError(f"JVM exited with {p.returncode}; see {work}/jvm.log")
    run = read_run(work)
    c0 = time.time() * 1000
    chk = spawn([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                 os.path.join(work, "results"), os.path.join(work, "fixture")],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    chk.stdout, chk.stderr = chk.communicate()
    run["spans"].append({"id": len(run["spans"]), "parent": -1, "name": "oracle.check", "start_ms": c0,
                         "end_ms": time.time() * 1000, "group": "", "attrs": {}})
    print(chk.stdout.strip(), flush=True)
    failed = [l.split()[1].rstrip(":") for l in chk.stdout.splitlines() if l.startswith("FAIL")]
    if chk.returncode != 0 and not failed:
        failed = ["check.py"]
        print(chk.stderr[-2000:], flush=True)

    timed = [s for s in run["samples"] if s["pass"] > 0]
    lat = [(s["construct_ms"] + s["action_ms"]) / 1000 for s in timed]
    tl = summary.tail(lat)
    log(f"{len(timed)} timed queries in {len(run['passes'])} passes; {describe(tl)}")
    e2e = {
        "setup_s": (run["first_timed_ms"] / 1000 - t0, "s"),
        "live_heap_peak_mb": (max(run["live_heap_mb"]), "MiB"),
        "latency_p50_s": (summary.median(lat), "s"),
        "latency_p90_s": (tl["value"], "s"),
        "throughput_per_s": (len(timed) / (run["timed_wall_ms"] / 1000), "1/s"),
    }
    layers = batch_layers(run, a.cores) if a.trace else {}
    return e2e, layers, run, len(run["samples"]), failed


def batch_layers(run, cores):
    spans = {s["id"]: s for s in run["spans"]}
    groups = run["groups"]
    npass = len(run["passes"])
    acc = {"Sessions.local_s": run["session_ms"] / 1000}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v
    for s in run["spans"]:
        g = groups.get(s["group"], {})
        dur = (s["end_ms"] - s["start_ms"]) / 1000
        if s["name"] == "Tables.t":
            add("Tables.t_s", dur)
            add("Tables.t_jobs", g.get("jobs", 0))
        if s["name"] in ("operators.construct", "operators.action"):
            q = spans[s["parent"]]["attrs"]
            step = s["name"].split(".")[1]
            if q["pass"] == 0:
                if step == "construct":
                    add("operators.warm_construct_s", dur)
                continue
            for pre in ("operators.", f"operators.{q['kind']}."):
                add(f"{pre}{step}_s", dur / npass)
                add(f"{pre}{step}_jobs", g.get("jobs", 0) / npass)
            if step == "action":
                for k in ("stages", "tasks", "exchanges", "shuffle_write_bytes", "spill_bytes"):
                    add(f"operators.{k}", g.get(k, 0) / npass)
                add("busy_ms", g.get("executor_run_ms", 0))
                add("action_ms", dur * 1000)
    acc["operators.task_busy_ratio"] = acc.pop("busy_ms", 0) / max(acc.pop("action_ms", 1) * cores, 1)
    acc["operators.gc_s"] = sum(p["gc_ms"] for p in run["passes"]) / 1000 / npass
    return acc


# ---------------------------------------------------------------- stream

class Control:
    """run.py's side of the JVM's stdin/stdout phase protocol."""

    def __init__(self, proc):
        self.p = proc

    def expect(self, word):
        for line in self.p.stdout:
            if line.strip() == f"graftbench:{word}":
                return
        raise RuntimeError(f"JVM ended before '{word}'; see jvm.log")

    def send(self, word):
        self.p.stdin.write(word + "\n")
        self.p.stdin.flush()


def generator(work, a, first, count, events, interval_ms=0, late_share=0.0, phase=""):
    """Start the generator process for files first .. first+count-1."""
    return spawn([
        sys.executable, os.path.join(HERE, "streamgen.py"),
        "--dir", os.path.join(work, "in"), "--stage", os.path.join(work, "stage"),
        "--log", os.path.join(work, "generator.jsonl"), "--seed", str(a.seed),
        "--first", str(first), "--count", str(count), "--events", str(events),
        "--interval-ms", str(interval_ms), "--late-share", str(late_share), "--phase", phase])


def finish(gen, work):
    """Wait for a generator process; return the next free file index."""
    if gen.wait() != 0:
        raise RuntimeError(f"generator exited with {gen.returncode}")
    with open(os.path.join(work, "generator.jsonl")) as f:
        last = max(json.loads(l)["k"] for l in f)
    return last + 1 + streamgen.GAP_FILES


def run_stream(a, cp, work, t0):
    per_file = STEADY_EVENTS_PER_S * INTERVAL_MS // 1000
    k = finish(generator(work, a, 0, 1, per_file, phase="warmup"), work)
    p = jvm(cp, work, a, [], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    ctl = Control(p)
    ctl.expect("started")
    warm = generator(work, a, k, 10 ** 5, per_file, INTERVAL_MS, phase="warmup")
    ctl.expect("warmed")
    warm.terminate()
    k = finish(warm, work)
    k = finish(generator(work, a, k, a.seconds * 1000 // INTERVAL_MS, per_file, INTERVAL_MS,
                         LATE_SHARE, "steady"), work)
    ctl.send("stop")
    ctl.expect("stopped")
    if a.trace:
        for _ in range(3):
            k = finish(generator(work, a, k, 1, PROBE_EVENTS, phase="probe"), work)
            ctl.send("restart")
            ctl.expect("restarted")
    finish(generator(work, a, k, BACKLOG_FILES, BACKLOG_EVENTS // BACKLOG_FILES,
                     late_share=LATE_SHARE, phase="backlog"), work)
    ctl.send("drain")
    ctl.expect("done")
    if p.wait() != 0:
        raise RuntimeError(f"JVM exited with {p.returncode}; see {work}/jvm.log")
    run = read_run(work)
    with open(os.path.join(work, "generator.jsonl")) as f:
        files = [json.loads(l) for l in f]
    return stream_summary(a, run, files, work, t0)


def source_log(ckpt):
    """File name -> file-source log offset, from a query's checkpoint."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def sink_files(out_dir):
    """Sink batch id -> number of files it committed."""
    out = {}
    for path in glob.glob(os.path.join(out_dir, "_spark_metadata", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    b = int(os.path.basename(path).split(".")[0])
                    out[b] = out.get(b, 0) + 1
    return out


def stream_summary(a, run, files, work, t0):
    marks = {m["name"]: m["ms"] for m in run["marks"]}
    steady = [f for f in files if f["phase"] == "steady"]
    phase_marks = {"steady_ms": steady[0]["due_ms"], "stop_ms": marks["stop"], "drain_ms": marks["drain"]}
    bl = summary.batches(run["progress"], run["query_names"])
    ckpt = os.path.join(work, "ckpt")
    fmap = source_log(os.path.join(ckpt, "durations"))
    emit = [ms / 1000 for ms in summary.emit_latencies(files, fmap, bl)]
    et = summary.tail(emit)
    steady_b = [b for b in bl if summary.phase_of(b, phase_marks) == "steady"]
    backlog = summary.backlog_at_starts(steady, fmap, [b for b in steady_b if b["query"] == "durations"])
    late_ms = [f["written_ms"] - f["due_ms"] for f in files if f["phase"] == "steady"]
    backlog_events = sum(f["events"] for f in files if f["phase"] == "backlog")
    catchup_s = (summary.caught_up_ms(bl, marks["drain"]) - marks["drain"]) / 1000
    log(f"{len(emit)} steady files, {describe(et)}; {len(steady_b)} steady batches; "
        f"backlog at batch starts {backlog}; generator late max {max(late_ms):.1f} ms")

    problems = []
    if max(late_ms) > INTERVAL_MS:
        problems.append(f"generator fell {max(late_ms):.0f} ms behind (> one {INTERVAL_MS} ms interval)")
    if summary.backlog_grows(backlog):
        problems.append(f"steady backlog grows: {backlog}")

    c0 = time.time() * 1000
    failed = verify_stream(run, files, work, bl)
    run["spans"].append({"id": len(run["spans"]), "parent": -1, "name": "oracle.check", "start_ms": c0,
                         "end_ms": time.time() * 1000, "group": "", "attrs": {}})
    log(f"checks took {(time.time() * 1000 - c0) / 1000:.1f} s")
    e2e = {
        "setup_s": (phase_marks["steady_ms"] / 1000 - t0, "s"),
        "live_heap_peak_mb": (max(run["live_heap_mb"]), "MiB"),
        "latency_p50_s": (summary.median(emit), "s"),
        "latency_p90_s": (et["value"], "s"),
        "throughput_per_s": (backlog_events / catchup_s, "1/s"),
    }
    layers = {}
    if a.trace:
        layers = stream_layers(run, files, bl, phase_marks, fmap, backlog, late_ms, work)
        run["spans"] = stream_spans(run, files, bl)
    attempted = len(files)
    return e2e, layers, run, attempted, failed, problems


def stream_layers(run, files, bl, phase_marks, fmap, backlog, late_ms, work):
    acc = {"Sessions.local_s": run["session_ms"] / 1000}
    for ph in ("steady", "catchup"):
        for q in ("counts", "durations"):
            every = [b for b in bl if b["query"] == q and summary.phase_of(b, phase_marks) == ph]
            bs = [b for b in every if b["rows"] > 0]
            pre = f"streaming.{ph}.{q}."
            for k, name in (("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms"),
                            ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms"),
                            ("commitOffsets", "commit_offsets_ms"), ("addBatch", "add_batch_ms")):
                acc[pre + name] = summary.median([b["duration"].get(k, 0) for b in bs])
            acc[pre + "rows_per_batch"] = summary.median([b["rows"] for b in bs])
            acc[pre + "batches"] = len(every)
            sf = sink_files(os.path.join(work, "out", q))
            acc[pre + "sink_files"] = sum(sf.get(b["batch"], 0) for b in every)
            st = [b["state"][0] for b in bs if b["state"]]
            acc[pre + "state_rows"] = st[-1]["numRowsTotal"] if st else 0
            acc[pre + "state_bytes"] = st[-1]["memoryUsedBytes"] if st else 0
            acc[pre + "state_commit_ms"] = summary.median([s["commitTimeMs"] for s in st])
    marks = {m["name"]: m["ms"] for m in run["marks"]}
    rec = []
    for i in (1, 2, 3):
        t = marks[f"restart{i}"]
        firsts = [min((b["commit_ms"] for b in bl if b["query"] == q and b["start_ms"] >= t and b["rows"] > 0),
                      default=t) for q in ("counts", "durations")]
        rec.append(max(firsts) - t)
    acc["streaming.restart_first_batch_ms"] = summary.median(rec)
    acc["streaming.steady.backlog_files"] = max(backlog) if backlog else 0
    acc["streaming.steady.watermark_lag_s"] = summary.median(
        [(b["start_ms"] - phase_marks["steady_ms"] + steady_event_ms(files)) / 1000 - b["watermark_ms"] / 1000
         for b in bl if b["query"] == "counts" and summary.phase_of(b, phase_marks) == "steady" and b["watermark_ms"]])
    acc["streaming.late_dropped"] = late_dropped(bl)
    acc["generator.late_ms"] = max(late_ms)
    backlog_events = sum(f["events"] for f in files if f["phase"] == "backlog")
    acc["streaming.catchup_eps_local1"] = backlog_events / (run["local1_drain_ms"] / 1000)
    return acc


def stream_spans(run, files, bl):
    """The JVM's spans plus one per generator file (due to written) and one
    per micro-batch (trigger to commit), its durationMs phases as children
    laid end to end in the order a trigger runs them."""
    spans = list(run["spans"])
    nid = max((s["id"] for s in spans), default=-1) + 1

    def add(name, parent, start, end, attrs):
        nonlocal nid
        spans.append({"id": nid, "parent": parent, "name": name, "start_ms": start,
                      "end_ms": end, "group": "", "attrs": attrs})
        nid += 1
        return nid - 1
    for f in files:
        add("generator.file", -1, f["due_ms"], f["written_ms"],
            {"file": f["file"], "phase": f["phase"], "events": f["events"]})
    for b in bl:
        bid = add("streaming.batch", -1, b["start_ms"], b["commit_ms"],
                  {"query": b["query"], "batch": b["batch"], "rows": b["rows"]})
        t = b["start_ms"]
        for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
            d = b["duration"].get(k, 0)
            add(f"streaming.batch.{k}", bid, t, t + d, {})
            t += d
    return spans


def steady_event_ms(files):
    """Event time of the first steady file: its slot's start."""
    f = next(f for f in files if f["phase"] == "steady")
    return streamgen.EPOCH0_MS + f["k"] * streamgen.STEP_MS


def late_dropped(bl):
    return sum(s.get("numRowsDroppedByWatermark", 0) for b in bl if b["query"] == "counts" for s in b["state"])


def verify_stream(run, files, work, bl):
    """The counts sink against a DuckDB recount of the generator's on-time
    events, the durations sink against a DuckDB lag() over all events, and
    the watermark's drops against the generator's late count."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW ev AS SELECT * FROM read_csv('{work}/in/*.csv', header=false,
        columns={{'event_id':'BIGINT','ts_us':'BIGINT','user_id':'BIGINT','event_type':'VARCHAR','value':'DOUBLE'}})""")
    failed = []
    wm = max(b["watermark_ms"] or 0 for b in bl if b["query"] == "counts")
    late_base = streamgen.LATE_USER_BASE
    diff = con.execute(f"""
        WITH want AS (
          SELECT user_id, event_type, win_us, count(*) AS cnt
          FROM (SELECT *, (ts_us // 10000000) * 10000000 AS win_us FROM ev)
          WHERE user_id < {late_base} AND win_us + 10000000 <= {int(wm) * 1000}
          GROUP BY user_id, event_type, win_us),
        got AS (
          SELECT user_id, event_type, epoch_us(win_start) AS win_us, cnt
          FROM read_parquet('{work}/verify/counts/*.parquet'))
        SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)),
               (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)),
               (SELECT count(*) FROM got)""").fetchone()
    log(f"counts: {diff[2]} rows; {diff[0]} missing, {diff[1]} unexpected")
    if diff[0] or diff[1] or not diff[2]:
        failed.append("counts")
    dd = con.execute(f"""
        WITH lagged AS (
          SELECT user_id, event_id, ts_us,
                 lag(event_type) OVER w AS prev_type, lag(ts_us) OVER w AS prev_ts
          FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        want AS (
          SELECT user_id, event_id,
                 CASE WHEN prev_type IS NULL OR prev_type = 'error' THEN 'None' ELSE prev_type END AS prev_action,
                 CASE WHEN prev_type IS NULL OR prev_type = 'error' THEN 0 ELSE ts_us - prev_ts END AS duration_us
          FROM lagged),
        got AS (SELECT user_id, event_id, prev_action, duration_us
                FROM read_parquet('{work}/verify/durations/*.parquet'))
        SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)),
               (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)),
               (SELECT count(*) FROM got)""").fetchone()
    log(f"durations: {dd[2]} rows; {dd[0]} missing, {dd[1]} unexpected")
    if dd[0] or dd[1]:
        failed.append("durations")
    want_late = sum(f["late"] for f in files)
    got_late = late_dropped(bl)
    log(f"late events: generator {want_late}, dropped by watermark {got_late}")
    if want_late != got_late or not want_late:
        failed.append("late_dropped")
    return failed


# ---------------------------------------------------------------- main

def describe(t):
    return (f"tail p{t['p']} of n={t['n']} with {t['above']} samples above it"
            + (" (fewer than 10: short sample)" if t["short"] else ""))


def layer_unit(name):
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "B"), ("_ratio", "ratio"),
                         ("_eps_local1", "1/s")):
        if name.endswith(suffix):
            return unit
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    a.cores = len(os.sched_getaffinity(0))
    a.digest = source_digest()
    cp = build(a.digest)
    watchdog = threading.Timer(RUN_LIMIT_S, kill_children)
    watchdog.daemon = True
    watchdog.start()

    work = os.path.join(TARGET, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    try:
        if a.workload == "stream_capstone":
            e2e, layers, run, attempted, failed, problems = run_stream(a, cp, work, t0)
        else:
            e2e, layers, run, attempted, failed = run_batch(a, cp, work, t0)
            problems = []
    finally:
        kill_children()
        watchdog.cancel()
    for p in problems:
        log(f"INVALID RUN: {p}")
    if problems:
        sys.exit(4)

    spans = run["spans"]
    if a.trace:
        st = summary.self_times(spans)
        log("self time by span (s): " + json.dumps({k: round(v / 1000, 3) for k, v in sorted(st.items())}))
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"spans": spans, "self_ms": st}, f)
    last = os.path.join(TARGET, f"last-untraced-{a.workload}.json")
    if a.trace and os.path.exists(last):
        with open(last) as f:
            base = json.load(f)
        log("tracing overhead vs last untraced run: " + json.dumps(
            {k: round(v[0] - base[k], 4) for k, v in e2e.items() if k in base}))
    elif not a.trace:
        with open(last, "w") as f:
            json.dump({k: v[0] for k, v in e2e.items()}, f)
    # Keep the run's records; drop its inputs, outputs and temporary files.
    for d in ("fixture", "tmp", "spark-local", "stage", "in", "out", "ckpt", "results", "verify",
              "ckpt_local1", "out_local1", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    metrics = ({k: {"value": layers.get(k, 0), "unit": layer_unit(k)} for k in PER_LAYER} if a.trace
               else {k: {"value": v[0], "unit": v[1]} for k, v in e2e.items()})
    out = {"correct": not failed, "attempted": attempted, "failed": len(failed), "metrics": metrics}
    if failed:
        log(f"FAILED checks: {failed}")
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()

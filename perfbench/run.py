#!/usr/bin/env python3
"""The repository benchmark: the streaming validation job under two
workloads and a mix of catalogue entries, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload batch_churn --seed 1 --seconds 10 --trace 0

It builds the program and the benchmark from source (once per checkout),
generates the workload's inputs from the seed, runs it on Spark local[N],
checks every output, prints each metric by name with its unit, and ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the run
traces half of its work and reports the per-layer metrics, each layer's
self time and the tracing overhead. See perfbench/README.md.
"""
import argparse
import datetime
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("hot_batch_drain", "batch_churn", "catalogue_mix")
# The catalogue entries: a 3-job control (q07), driver-overhead-bound
# entries (funnel_latency, ann_exact_top3) and a compute-bound one
# (pagerank). ann_exact_top3 stands in for ann_ivf, which freezes artifacts
# under /tmp.
ENTRY_TABLES = {"q07_agg_tpch_q1": ["lineitem"], "funnel_latency": ["events"],
                "pagerank": ["orders", "lineitem"], "ann_exact_top3": ["embeddings"]}
ENTRIES = tuple(ENTRY_TABLES)

END_TO_END = [("setup_s", "s"), ("records_per_s", "rec/s"), ("latency_p50_ms", "ms"),
              ("latency_p99_ms", "ms"), ("close_p50_ms", "ms"), ("close_p90_ms", "ms")]

# Spark's JavaModuleOptions for JDK 17, as the root build passes them.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            if "target" in d.split(os.sep):
                continue
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", "perfbench/build.sbt"):
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program and benchmark with sbt; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources next to the benchmark (src/main/scala)")
    out = os.path.join(ROOT, ".bench_build")
    cp_file = os.path.join(out, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == stamp:
            return cp.strip(), False
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    # keep the build's JVMs from writing temp and perf-data files outside
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "")
                                + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}").strip()
    log("perfbench: building program and benchmark (sbt)")
    p = subprocess.run(["sbt", "-batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1], True


def run_jvm(cp, spec, work, heap, on_start=None):
    """Runs BenchMain on `spec`; returns its result.json."""
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.streaming.perfbench.BenchMain", spec_path]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            if on_start:
                on_start(proc)
            rc = proc.wait(timeout=170)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ statistics

def pct(values, q):
    """Nearest-rank percentile."""
    v = sorted(values)
    if not v:
        return float("nan")
    return v[min(len(v) - 1, max(0, int(round(q / 100.0 * len(v) + 0.5)) - 1))]


def iso_ms(ts):
    """Epoch ms of a StreamingQueryProgress timestamp."""
    return datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def commits(rnd):
    """(epoch, step) -> commit time (ms) of one query's sink steps."""
    return {(e["epoch"], k): v[1] for e in rnd["epochs"] for k, v in e["steps"].items()}


# ------------------------------------------------------------- streaming

def stream_units(stream, result, base_due):
    """Per query (a drain round, or the churn query): deliveries with the
    latency of each record and each terminal notification."""
    units = []
    for rnd in result["rounds"]:
        rows = check.load_dump(rnd["dump"])
        c = commits(rnd)
        first_trigger = min(iso_ms(p["timestamp"]) for p in rnd["progress"])
        due = base_due(first_trigger)
        rec = [(c[(r["epoch"], r["step"])], due(stream.due_of[check.unb64(r["key"])]))
               for r in rows if r["step"] in ("k1", "k2")]
        close = []
        for r in rows:
            if r["step"] == "k3":
                b = check.unb64(r["key"]).decode()
                close.append((c[(r["epoch"], "k3")], due(stream.batch_due[b])))
        units.append({"round": rnd, "rows": rows, "rec": rec, "close": close,
                      "first_trigger": first_trigger})
    return units


def stream_e2e(units, window_from_due):
    rec = [(t, d) for u in units for t, d in u["rec"]]
    close = [(t, d) for u in units for t, d in u["close"]]
    rates = []
    for u in units:
        if not u["rec"]:
            continue
        start = min(d for _, d in u["rec"]) if window_from_due else u["first_trigger"]
        rates.append(len(u["rec"]) / ((max(t for t, _ in u["rec"]) - start) / 1000.0))
    lat = [t - d for t, d in rec]
    cl = [t - d for t, d in close]
    return {"records_per_s": statistics.median(rates),
            "latency_p50_ms": statistics.median(lat), "latency_p99_ms": pct(lat, 99),
            "close_p50_ms": statistics.median(cl), "close_p90_ms": pct(cl, 90)}, len(lat), len(cl)


def stream_layers(result, units, traced_epoch, per, gen_lag, backlog):
    """Per-layer metrics of the traced part of a streaming run, per unit of
    work (a drain round, or the traced half of the churn schedule)."""
    progress = [p for u in units for p in u["round"]["progress"]
                if traced_epoch(u["round"], p["batchId"])]
    epochs = [(u["round"]["tag"], e) for u in units for e in u["round"]["epochs"]
              if traced_epoch(u["round"], e["epoch"])]
    traces = {f"{tag}/b{e['epoch']}" for tag, e in epochs}
    jobs = [a for t, a in result["jobs"].items() if t in traces]
    dur = lambda p, k: p["durationMs"].get(k, 0)
    trig = [dur(p, "triggerExecution") for p in progress] or [0]
    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    sm = lambda k: sum(s.get(k, 0) for s in state)
    steps = lambda k: sum(e["steps"][k][1] - e["steps"][k][0] for _, e in epochs if k in e["steps"])
    rows_of = lambda k: sum(1 for u in units for r in u["rows"]
                            if r["step"] == k and traced_epoch(u["round"], r["epoch"]))
    statuses = [json.loads(check.unb64(r["value"]))["status"] for u in units for r in u["rows"]
                if r["step"] == "k3" and traced_epoch(u["round"], r["epoch"])]
    n = max(1, len(progress))
    ctr = result["counters"]
    m = {
        "source.latest_offset_ms": sum(dur(p, "latestOffset") for p in progress) / n,
        "source.input_rows": sum(p["numInputRows"] for p in progress) / per,
        "source.backlog_max_records": backlog(progress),
        "gen.lag_p99_ms": gen_lag,
        "trigger.count": len(progress) / per,
        "trigger.ms_p50": pct(trig, 50),
        "trigger.ms_max": max(trig),
        "trigger.query_planning_ms": sum(dur(p, "queryPlanning") for p in progress) / n,
        "trigger.add_batch_ms": sum(dur(p, "addBatch") for p in progress) / n,
        "trigger.wal_commit_ms": sum(dur(p, "walCommit") for p in progress) / n,
        "trigger.commit_offsets_ms": sum(dur(p, "commitOffsets") for p in progress) / n,
        "trigger.jobs": sum(a["jobs"] for a in jobs) / n,
        "trigger.tasks": sum(a["tasks"] for a in jobs) / n,
        "shuffle.write_bytes": sum(a["shuffle_write_bytes"] for a in jobs) / per,
        "shuffle.records": sum(a["shuffle_write_records"] for a in jobs) / per,
        "shuffle.max_partition_share":
            sum(a["read_max"] for a in jobs) / max(1, sum(a["read_total"] for a in jobs)),
        "state.rows_total_max": max([s.get("numRowsTotal", 0) for s in state] or [0]),
        "state.rows_updated": sm("numRowsUpdated") / per,
        "state.rows_removed": sm("numRowsRemoved") / per,
        "state.update_ms": sm("allUpdatesTimeMs") / per,
        "state.remove_ms": sm("allRemovalsTimeMs") / per,
        "state.commit_ms": sm("commitTimeMs") / per,
        "state.memory_bytes_max": max([s.get("memoryUsedBytes", 0) for s in state] or [0]),
        "tracker.completed": statuses.count("completed") / per,
        "tracker.failed": statuses.count("failed") / per,
        "validator.calls": ctr["validator.calls"] / per,
        "validator.busy_ms": ctr["validator.busy_ms"] / per,
        "lookup.calls": ctr["lookup.calls"] / per,
        "lookup.misses": ctr["lookup.misses"] / per,
        "lookup.busy_ms": ctr["lookup.busy_ms"] / per,
        "lookup.calls_per_state_miss": ctr["lookup.calls"] / max(1, ctr["lookup.keys"]),
        "sink.k1_ms": steps("k1") / per, "sink.k1_rows": rows_of("k1") / per,
        "sink.k2_ms": steps("k2") / per, "sink.k2_rows": rows_of("k2") / per,
        "sink.k3_ms": steps("k3") / per, "sink.k3_rows": rows_of("k3") / per,
        "sink.k4_ms": sum(e["k4_ms"] for _, e in epochs) / per,
        "sink.k4_calls": sum(e["k4_calls"] for _, e in epochs) / per,
        "commitlog.ms": sum(e["commitlog_ms"] for _, e in epochs) / per,
        "epoch.overhead_ms": sum(
            (e["end"] - e["start"]) - e["commitlog_ms"] - e["k4_ms"]
            - sum(v[1] - v[0] for k, v in e["steps"].items() if k != "k4")
            for _, e in epochs) / per,
    }
    # trigger spans come from Spark's progress: start and triggerExecution
    trig_spans = []
    for u in units:
        for p in u["round"]["progress"]:
            if traced_epoch(u["round"], p["batchId"]):
                s = iso_ms(p["timestamp"])
                trig_spans.append({"id": -len(trig_spans) - 1, "parent": 0,
                                   "trace": f"{u['round']['tag']}/b{p['batchId']}",
                                   "name": "trigger", "start": s,
                                   "end": s + dur(p, "triggerExecution")})
    return m, trig_spans


def self_times(spans, per):
    """Self time per layer: a span's duration minus what its children cover.
    Root spans of a trace hang under the trace's epoch, epochs under their
    trigger."""
    by_trace = {}
    for s in spans:
        by_trace.setdefault((s["trace"], s["name"]), s)
    for s in spans:
        if s["parent"] == 0 and s["name"] not in ("trigger", "entry"):
            up = "trigger" if s["name"] == "epoch" else "epoch"
            parent = by_trace.get((s["trace"], up))
            if parent:
                s["parent"] = parent["id"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    layer = lambda n: "sink" if n.startswith("sink.") else n
    out = {k: 0.0 for k in ("trigger", "epoch", "sink", "commitlog", "job",
                            "entry", "planning", "exec")}
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], []))
        covered, reach = 0.0, float("-inf")
        for a, b in iv:
            lo = max(a, reach)
            if b > lo:
                covered += b - lo
            reach = max(reach, b)
        out[layer(s["name"])] = out.get(layer(s["name"]), 0.0) + max(0.0, s["end"] - s["start"] - covered)
    return {f"self.{k}_ms": v / per for k, v in out.items()}


# ------------------------------------------------------------- workloads

def stream_spec(args, work, stream, warm, delay_ms, warm_files, main_trigger_ms, main_files):
    part = lambda name, s, trigger_ms, files: {
        "dir": os.path.join(work, name), "records": s.records, "notifications": s.notifications,
        "trigger_ms": trigger_ms, "max_files_per_trigger": files}
    return {"workload": args.workload, "work": work, "cores": args.cores,
            "seconds": args.seconds, "trace": bool(args.trace), "timeout_s": 60,
            "topic": gen.TOPIC, "completion_delay_ms": delay_ms,
            "lookup_batches": [json.dumps(n, ensure_ascii=False)
                               for n in stream.lookup + warm.lookup],
            "warm": part("warm", warm, 0, warm_files),
            "main": part("src", stream, main_trigger_ms, main_files)}


def index_dues(stream):
    stream.due_of = {ev["key"]: ev["due"] for ev in stream.events if ev["kind"] == "record"}


def run_drain(args, work, cp):
    stream = gen.drain_stream(args.seed)
    warm = gen.drain_stream(args.seed + 1_000_003, records=gen.DRAIN_RECORDS * 2 // 3, prefix="w")
    index_dues(stream)
    stream.batch_due = {b: 0 for b in stream.terminal}
    gen.write_backlog(warm, os.path.join(work, "warm"), gen.DRAIN_FILE_RECORDS)
    gen.write_backlog(stream, os.path.join(work, "src"), gen.DRAIN_FILE_RECORDS)
    spec = stream_spec(args, work, stream, warm, gen.DRAIN_DELAY_MS, 2,
                       0, gen.DRAIN_FILES_PER_TRIGGER)
    result = run_jvm(cp, spec, work, "2g")
    # closed loop: the whole backlog is due when the round's first trigger starts
    units = stream_units(stream, result, lambda first: (lambda rel: first))
    checks = [check.check_stream(stream, u["rows"]) for u in units]
    plain = [u for u in units if not u["round"]["traced"]]
    traced = [u for u in units if u["round"]["traced"]]
    e2e, n_rec, n_close = stream_e2e(plain, window_from_due=False)
    report = {"rounds": len(plain), "record samples": n_rec, "batch samples": n_close}
    layers = None
    if args.trace:
        per = max(1, len(traced))
        tagged = {u["round"]["tag"] for u in traced}
        layers, trig_spans = stream_layers(
            result, traced, lambda rnd, epoch: rnd["tag"] in tagged, per, 0.0,
            lambda progress: float(stream.records))
        layers["spans"] = [s for s in result["spans"] if s["trace"].split("/")[0] in tagged] + trig_spans
        layers.update(self_times(layers["spans"], per))
        layers["trace_overhead"] = (stream_e2e(traced, False)[0], e2e)
    return result, checks, e2e, layers, report


def run_churn(args, work, cp):
    stream = gen.churn_stream(args.seed, args.seconds)
    warm = gen.churn_stream(args.seed + 1_000_003, 2, prefix="w")
    index_dues(stream)
    gen.write_backlog(warm, os.path.join(work, "warm"), max(1, len(warm.events) // 6))
    src = os.path.join(work, "src")
    os.makedirs(src, exist_ok=True)
    prime = gen.Stream()
    prime.add(gen.note(f"prime-{args.seed}", "started"), 0)
    gen.write_file(src, 0, gen.kafka_rows(prime, int(time.time() * 1000)))
    spec = stream_spec(args, work, stream, warm, gen.CHURN_DELAY_MS, 1, 1000, 0)
    writes = []   # (write time ms, events written)
    sched = {}

    def generate(proc):
        """The open-loop generator: one thread, one file per tick, never
        slowed by the job; each event's broker timestamp is its due time."""
        ready = os.path.join(work, "ready")
        while not os.path.exists(ready):
            if proc.poll() is not None:
                return
            time.sleep(0.005)
        t0 = int(time.time() * 1000) + 100
        sched["t0"] = t0
        rows = gen.kafka_rows(stream, t0)
        i, seq = 0, 1
        while i < len(rows):
            tick = t0 + seq * gen.CHURN_TICK_MS
            time.sleep(max(0.0, tick / 1000.0 - time.time()))
            now_rel = time.time() * 1000 - t0
            j = i
            while j < len(rows) and stream.events[j]["due"] <= now_rel:
                j += 1
            if j > i:
                gen.write_file(src, seq, rows[i:j])
                writes.append((time.time() * 1000, i, j))
            i = j
            seq += 1

    result = run_jvm(cp, spec, work, "2g", on_start=generate)
    t0 = sched["t0"]
    units = stream_units(stream, result, lambda first: (lambda rel: t0 + rel))
    checks = [check.check_stream(stream, u["rows"]) for u in units]
    lag = []
    for w, i, j in writes:
        lag += [w - (t0 + stream.events[k]["due"]) for k in range(i, j)]
    half = t0 + args.seconds * 500
    u = units[0]
    split = lambda pred: [dict(u, rec=[x for x in u["rec"] if pred(x[1])],
                               close=[x for x in u["close"] if pred(x[1])])]
    e2e, n_rec, n_close = stream_e2e(units, window_from_due=True)
    report = {"offered batches/s": gen.CHURN_BATCHES_PER_S,
              "offered records/s": round(stream.records / args.seconds, 1),
              "record samples": n_rec, "batch samples": n_close,
              "record_latency_p50_ms": e2e["latency_p50_ms"],
              "record_latency_p99_ms": e2e["latency_p99_ms"],
              "batch_close_p50_ms": e2e["close_p50_ms"],
              "batch_close_p90_ms": e2e["close_p90_ms"]}
    layers = None
    if args.trace:
        epochs = {e["epoch"]: e["traced"] for e in u["round"]["epochs"]}
        traced_epoch = lambda rnd, epoch: epochs.get(epoch, False)

        def backlog(progress):
            worst, admitted = 0, 0
            for p in sorted(u["round"]["progress"], key=lambda p: p["batchId"]):
                t = iso_ms(p["timestamp"])
                written = sum(j - i for w, i, j in writes if w <= t)
                if traced_epoch(None, p["batchId"]):
                    worst = max(worst, written - admitted)
                admitted += p["numInputRows"]
            return float(worst)

        layers, trig_spans = stream_layers(result, units, traced_epoch, 1, pct(lag, 99), backlog)
        traces = {f"main/b{e}" for e, t in epochs.items() if t}
        layers["spans"] = [s for s in result["spans"] if s["trace"] in traces] + trig_spans
        layers.update(self_times(layers["spans"], 1))
        layers["trace_overhead"] = (stream_e2e(split(lambda d: d >= half), True)[0],
                                    stream_e2e(split(lambda d: d < half), True)[0])
    return result, checks, e2e, layers, report


def run_catalogue(args, work, cp):
    data = os.path.join(work, "data")
    gen.tables(data, args.seed)
    rows = {t: n for t, n in gen.TABLE_ROWS.items()}
    spec = {"workload": args.workload, "work": work, "cores": args.cores,
            "seconds": args.seconds, "trace": bool(args.trace), "data": data,
            "out": os.path.join(work, "out"), "entries": list(ENTRIES)}
    result = run_jvm(cp, spec, work, "3g")
    passes = result["passes"]
    checks = [check.check_catalogue(data, spec["out"], result, passes)]
    input_rows = sum(rows[t] for e in ENTRIES for t in ENTRY_TABLES[e])

    def e2e_of(ps):
        """Each entry's median over the passes, so one slow pass moves it less."""
        ps = [p for p in ps if not any("error" in e for e in p["entries"].values())]
        if not ps:
            return {k: float("nan") for k, _ in END_TO_END[1:]}
        med = lambda f: [statistics.median(f(p, e) for p in ps) for e in ENTRIES]
        lat = med(lambda p, e: p["entries"][e]["planning_ms"] + p["entries"][e]["exec_ms"])
        close = med(lambda p, e: p["entries"][e]["end"] - p["start"])
        return {"records_per_s": input_rows / (sum(lat) / 1000.0),
                "latency_p50_ms": statistics.median(lat), "latency_p99_ms": pct(lat, 99),
                "close_p50_ms": statistics.median(close), "close_p90_ms": pct(close, 90)}

    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    e2e = e2e_of(plain)
    ok = [p for p in plain if not any("error" in e for e in p["entries"].values())]
    report = {"passes": len(plain), "warm-up pass s": sum(result["warm_ms"].values()) / 1000}
    for e in ENTRIES:
        vals = [(p["entries"][e]["planning_ms"] + p["entries"][e]["exec_ms"]) / 1000 for p in ok]
        report[f"{e}_s"] = statistics.median(vals) if vals else float("nan")
    report["catalogue_s"] = sum(report[f"{e}_s"] for e in ENTRIES)
    layers = None
    if args.trace:
        per = max(1, len(traced))
        layers = {}
        for e in ENTRIES:
            runs = [(i, p["entries"][e]) for i, p in enumerate(passes)
                    if p["traced"] and "error" not in p["entries"][e]]
            aggs = [result["jobs"].get(f"{e}#{i}", {}) for i, _ in runs]
            k = max(1, len(runs))
            wall = sum(r["planning_ms"] + r["exec_ms"] for _, r in runs) / k / 1000.0
            task_s = sum(a.get("task_ms", 0) for a in aggs) / k / 1000.0
            layers.update({
                f"{e}.planning_ms": sum(r["planning_ms"] for _, r in runs) / k,
                f"{e}.exec_ms": sum(r["exec_ms"] for _, r in runs) / k,
                f"{e}.jobs": sum(a.get("jobs", 0) for a in aggs) / k,
                f"{e}.tasks": sum(a.get("tasks", 0) for a in aggs) / k,
                f"{e}.task_s": task_s,
                f"{e}.par": task_s / (wall * args.cores) if wall else 0.0,
                f"{e}.shuffle_bytes": sum(a.get("shuffle_write_bytes", 0) for a in aggs) / k,
                f"{e}.spill_bytes": sum(a.get("spill_bytes", 0) for a in aggs) / k,
            })
        tagged = {f"{e}#{i}" for i, p in enumerate(passes) if p["traced"] for e in ENTRIES}
        layers["spans"] = [s for s in result["spans"] if s["trace"] in tagged]
        layers.update(self_times(layers["spans"], per))
        layers["trace_overhead"] = (e2e_of(traced), e2e)
    return result, checks, e2e, layers, report


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # One core is left to the generator thread (and the JVM's compiler and
    # GC threads): no more than nproc threads do work.
    args.cores = max(1, min(4, os.cpu_count() or 1) - 1)

    cp, built = build()
    setup_start = time.time() if built else START   # the one-off build is not set-up
    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        runner = {"hot_batch_drain": run_drain, "batch_churn": run_churn,
                  "catalogue_mix": run_catalogue}[args.workload]
        result, checks, e2e, layers, report = runner(args, work, cp)
        e2e["setup_s"] = result["first_timed_ms"] / 1000.0 - setup_start
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(c[0] for c in checks)
    failed = sum(c[1] for c in checks)
    errors = [r.get("error") for r in result.get("rounds", []) if r.get("error")]
    if result.get("warm", {}).get("error"):
        errors.append("warm-up: " + result["warm"]["error"])
    for e in errors:
        log(f"perfbench: {e}")
    problems = [p for c in checks for p in c[2]]
    for p in problems[:20]:
        log(f"perfbench: check failed: {p}")

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    print(f"workload {args.workload}  seed {args.seed}  local[{args.cores}]  "
          f"shuffle partitions {args.cores}  trace {args.trace}")
    for k, v in report.items():
        print(f"  {k}: {round(v, 4) if isinstance(v, float) else v}")
    print(f"  check: {attempted - failed}/{attempted} correct, failed_share "
          f"{failed / max(1, attempted):.6f}")
    if args.trace:
        trace_file = os.path.join(ROOT, ".bench_run", f"trace-{args.workload}-{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump(layers.pop("spans"), f)
        print(f"  spans: {trace_file}")
        traced, plain = layers.pop("trace_overhead")
        for k, _ in END_TO_END[1:]:
            layers[f"trace.overhead.{k}"] = traced[k] - plain[k]
        layers["jvm.gc_ms"] = float(result["gc_ms"])
        layers["jvm.heap_peak_mb"] = result["heap_peak_mb"]
        layers["calibration_s"] = result["calibration_s"]
        values = {m["name"]: layers.get(m["name"], 0.0) for m in bench["per_layer"]}
    else:
        values = {k: e2e[k] for k, _ in END_TO_END}
    for k, v in values.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    if not all(math.isfinite(v) for v in values.values()):
        raise SystemExit("perfbench: a metric could not be measured")
    out = {"correct": failed == 0 and not errors, "attempted": attempted,
           "failed": failed + len(errors),
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the harness
(``build.py``), makes the workload's inputs (``gen.py``), drives the engine
through its public functions in one JVM (``scala/``), checks the outputs,
prints every metric by name with its unit and sample count, and prints as
its last line one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones of ``BENCHMARK.json``; with ``--trace 1`` the run also
records spans and Spark job numbers, and the metrics are the per-layer ones.
A run writes only under ``perfbench/.work`` (removed at exit) and
``perfbench/.out`` (one result file per workload, seed and trace flag). A
failed output check exits with code 1. See ``README.md``.
"""
import argparse
import datetime
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

WORKLOADS = ("batch_registry", "stream_reference")
TABLES = ("sessions", "user_paths", "funnel_analysis", "events_per_minute", "active_users",
          "event_type_distribution", "bounce_rate", "top_items", "item_interactions",
          "most_viewed_items")
# sink tables whose rows add up over triggers to the batch result; the
# sessions table is checked through its per-visitor event totals
ADDITIVE = ("events_per_minute", "event_type_distribution", "top_items", "item_interactions",
            "most_viewed_items", "sessions")
UNCHECKED = ("user_paths", "funnel_analysis", "active_users", "bounce_rate")
SENTINEL = "~wm~|"

SETUPS = 3  # set-ups per run; setup_s is their median
BATCH_PASSES = 3  # timed passes at least, so p75 has ten samples beyond it
WARM_PASSES = 1  # untimed noop passes before them
REGISTRY_SCALE = 0.3  # registry tables at 0.3x the shape of the sf0.01 testdata
# Drain backlog, the same size whatever --seconds is: 40 files of 36 events.
# The reference DAG (its closed-loop capacity, capacity_eps) and the
# sessions query each drain it in 10 triggers of 4 files.
DRAIN = dict(files=40, events_per_file=36, files_per_trigger=4)
# Open loop: one release slot every 100 ms at a fixed offered rate, about
# half the capacity_eps the drain measures on a 4-core host (see README.md),
# so the open-loop engine keeps up and latency does not grow with the run.
# Slots of 3 events, not 1 or 2 every 50 ms: the file source's cost per file
# would otherwise make a slow trigger collect more files and slow down more.
OFFERED_EPS = 30
INTERVAL_MS = 100
HEAP = "2g"
KILL_AFTER_S = 170


def cores():
    """Engine threads: half the machine's cores, at most four, so the
    driver, JIT and GC threads and the releaser have cores of their own."""
    return max(1, min(4, (os.cpu_count() or 1) // 2))


def cds_archive(jar, workload):
    """JVM options for class-data sharing. A workload's first run in a
    checkout dumps the classes it loaded into an archive next to the jar
    (``run_harness`` keeps it once the run succeeds); later runs map it,
    which halves the JVM's cold start. Every timing is taken after the
    first, untimed set-up, so the archive shortens runs without moving
    their numbers."""
    path = os.path.join(os.path.dirname(jar), f"{workload}.jsa")
    if os.path.exists(path):
        return path, [f"-XX:SharedArchiveFile={path}"]
    return path, [f"-XX:ArchiveClassesAtExit={path}.tmp"]


def java_cmd(jar, work, args, cds):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
              "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
              "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + cds + [
        f"-Xmx{HEAP}", "-XX:+UseSerialGC",
        "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
        f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-cp", os.pathsep.join([jar] + build.spark_classpath()), "perfbench.Harness"]
        + [f"{k}={v}" for k, v in args.items()])


class Releaser:
    """Single-threaded open-loop releaser: moves one staged envelope file
    into the watched directory at every scheduled instant, whether or not
    the engine has kept up, and logs (file, scheduled ms, actual ms)."""

    def __init__(self, outbox, watch, files, interval_ms):
        self.outbox, self.watch, self.files, self.interval = outbox, watch, files, interval_ms
        self.log = []

    def run(self):
        t0 = time.time() * 1000 + 50
        for i, f in enumerate(self.files):
            due = t0 + i * self.interval
            delay = (due - time.time() * 1000) / 1000
            if delay > 0:
                time.sleep(delay)
            src = os.path.join(self.outbox, f)
            now = time.time()
            os.utime(src, (now, now))
            os.rename(src, os.path.join(self.watch, f))
            self.log.append((f, due, time.time() * 1000))


def run_harness(jar, work, args, stream_files=None):
    """Run the JVM. For the stream workload, act as the releaser once it
    prints READY. Returns (result dict, releaser log)."""
    out = os.path.join(work, "result.json")
    log_path = os.path.join(work, "harness.log")
    releaser = None
    archive, cds = cds_archive(jar, args["workload"])
    with open(log_path, "w") as log:
        p = subprocess.Popen(java_cmd(jar, work, dict(args, work=work, out=out), cds),
                             stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
        killer = threading.Timer(KILL_AFTER_S, p.kill)
        killer.start()
        try:
            for line in p.stdout:
                if line.strip() == "READY" and stream_files:
                    releaser = Releaser(os.path.join(work, "outbox"), os.path.join(work, "watch"),
                                        stream_files, INTERVAL_MS)
                    releaser.run()
                    open(os.path.join(work, "released.done"), "w").close()
            rc = p.wait()
        finally:
            killer.cancel()
            if p.poll() is None:
                p.kill()
            p.wait()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log_path).read()[-6000:])
        raise SystemExit(f"harness failed with exit code {rc}")
    if os.path.exists(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)
    with open(out) as f:
        return json.load(f), (releaser.log if releaser else [])


def read_rows(work, name):
    with open(os.path.join(work, "outputs", name + ".txt")) as f:
        return f.read().splitlines()


def job_totals(js):
    """Per-query or per-trigger sums of the Spark jobs attached to it."""
    return dict(jobs=len(js), stages=sum(j["stages"] for j in js), tasks=sum(j["tasks"] for j in js),
                shuffle_write=sum(j["shuffle_write"] for j in js),
                shuffle_read=sum(j["shuffle_read"] for j in js), spill=sum(j["spill"] for j in js),
                skew=max([j["skew"] for j in js] or [1.0]), gc_ms=sum(j["gc_ms"] for j in js),
                scan_ms=sum(j["scan_run_ms"] for j in js))


def add_job_layers(layer, rec):
    layer["driver.jobs"] += rec["jobs"]
    layer["driver.stages"] += rec["stages"]
    layer["driver.tasks"] += rec["tasks"]
    layer["driver.gap_ms"] += rec["gap_ms"]
    layer["exchanges.shuffle_write_bytes"] += rec["shuffle_write"]
    layer["exchanges.shuffle_read_bytes"] += rec["shuffle_read"]
    layer["exchanges.spill_bytes"] += rec["spill"]
    layer["exchanges.skew_max_over_median"] = max(layer["exchanges.skew_max_over_median"], rec["skew"])


# ---------------------------------------------------------------- batch


def batch(jar, work, seed, seconds, trace, pins):
    names = sorted(pins)
    gen.registry_tables(os.path.join(work, "registry"), REGISTRY_SCALE)
    rng = random.Random(seed)
    orders = [rng.sample(names, len(names)) for _ in range(64)]
    with open(os.path.join(work, "orders.txt"), "w") as f:
        f.write("\n".join(",".join(o) for o in orders))
    res, _ = run_harness(jar, work, dict(
        workload="batch_registry", cores=cores(), seconds=seconds, trace=trace, setups=SETUPS,
        orders=os.path.join(work, "orders.txt"), min_passes=BATCH_PASSES, warm_passes=WARM_PASSES))
    qs = res["queries"]
    failures = {f"{q['name']} pass {q['pass']}": q["error"] for q in qs if q["error"]}
    failures.update({f"{n} output": e for n, e in res["output_errors"].items()})
    for name in names:
        if name in res["output_errors"]:
            continue
        d = stats.digest(read_rows(work, name))
        if d != pins[name]["digest"]:
            failures[f"{name} digest"] = f"{d} != pinned {pins[name]['digest']}"
    passes = sorted({q["pass"] for q in qs})
    pass_s = [(max(q["end"] for q in qs if q["pass"] == p)
               - min(q["start"] for q in qs if q["pass"] == p)) / 1000 for p in passes]
    pass_cpu_s = [sum(q["cpu_ms"] for q in qs if q["pass"] == p) / 1000 for p in passes]
    lat = [q["end"] - q["start"] for q in qs]
    tail_q = stats.tail_quantile(len(names) * BATCH_PASSES)
    e2e = {"setup_s": (stats.median(res["setup_s"]), len(res["setup_s"])),
           "cpu_s": (stats.median(pass_cpu_s), len(pass_cpu_s)),
           "total_s": (stats.median(pass_s), len(pass_s)),
           "latency_p50_ms": (stats.percentile(lat, 0.5), len(lat)),
           "latency_tail_ms": (stats.percentile(lat, tail_q), len(lat))}
    human = [("setup_s", *e2e["setup_s"], "s"), ("cpu_s", *e2e["cpu_s"], "s"),
             ("total_s", *e2e["total_s"], "s"), ("query_p50_s", e2e["latency_p50_ms"][0] / 1000, len(lat), "s"),
             (f"query_{stats.quantile_name(tail_q)}_s", e2e["latency_tail_ms"][0] / 1000, len(lat), "s")]
    layer = batch_layers(res, qs, pins, passes) if trace else None
    return res, e2e, human, len(qs) + len(names), failures, layer, tail_q


def memo_entry(path):
    """`graft-<kind>/<entry>` of a path inside an on-disk memo directory."""
    kind, _, rest = path.split("/graft-", 1)[1].partition("/")
    return f"graft-{kind}/{rest.split('/')[0]}"


def batch_layers(res, qs, pins, passes):
    by_span = {}
    for j in res["jobs"]:
        by_span.setdefault(j["span"], []).append(j)
    per_pass = {p: dict.fromkeys(PER_LAYER, 0.0) for p in passes}
    created = {(q["pass"], m): q["name"] for q in qs for m in q["memo_new"]}
    records, spans = [], []
    for q in qs:
        sid = f"q:{q['pass']}:{q['name']}"
        js = by_span.get(sid, [])
        plans = [p for p in res["plans"] if q["start"] <= p["start"] <= q["end"]]
        reads = sorted({memo_entry(r) for p in plans for r in p["memo_reads"]})
        hits = [r for r in reads if created.get((q["pass"], r), q["name"]) != q["name"]]
        wall = q["end"] - q["start"]
        rec = dict(name=q["name"], pass_no=q["pass"], wall_ms=wall, **job_totals(js),
                   gap_ms=wall - stats.union_length([(j["start"], j["end"]) for j in js],
                                                    q["start"], q["end"]),
                   plan_ms=sum(p["ms"] for p in plans), memo_new=q["memo_new"], memo_read=reads,
                   memo_hits=len(hits))
        records.append(rec)
        acc = per_pass[q["pass"]]
        add_job_layers(acc, rec)
        acc["driver.plan_ms"] += rec["plan_ms"]
        acc["caching.memo_misses"] += len(q["memo_new"])
        acc["caching.memo_hits"] += len(hits)
        acc["caching.memo_bytes"] = max(acc["caching.memo_bytes"], q["memo_bytes"])
        acc[pins[q["name"]]["module"] + ".total_s"] += wall / 1000
        spans.append(dict(id=sid, parent="run", name=q["name"], start=q["start"], end=q["end"]))
        spans += [dict(id=f"job:{j['id']}", parent=sid, name="job", start=j["start"], end=j["end"])
                  for j in js]
    spans.insert(0, dict(id="run", parent=None, name="run", start=min(q["start"] for q in qs),
                         end=max(q["end"] for q in qs)))
    # a pass runs every query once from empty memos: report the median pass
    layer = {k: stats.median([per_pass[p][k] for p in passes]) for k in PER_LAYER}
    return layer, records, spans, dict.fromkeys(PER_LAYER, len(passes))


# ---------------------------------------------------------------- stream


def stream(jar, work, seed, seconds, trace):
    slots = seconds * 1000 // INTERVAL_MS
    raw = os.path.join(work, "raw")
    open_events = gen.clickstream(raw, seed, "slot", gen.release_sizes(slots, INTERVAL_MS, OFFERED_EPS))
    drain_events = gen.clickstream(raw, seed, "drain", [DRAIN["events_per_file"]] * DRAIN["files"])
    files = [f"slot-{i:05d}.json" for i in range(slots)]
    res, rel = run_harness(jar, work, dict(
        workload="stream_reference", cores=cores(), seconds=seconds, trace=trace, setups=SETUPS,
        slots=slots, interval_ms=INTERVAL_MS, drain_files=DRAIN["files"],
        files_per_trigger=DRAIN["files_per_trigger"]), stream_files=files)
    progress = progress_rows(res)
    phase = {ph: [p for p in progress if p["phase"] == ph] for ph in ("open", "cap", "sessions")}
    file_batch = {f: int(b) for f, b in res["open_files"]}
    failures = {f"sink {c['phase']} batch {c['batch']} {c['table']}": "write failed"
                for c in res["sink_calls"] if not c["ok"]}
    # an event's latency runs from its slot's scheduled release to the end
    # of the last of the ten sink writes of the trigger that ingested it;
    # the events of one slot share both, so a slot is one sample
    ends = {}
    for c in res["sink_calls"]:
        if c["phase"] == "open":
            ends[c["batch"]] = max(ends.get(c["batch"], 0), c["end"])
    lat = []
    for f, due, _ in rel:
        if file_batch.get(f) in ends:
            lat.append(ends[file_batch[f]] - due)
        else:
            failures[f"latency {f}"] = "never reached a completed trigger"
    late_max, late_p50 = stats.release_lateness([(s, a) for _, s, a in rel])
    tail_q = stats.tail_quantile(slots)
    # output checks
    late_rows = sum(p["late_rows"] for p in progress)
    if late_rows:
        failures["late rows"] = f"{late_rows} rows dropped behind the watermark"
    primer = DRAIN["files_per_trigger"] * DRAIN["events_per_file"]
    for name, got, want in (("open archive", res["events_open"], open_events + primer),
                            ("drain archive", res["events_drain"], drain_events)):
        if got != want:
            failures[name] = f"holds {got} events, generated {want}"
    for ph, archive in (("open", "open"), ("cap", "drain")):
        for table in ADDITIVE:
            bad = stats.additive_mismatches(read_rows(work, f"{ph}.{table}"),
                                            read_rows(work, f"expected.{archive}.{table}"))
            if bad:
                failures[f"{ph} {table}"] = f"{len(bad)} keys differ from the batch result, e.g. {bad[:3]}"
    got = [r for r in read_rows(work, "sessions.global_sessions") if not r.startswith(SENTINEL)]
    missing, extra = stats.multiset_diff(got, read_rows(work, "expected.global_sessions"))
    if missing or extra:
        failures["sessions"] = f"{len(missing)} missing, {len(extra)} unexpected vs the batch twin"
    # the drain's wall and CPU time are its trigger count at the median
    # trigger time: the median passes over the query's first trigger, which
    # also starts the query, and over a trigger a stall of the host stretches
    cap_ms = [p["duration_ms"]["triggerExecution"] for p in phase["cap"] if p["rows"] > 0]
    drain_s = len(cap_ms) * stats.median(cap_ms) / 1000
    cap_cpu = stats.trigger_cpu_ms([c for c in res["sink_calls"] if c["phase"] == "cap"])
    capacity = drain_events / drain_s
    offered = open_events * 1000 / (slots * INTERVAL_MS)
    e2e = {"setup_s": (stats.median(res["setup_s"]), len(res["setup_s"])),
           "cpu_s": (len(cap_ms) * stats.median(cap_cpu) / 1000, len(cap_cpu)),
           "total_s": (drain_s, len(cap_ms)),
           "latency_p50_ms": (stats.percentile(lat, 0.5), len(lat)),
           "latency_tail_ms": (stats.percentile(lat, tail_q), len(lat))}
    human = [("setup_s", *e2e["setup_s"], "s"), ("cpu_s", *e2e["cpu_s"], "s"),
             ("total_s", *e2e["total_s"], "s"), ("latency_p50_ms", *e2e["latency_p50_ms"], "ms"),
             (f"latency_{stats.quantile_name(tail_q)}_ms", *e2e["latency_tail_ms"], "ms"),
             ("drain_wall_s", res["cap_s"], 1, "s"),
             ("capacity_eps", capacity, len(cap_ms), "1/s"),
             ("sessions_capacity_eps", drain_events / res["sessions_s"], len(phase["sessions"]), "1/s"),
             ("offered_eps", offered, slots, "1/s"),
             ("offered_share", offered / capacity, 1, "ratio"),
             ("release_late_ms_p50", late_p50, len(rel), "ms"),
             ("release_late_ms_max", late_max, len(rel), "ms")]
    attempted = sum(len(v) for v in phase.values()) + 2 * len(ADDITIVE) + 4
    layer = stream_layers(res, phase, file_batch, rel, late_max, drain_events) if trace else None
    res["unchecked_tables"] = UNCHECKED
    return res, e2e, human, attempted, failures, layer, tail_q


def progress_rows(res):
    """The fields the benchmark reads from each StreamingQueryProgress."""
    rows = []
    for r in res["progress"]:
        p = r["progress"]
        ops = p.get("stateOperators", [])
        rows.append(dict(
            phase=r["phase"], batch=p["batchId"], rows=p["numInputRows"], duration_ms=p["durationMs"],
            start=round(datetime.datetime.fromisoformat(p["timestamp"]).timestamp() * 1000),
            state_rows=sum(o["numRowsTotal"] for o in ops),
            state_memory=sum(o["memoryUsedBytes"] for o in ops),
            state_commit_ms=sum(o["commitTimeMs"] for o in ops),
            state_update_ms=sum(o["allUpdatesTimeMs"] for o in ops),
            late_rows=sum(o["numRowsDroppedByWatermark"] for o in ops)))
    return rows


def trigger_records(res, phase_progress):
    """Per-trigger job and planning numbers of one drain phase. Spark stamps
    each job of a micro-batch with its batch id; phases number their
    batches independently, so a trigger's jobs and query plans are those
    that start inside its interval."""
    records, spans = [], []
    for p in phase_progress:
        ph, start, dur = p["phase"], p["start"], p["duration_ms"].get("triggerExecution", 0)
        js = [j for j in res["jobs"] if j["batch"] == str(p["batch"]) and start <= j["start"] <= start + dur]
        gap = dur - stats.union_length([(j["start"], j["end"]) for j in js], start, start + dur)
        plan_ms = sum(q["ms"] for q in res["plans"] if start <= q["start"] <= start + dur)
        records.append(dict(phase=ph, batch=p["batch"], rows=p["rows"], trigger_ms=dur, **job_totals(js),
                            gap_ms=gap, plan_ms=plan_ms, state_commit_ms=p["state_commit_ms"],
                            state_update_ms=p["state_update_ms"], state_rows=p["state_rows"]))
        sid = f"trigger:{ph}:{p['batch']}"
        spans.append(dict(id=sid, parent="run", name=f"trigger {ph}", start=start, end=start + dur))
        spans += [dict(id=f"job:{j['id']}", parent=j["span"] or sid, name="job", start=j["start"],
                       end=j["end"]) for j in js]
    return records, spans


def stream_layers(res, phase, file_batch, rel, late_max, drain_events):
    """Per-layer numbers. Driver and exchange numbers come from the
    closed-loop drains, whose triggers are the same on every run of a seed;
    per-trigger figures are medians (or maxima) over the drain's triggers,
    whose count the record keeps under ``samples``."""
    layer = dict.fromkeys(PER_LAYER, 0.0)
    cap, spans = trigger_records(res, phase["cap"])
    sess, sess_spans = trigger_records(res, phase["sessions"])
    spans += sess_spans
    spans += [dict(id=f"sink:cap:{c['batch']}:{c['table']}", parent=f"trigger:cap:{c['batch']}",
                   name=c["table"], start=c["start"], end=c["end"])
              for c in res["sink_calls"] if c["phase"] == "cap"]
    spans.insert(0, dict(id="run", parent=None, name="run", start=min(s["start"] for s in spans),
                         end=max(s["end"] for s in spans)))
    for r in cap:
        add_job_layers(layer, r)
        layer["driver.plan_ms"] += r["plan_ms"]
        layer["clean.scan_parse_task_ms"] += r["scan_ms"]
    for r in sess:
        layer["exchanges.shuffle_write_bytes"] += r["shuffle_write"]
        layer["exchanges.shuffle_read_bytes"] += r["shuffle_read"]
        layer["exchanges.spill_bytes"] += r["spill"]
        layer["exchanges.skew_max_over_median"] = max(layer["exchanges.skew_max_over_median"], r["skew"])
    cap_data = [r for r in cap if r["rows"] > 0]
    sess_data = [r for r in sess if r["rows"] > 0]
    layer["driver.jobs_per_trigger"] = stats.median([r["jobs"] for r in cap_data])
    layer["caching.persist_bytes_peak"] = res["persist_peak_bytes"]
    # open-phase triggers that ingested released files (not the primer)
    released = {file_batch[f] for f, _, _ in rel if f in file_batch}
    data = {p["batch"]: p["start"] for p in phase["open"] if p["batch"] in released}
    backlog = stats.backlog_at_triggers({f: a for f, _, a in rel}, file_batch, data)
    layer["sources.backlog_files_max"] = max(backlog.values(), default=0)
    layer["sources.rows_per_trigger_p50"] = stats.median([p["rows"] for p in phase["open"] if p["batch"] in released])
    layer["sources.triggers"] = len(data)
    layer["sources.release_late_ms_max"] = late_max
    layer["clean.rows_parsed"] = sum(r["rows"] for r in cap)
    for t in TABLES:
        layer[f"analytics.{t}.ms"] = stats.median(
            [c["end"] - c["start"] for c in res["sink_calls"] if c["phase"] == "cap" and c["table"] == t])
    layer["sink.write_calls"] = len(res["sink_calls"])
    layer["sink.failed_writes"] = sum(1 for c in res["sink_calls"] if not c["ok"])
    layer["sink.rows_written"] = sum(sum(res[f"sink_rows_{ph}"].values()) for ph in ("open", "cap"))
    trig = [r["trigger_ms"] for r in sess_data]
    layer["stream.commit_ms_p50"] = stats.median([r["state_commit_ms"] for r in sess_data])
    layer["stream.update_ms_p50"] = stats.median([r["state_update_ms"] for r in sess_data])
    layer["stream.trigger_ms_p50"] = stats.median(trig)
    layer["stream.trigger_ms_max"] = max(trig, default=0)
    layer["stream.state_rows_max"] = max(p["state_rows"] for p in phase["sessions"])
    layer["stream.state_memory_bytes_max"] = max(p["state_memory"] for p in phase["sessions"])
    layer["stream.checkpoint_bytes"] = res["checkpoint_bytes"]
    layer["stream.late_rows_dropped"] = sum(p["late_rows"] for p in phase["sessions"])
    if "local1_cap_s" in res:
        layer["stream.capacity_eps_local1"] = drain_events / res["local1_cap_s"]
    samples = {"driver.jobs_per_trigger": len(cap_data), "sources.rows_per_trigger_p50": len(data),
               **{f"analytics.{t}.ms": len(cap_data) for t in TABLES},
               **{k: len(sess_data) for k in ("stream.commit_ms_p50", "stream.update_ms_p50",
                                              "stream.trigger_ms_p50", "stream.trigger_ms_max")}}
    return layer, cap + sess, spans, samples


# ---------------------------------------------------------------- main


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    jar = build.build()
    with open(os.path.join(BENCH, "pins", "registry.json")) as f:
        pins = json.load(f)
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "batch_registry":
            res, e2e, human, attempted, failures, layer, tail_q = batch(
                jar, work, a.seed, a.seconds, a.trace, pins)
        else:
            res, e2e, human, attempted, failures, layer, tail_q = stream(
                jar, work, a.seed, a.seconds, a.trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = len(failures)
    human.append(("failed_share", failed / attempted, attempted, "ratio"))
    for name, value, n, unit in human:
        print(f"{name} = {value:.6g} {unit} (n={n})")
    for k, v in sorted(failures.items()):
        print(f"FAILED {k}: {v}")
    if res.get("unchecked_tables"):
        print("unchecked (not additive over triggers): " + ", ".join(res["unchecked_tables"]))
    print("env: " + json.dumps({k: v for k, v in res["env"].items() if k != "spark_conf"}))

    out_dir = os.path.join(BENCH, ".out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}"
    record = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                  tail_quantile=tail_q, end_to_end={k: v[0] for k, v in e2e.items()},
                  samples={k: v[1] for k, v in e2e.items()}, failures=failures,
                  setup_runs_s=res["setup_s"], env=res["env"])
    if a.trace:
        values, records, spans, samples = layer
        # tracing overhead: this traced run against the untraced run of the
        # same workload and seed, when one was made in this checkout
        base_path = os.path.join(out_dir, f"{tag}-trace0.json")
        overhead = {}
        if os.path.exists(base_path):
            with open(base_path) as f:
                base = json.load(f)["end_to_end"]
            overhead = {k: e2e[k][0] / base[k] - 1 for k in e2e if base.get(k)}
            for k, v in overhead.items():
                print(f"tracing overhead {k} = {100 * v:+.1f} %")
        record.update(per_layer=values, per_layer_samples=samples, tracing_overhead=overhead,
                      records=records, spans=spans,
                      self_time_ms={k: v for k, v in stats.self_times(spans).items()
                                    if not k.startswith("job:")})
        for k, unit in PER_LAYER.items():
            n = f" (n={samples[k]})" if k in samples else ""
            print(f"{k} = {values[k]:.6g} {unit}{n}")
        metrics = {k: {"value": float(values[k]), "unit": unit} for k, unit in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k][0]), "unit": unit} for k, unit in END_TO_END.items()}
    with open(os.path.join(out_dir, f"{tag}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

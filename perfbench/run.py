#!/usr/bin/env python3
"""Detector pipeline benchmark: one command, every end-to-end metric.

  python3 perfbench/run.py --workload network|showers --seed N \
      --seconds S --trace 0|1 [--trigger-ms 500]

Builds the program from source (src/main/scala plus the harness in
perfbench/harness) into .bench_build/ (or $CARGO_TARGET_DIR), generates
the workload's input with gen.py in a separate process, runs the harness
JVM, checks every output against the DuckDB oracle, and prints one JSON
object as the last line of stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the traced
harness instead and reports the per-layer metrics. A details object (host
evidence, profile stats, failure list, per-layer table) is printed on the
line before and kept in .perfbench/last-<workload>-trace<T>.json.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import oracle  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """Classpath glob of the Spark jars: $SPARK_HOME/jars, else the
    `unmanagedBase` directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    return os.path.join(m.group(1), "*") if m else ""


SPARK_JARS = spark_jars()
DEADLINE_S = 170.0
CORES = len(os.sched_getaffinity(0))  # Spark runs at local[nproc]

# The batch phase repeats cold passes for --seconds/2 and at least
# MIN_PASSES times; the live phase offers `rate` events/s for --seconds
# (long enough for ~10 micro-batches, so one slow batch moves the latency
# percentiles little). The input is the backlog (BACKLOG times the live
# events) plus the live events; the batch phase reads all of it.
WORKLOADS = {"network": 2000, "showers": 1500}  # live rate, events/s
MIN_PASSES = 2
BACKLOG = 0.5
WARMUP = {"profile": "tiny", "seed": 0, "events": 3000}
SLOT_MS = 250
LATENCY_LIMIT_S = 20.0
HOUR_NS = 3600 * 10**9
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


E2E = {
    "setup_s": "s",
    "batch_events_per_s": "events/s",
    "stream_catchup_events_per_s": "events/s",
    "stream_latency_p50_s": "s",
    "stream_latency_p99_s": "s",
    "peak_rss_mb": "MB",
}


def _units(spec):
    return {f"{layer}.{name}": unit for layer, names in spec for name, unit in names}


# per-layer metrics of the traced run, layer = module (README.md maps each
# to the end-to-end metric it should move)
PER_LAYER = _units([
    ("session", [("start_s", "s"), ("register_s", "s"), ("warmup_s", "s"),
                 ("warn_lines", "count")]),
    ("wire", [("rows_out", "count"), ("task_s", "s"), ("wall_s", "s")]),
    ("mqttparser", [("rows_in", "count"), ("rows_out", "count"), ("reject_ratio", "ratio"),
                    ("task_s", "s"), ("wall_s", "s")]),
    ("gate", [("rows_in", "count"), ("rows_out", "count"), ("forward_ratio", "ratio"),
              ("task_s", "s"), ("wall_s", "s"), ("max_task_s", "s"),
              ("shuffle_write_bytes", "bytes"), ("fetch_wait_s", "s"),
              ("spill_bytes", "bytes"), ("peak_exec_mem_bytes", "bytes"),
              ("state_rows", "count"), ("state_mem_bytes", "bytes"),
              ("state_commit_ms", "ms")]),
    ("sessionize", [("rows_in", "count"), ("sessions", "count"),
                    ("max_session_rows", "count"), ("task_s", "s"), ("wall_s", "s"),
                    ("max_task_s", "s"), ("shuffle_write_bytes", "bytes"),
                    ("fetch_wait_s", "s")]),
    ("geodesic", [("pairs_scored", "count"), ("valid_edges", "count"),
                  ("edge_yield", "ratio"), ("clusters_out", "count"), ("task_s", "s"),
                  ("wall_s", "s"), ("max_task_s", "s")]),
    ("geostream", [("state_rows", "count"), ("state_mem_bytes", "bytes"),
                   ("state_commit_ms", "ms"), ("rows_dropped_by_watermark", "count"),
                   ("clusters_out", "count")]),
    ("format", [("rows_out", "count"), ("task_s", "s"), ("wall_s", "s")]),
    ("scancache", [("builds", "count"), ("build_s", "s"), ("reuse_s", "s")]),
    ("driver", [("plan_s", "s"), ("eager_jobs", "count")]),
    ("jvm", [("gc_s", "s")]),
    ("microbatch", [("batches", "count"), ("empty_batches", "count"),
                    ("trigger_ms_p50", "ms"), ("planning_ms_p50", "ms"),
                    ("latest_offset_ms_p50", "ms"), ("wal_commit_ms_p50", "ms"),
                    ("commit_offsets_ms_p50", "ms")]),
    ("source", [("lag_s_p50", "s"), ("lag_s_max", "s")]),
    ("sink", [("add_batch_ms_p50", "ms"), ("bytes_written", "bytes"),
              ("files_written", "count")]),
    ("trace", [("overhead_s", "s")]),
    ("scaling", [("c1_events_per_s", "events/s")]),
])


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ---- build ----------------------------------------------------------------

def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not main or not harness:
        sys.exit("perfbench: no program sources under src/main/scala; nothing to build")
    if not glob.glob(SPARK_JARS):
        sys.exit("perfbench: no Spark jars found; set SPARK_HOME")
    return main, harness


def scalac(out, classpath, files):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", SPARK_JARS, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"perfbench: compile failed ({out})")


def _stamp(files, seed=""):
    h = hashlib.sha256(seed.encode())
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program, then the harness against it, each only when its
    sources changed. Returns a stamp identifying both."""
    main, harness = sources()
    stamp = ""
    for part, files, cp in (("main", main, SPARK_JARS),
                            ("harness", harness, os.path.join(BUILD, "main") + ":" + SPARK_JARS)):
        stamp = _stamp(files, stamp)
        stamp_file = os.path.join(BUILD, part + ".stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            continue
        t0 = time.time()
        shutil.rmtree(os.path.join(BUILD, part), ignore_errors=True)
        scalac(os.path.join(BUILD, part), cp, files)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"built {part}: {len(files)} sources in {time.time() - t0:.0f} s")
    return stamp


def java_cmd(args, heap="2g"):
    """The harness JVM. The heap is fixed and pre-touched, so peak RSS
    varies with native memory and not with how far G1 grew the heap."""
    cp = ":".join([os.path.join(BUILD, "harness"), os.path.join(BUILD, "main"), SPARK_JARS])
    return (["java", *ADD_OPENS, f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.streaming.PerfHarness"]
            + [f"{k}={v}" for k, v in args.items()])


# ---- inputs ---------------------------------------------------------------

def gen(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), *map(str, args)],
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit("perfbench: generator failed")
    return r.stdout


def warmup_dir():
    d = os.path.join(WORK, "warmup-{profile}-{seed}-{events}".format(**WARMUP))
    if not os.path.exists(os.path.join(d, "manifest.json")):
        shutil.rmtree(d, ignore_errors=True)
        gen("make", "--profile", WARMUP["profile"], "--seed", WARMUP["seed"],
            "--events", WARMUP["events"], "--out", d)
    return d


def oracle_sql(stamp):
    path = os.path.join(WORK, f"oracle-sql-{stamp}.json")
    if not os.path.exists(path):
        r = subprocess.run(java_cmd({"mode": "dump", "out": path + ".tmp"}, "256m"),
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        if r.returncode != 0:
            sys.exit("perfbench: oracle SQL dump failed")
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


# ---- helpers --------------------------------------------------------------

def q(values, p):
    """Nearest-rank percentile p (0..100) of a non-empty list."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(-(-p * len(v) // 100)) - 1))]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s():
    """CPU time the hypervisor gave to others, summed over CPUs (s)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def iso_ms(ts):
    from datetime import datetime
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def read_sink(path):
    """[(row tuple, file mtime)] of every parquet part file under path."""
    import pyarrow.parquet as pq
    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        mt = os.path.getmtime(f)
        t = pq.read_table(f)
        for r in zip(*(t.column(c).to_pylist() for c in t.column_names)):
            out.append((tuple(r), mt))
    return out


def consumed_files(ckpt):
    """{file name: batch id} from the file source's metadata log."""
    out = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if not os.path.basename(f).isdigit():
            continue
        for line in open(f).read().splitlines()[1:]:
            try:
                e = json.loads(line)
            except ValueError:
                continue
            out[os.path.basename(e["path"])] = e["batchId"]
    return out


# ---- checks ---------------------------------------------------------------

def check_batch(res, expected, failures):
    """One operation per DAG job (3 per cold pass)."""
    its = res["iterations"]
    got = {k: [tuple(r) for r in v] for k, v in res.get("rows", {}).items()}
    verdict = {}
    for name in oracle.QUERIES:
        n, ex = oracle.diff_rows(expected[name], got.get(name, []))
        verdict[name] = n == 0
        if n:
            failures.append({"phase": "batch", "query": name, "mismatched_rows": n,
                             "examples": ex})
    attempted = failed = 0
    for it in its:
        for name in oracle.QUERIES:
            attempted += 1
            if it.get("error") or not it.get("same_as_first") or not verdict[name]:
                failed += 1
    for e in res.get("errors", []):
        failures.append({"phase": "batch", "error": e})
    return attempted, failed


def check_stream(res, man, data, expected, feed, failures):
    """One operation per expected L1 cluster; latency per live cluster."""
    files = man["stream"]["files"]
    due = {f["name"]: f["due"] for f in feed}
    live = [f for f in files if f["phase"] == "live"]
    ascii_rows = read_sink(os.path.join(data, "out", "ascii"))
    mqtt_rows = read_sink(os.path.join(data, "out", "mqtt"))
    got_ascii, got_mqtt, when = {}, {}, {}
    for (uuid, msg), mt in ascii_rows:
        got_ascii.setdefault(uuid, []).append(msg)
        when[uuid] = max(when.get(uuid, 0.0), mt)
    for (uuid, msg), mt in mqtt_rows:
        got_mqtt.setdefault(uuid, []).append(msg)
        when[uuid] = max(when.get(uuid, 0.0), mt)
    exp_mqtt = {}
    for uuid, msg in expected["detector_dag_mqtt"]:
        exp_mqtt.setdefault(uuid, []).append(msg)
    envelopes = {r[0]: r[1] for r in expected["detector_dag"]}  # start -> end
    crossing = [(s, e) for s, e in envelopes.items() if s // HOUR_NS != e // HOUR_NS]

    def live_file(t_ns):
        for f in live:
            if f["t_lo_ns"] <= t_ns <= f["t_hi_ns"]:
                return f["name"]
        return None

    attempted = failed = known = 0
    lat, late_after = [], None
    lag = source_lag(res, files, due, data)
    if lag["growth_start"] is not None:
        late_after = lag["growth_start_t_ns"]
    for uuid, msg in expected["detector_dag_ascii"]:
        attempted += 1
        end = envelopes[uuid]
        why = None
        if got_ascii.get(uuid) != [msg]:
            why = "missing" if uuid not in got_ascii else "differs"
        elif sorted(got_mqtt.get(uuid, [])) != sorted(exp_mqtt.get(uuid, [])):
            why = "differs"
        f = live_file(end)
        if why is None and f is not None:
            latency = when[uuid] - due[f]
            lat.append(latency)
            if latency > LATENCY_LIMIT_S:
                why = "late"
            elif late_after is not None and end >= late_after:
                why = "backlog_growth"
        if why:
            failed += 1
            cross = uuid // HOUR_NS != end // HOUR_NS
            known += cross and why in ("missing", "differs")
            failures.append({"phase": "stream", "cluster_start": uuid, "why": why,
                             "crosses_hour_bucket": cross})
    parts = glob.glob(os.path.join(data, "out", "*", "*.parquet"))
    unexpected = [u for u in got_ascii if u not in envelopes or len(got_ascii[u]) > 1]
    unexplained = [u for u in unexpected
                   if not any(s <= u <= e for s, e in crossing)]
    return {"attempted": attempted, "failed": failed, "latencies": lat,
            "known_bucket_split": known, "unexpected_clusters": len(unexpected),
            "unexplained_unexpected": len(unexplained), "crossing_expected": len(crossing),
            "source_lag": lag, "sink_files": len(parts), "sink_clusters": len(ascii_rows),
            "sink_bytes": sum(os.path.getsize(p) for p in parts)}


def commit_ms(progress):
    return {p["batchId"]: iso_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0)
            for p in progress}


def source_lag(res, files, due, data):
    """Per live file: commit of the batch that read it minus its due time.
    Growth: the last quarter's median lag exceeds the first quarter's by
    more than 2 s; it starts at the first file from which the lag stays
    above the first quarter's median + 2 s."""
    batch_of = consumed_files(os.path.join(data, "ckpt"))
    commits = commit_ms(res["progress"])
    rows = []
    for f in files:
        if f["phase"] == "live" and f["name"] in batch_of and f["name"] in due:
            b = batch_of[f["name"]]
            if b in commits:
                rows.append((f, commits[b] / 1000.0 - due[f["name"]]))
    lags = [x for _, x in rows]
    out = {"files": len(rows), "p50_s": q(lags, 50) if lags else 0.0,
           "max_s": max(lags) if lags else 0.0, "growth_start": None,
           "growth_start_t_ns": None}
    if len(lags) >= 4:
        k = len(lags) // 4
        base = statistics.median(lags[:k])
        if statistics.median(lags[-k:]) > base + 2.0:
            start = len(lags)
            while start > 0 and lags[start - 1] > base + 2.0:
                start -= 1
            out["growth_start"] = rows[start][0]["name"]
            out["growth_start_t_ns"] = rows[start][0]["t_lo_ns"]
    return out


# ---- run ------------------------------------------------------------------

def run_harness(args, data, deadline):
    """Run the harness JVM and start the feeder once the backlog batch has
    committed. Every process is killed at the deadline and waited for.
    Returns the harness result and the feed log."""
    import threading
    err_path = os.path.join(data, "harness.err")
    args = dict(args, launch_ms=int(time.time() * 1000))
    procs = []
    with open(err_path, "w") as err:
        p = subprocess.Popen(java_cmd(args), stdout=subprocess.PIPE, stderr=err, text=True,
                             start_new_session=True)
        procs.append(p)

        def kill():
            for x in procs:
                if x.poll() is None:
                    os.killpg(x.pid, signal.SIGKILL)
        watchdog = threading.Timer(max(1.0, deadline - time.time()), kill)
        watchdog.start()
        try:
            for line in p.stdout:
                if line.startswith("PERFBENCH CATCHUP"):
                    t0 = time.time() + 0.2
                    procs.append(subprocess.Popen(
                        [sys.executable, os.path.join(HERE, "gen.py"), "feed",
                         "--dir", data, "--t0", f"{t0:.3f}"], start_new_session=True))
            rc = p.wait()
        finally:
            watchdog.cancel()
            kill()
            for x in procs:
                x.wait()
    if rc != 0:
        sys.stderr.write(open(err_path).read()[-3000:])
        sys.exit(f"perfbench: harness failed (rc={rc})")
    with open(os.path.join(data, "feed.json")) as f:
        feed = json.load(f)
    with open(args["out"]) as f:
        res = json.load(f)
    warn = 0
    for line in open(err_path):
        if "PERFBENCH READY" in line:
            break
        warn += " WARN " in line
    res["setup"]["warn_lines"] = warn
    return res, feed


def main(argv):
    ap = argparse.ArgumentParser(description="detector pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trigger-ms", type=int, default=500)
    a = ap.parse_args(argv)
    load0, steal0 = loadavg(), steal_s()
    stamp = build()
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    os.makedirs(WORK, exist_ok=True)
    sqls = oracle_sql(stamp)

    data = os.path.join(WORK, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(data, ignore_errors=True)
    try:
        details = measure(a, stamp, sqls, data, deadline)
    finally:
        shutil.rmtree(data, ignore_errors=True)
    details["host"]["loadavg_before"] = load0
    details["host"]["cpu_steal_s"] = round(steal_s() - steal0, 2)
    details["wall_s"] = round(time.time() - t_start, 1)
    with open(os.path.join(WORK, f"last-{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump(details, f, indent=1)
    result = {k: details.pop(k) for k in ("correct", "attempted", "failed")}
    result["metrics"] = details["metrics"]
    print(json.dumps(details))
    print(json.dumps(result))


def measure(a, stamp, sqls, data, deadline):
    """Generate, run the harness and check its outputs; the details object."""
    rate = WORKLOADS[a.workload]
    live_events = int(rate * a.seconds)
    backlog = int(BACKLOG * live_events)
    gen("make", "--profile", a.workload, "--seed", a.seed,
        "--events", backlog + live_events, "--out", data, "--stream",
        "--backlog", backlog, "--rate", rate, "--slot-ms", SLOT_MS)
    with open(os.path.join(data, "manifest.json")) as f:
        man = json.load(f)
    warm = warmup_dir()
    t0 = time.time()
    expected, counts = oracle.cached_oracle(sqls, os.path.join(data, "events.parquet"),
                                            os.path.join(WORK, "oracle-cache"), man["digest"],
                                            threads=CORES)
    oracle_s = time.time() - t0

    res, feed = run_harness({
        "mode": "run", "workload": a.workload, "data": data, "warmup": warm,
        "out": os.path.join(data, "result.json"), "cores": CORES,
        "seconds": a.seconds / 2, "min_passes": MIN_PASSES, "trace": a.trace,
        "trigger_ms": a.trigger_ms, "backlog_lines": backlog,
        "total_lines": man["stats"]["events"]}, data, deadline)

    failures = []
    b_att, b_fail = check_batch(res["batch"], expected, failures)
    st = check_stream(res["stream"], man, data, expected, feed, failures)
    if a.trace:
        tr = res["trace_batch"]["output"]
        traced = {k: [tuple(r) for r in v] for k, v in tr.items()}
        for name in oracle.QUERIES:
            n, ex = oracle.diff_rows(expected[name], traced[name])
            b_att += 1
            if n:
                b_fail += 1
                failures.append({"phase": "trace", "query": name, "mismatched_rows": n,
                                 "examples": ex})
    attempted = b_att + st["attempted"]
    failed = b_fail + st["failed"]
    # correct: no failure beyond the documented bucket-split defect (every
    # stream failure is an hour-crossing cluster, every extra sink row a
    # fragment of one) and the batch DAG matches the oracle
    correct = (b_fail == 0 and st["failed"] == st["known_bucket_split"]
               and st["unexplained_unexpected"] == 0)

    lateness = [x["moved"] - x["due"] for x in feed]
    stream = res["stream"]
    walls = [it["wall_s"] for it in res["batch"]["iterations"] if not it.get("error")]
    lat = st["latencies"]
    details = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "input": {"digest": man["digest"], "stats": man["stats"],
                  "oracle_counts": counts, "expected_l1_clusters":
                  len(expected["detector_dag"]), "gen_s": man["gen_s"],
                  "oracle_s": round(oracle_s, 3)},
        "host": {"nproc": CORES, "spark_cores": res["cores"],
                 "loadavg_after": loadavg(),
                 "generator_lateness_max_s": max(lateness) if lateness else 0.0,
                 "generator_lateness_p99_s": q(lateness, 99) if lateness else 0.0,
                 "generator_late_by_more_than_one_slot":
                     bool(lateness and max(lateness) > SLOT_MS / 1000.0)},
        "setup": res["setup"],
        "batch": {"cold_passes": len(walls), "wall_s": walls},
        "stream": {"latency_samples": len(lat), "latency_limit_s": LATENCY_LIMIT_S,
                   "known_bucket_split_failures": st["known_bucket_split"],
                   "known_cause": "clusters crossing a 1 h bucket are split by "
                                  "DetectorApp.run (ROADMAP open item 2)",
                   "unexpected_clusters": st["unexpected_clusters"],
                   "crossing_expected": st["crossing_expected"],
                   "source_lag": st["source_lag"]},
        "failures": failures[:50], "failures_total": len(failures),
    }
    if a.trace:
        metrics = layer_metrics(res, man, st)
        details["layers"] = layer_table(res, metrics)
    else:
        if len(lat) < 1000:
            log(f"only {len(lat)} latency samples; p99 needs 1000")
        catchup_s = (stream["catchup_commit_ms"] - stream["start_ms"]) / 1000.0
        values = {
            "setup_s": res["setup"]["setup_s"],
            "batch_events_per_s": man["stats"]["events"] / statistics.median(walls),
            "stream_catchup_events_per_s": stream["backlog_lines"] / catchup_s,
            "stream_latency_p50_s": q(lat, 50) if lat else 0.0,
            "stream_latency_p99_s": q(lat, 99) if lat else 0.0,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {k: (float(values[k]), u) for k, u in E2E.items()}
    details["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    details.update(correct=bool(correct), attempted=int(attempted), failed=int(failed))
    return details


# ---- traced run: per-layer metrics ----------------------------------------

def self_times(spans):
    """name -> self time (span minus the part its children cover), summed."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault((s["run"], s["parent"]), []).append(s)
    out = {}
    for s in spans:
        kids = sorted((c["start"], c["end"]) for c in by_parent.get((s["run"], s["name"]), []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in kids:
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        covered += (cur_e - cur_s) if cur_e is not None else 0
        key = "microbatch" if s["name"].startswith("microbatch-") else s["name"].split(".")[0]
        out[key] = out.get(key, 0.0) + (s["end"] - s["start"] - covered) / 1000.0
    return out


def layer_metrics(res, man, st):
    tb = res["trace_batch"]
    g = tb["groups"]
    rows = tb["rows"]
    spans = res["spans"]
    wall = {s["name"]: (s["end"] - s["start"]) / 1000.0 for s in spans
            if s["parent"] == "batch"}
    prog = res["stream"]["progress"]
    setup = res["setup"]

    def grp(name, key):
        return g.get(name, {}).get(key, 0)

    def p50(xs):
        return q(xs, 50) if xs else 0.0

    data_batches = [p for p in prog if p["numInputRows"] > 0]
    def dur(k):
        return [p["durationMs"][k] for p in prog if k in p["durationMs"]]

    ops = [p.get("stateOperators", []) for p in prog]

    def state(i, k, agg=max):
        xs = [o[i][k] for o in ops if len(o) > i]
        return agg(xs) if xs else 0
    m = {}
    m["session.start_s"] = setup["start_s"]
    m["session.register_s"] = setup["register_s"]
    m["session.warmup_s"] = setup["warmup_s"]
    m["session.warn_lines"] = setup["warn_lines"]
    m["wire.rows_out"] = rows.get("wire", 0)
    m["wire.task_s"] = grp("wire", "task_s")
    m["wire.wall_s"] = wall.get("wire", 0.0)
    m["mqttparser.rows_in"] = rows.get("wire", 0)
    m["mqttparser.rows_out"] = rows.get("mqttparser", 0)
    m["mqttparser.reject_ratio"] = 1 - rows.get("mqttparser", 0) / max(1, rows.get("wire", 0))
    m["mqttparser.task_s"] = grp("mqttparser", "task_s")
    m["mqttparser.wall_s"] = wall.get("mqttparser", 0.0)
    m["gate.rows_in"] = rows.get("mqttparser", 0)
    m["gate.rows_out"] = rows.get("gate", 0)
    m["gate.forward_ratio"] = rows.get("gate", 0) / max(1, rows.get("mqttparser", 0))
    for k in ("task_s", "max_task_s", "shuffle_write_bytes", "fetch_wait_s", "spill_bytes",
              "peak_exec_mem_bytes"):
        m[f"gate.{k}"] = grp("gate", k)
    m["gate.wall_s"] = wall.get("gate", 0.0)
    # stateOperators lists the geostream operator (index 0) before the
    # gate (index 1): it sits above the gate in the plan
    m["gate.state_rows"] = state(1, "numRowsTotal")
    m["gate.state_mem_bytes"] = state(1, "memoryUsedBytes")
    m["gate.state_commit_ms"] = state(1, "commitTimeMs", sum)
    m["sessionize.rows_in"] = rows.get("gate", 0)
    m["sessionize.sessions"] = tb["sessions"]
    m["sessionize.max_session_rows"] = tb["max_session_rows"]
    for k in ("task_s", "max_task_s", "shuffle_write_bytes", "fetch_wait_s"):
        m[f"sessionize.{k}"] = grp("sessionize", k)
    m["sessionize.wall_s"] = wall.get("sessionize", 0.0)
    m["geodesic.pairs_scored"] = tb["pairs_scored"]
    m["geodesic.valid_edges"] = tb["valid_edges"]
    m["geodesic.edge_yield"] = tb["valid_edges"] / max(1, tb["pairs_scored"])
    m["geodesic.clusters_out"] = rows.get("geodesic", 0)
    m["geodesic.task_s"] = grp("geodesic", "task_s")
    m["geodesic.max_task_s"] = grp("geodesic", "max_task_s")
    m["geodesic.wall_s"] = wall.get("geodesic", 0.0)
    m["geostream.state_rows"] = state(0, "numRowsTotal")
    m["geostream.state_mem_bytes"] = state(0, "memoryUsedBytes")
    m["geostream.state_commit_ms"] = state(0, "commitTimeMs", sum)
    m["geostream.rows_dropped_by_watermark"] = state(0, "numRowsDroppedByWatermark", sum)
    m["geostream.clusters_out"] = st["sink_clusters"]
    out = tb["output"]
    m["format.rows_out"] = len(out["detector_dag_mqtt"]) + len(out["detector_dag_ascii"])
    m["format.task_s"] = grp("format", "task_s")
    m["format.wall_s"] = wall.get("format", 0.0)
    m["scancache.builds"] = tb["scancache"]["builds"]
    m["scancache.build_s"] = tb["scancache"]["build_s"]
    m["scancache.reuse_s"] = tb["scancache"]["reuse_s"]
    m["driver.plan_s"] = tb["driver"]["plan_s"]
    m["driver.eager_jobs"] = tb["driver"]["eager_jobs"]
    m["jvm.gc_s"] = tb["driver"]["gc_s"]
    m["microbatch.batches"] = len(prog)
    m["microbatch.empty_batches"] = len(prog) - len(data_batches)
    m["microbatch.trigger_ms_p50"] = p50(dur("triggerExecution"))
    m["microbatch.planning_ms_p50"] = p50(dur("queryPlanning"))
    m["microbatch.latest_offset_ms_p50"] = p50(dur("latestOffset"))
    m["microbatch.wal_commit_ms_p50"] = p50(dur("walCommit"))
    m["microbatch.commit_offsets_ms_p50"] = p50(dur("commitOffsets"))
    m["source.lag_s_p50"] = st["source_lag"]["p50_s"]
    m["source.lag_s_max"] = st["source_lag"]["max_s"]
    m["sink.add_batch_ms_p50"] = p50([p["durationMs"]["addBatch"] for p in data_batches
                                      if "addBatch" in p["durationMs"]])
    m["sink.bytes_written"] = st["sink_bytes"]
    m["sink.files_written"] = st["sink_files"]
    m["trace.overhead_s"] = tb["staged_wall_s"] - tb["untraced_wall_s"]
    m["scaling.c1_events_per_s"] = man["stats"]["events"] / res["c1_wall_s"]
    assert set(m) == set(PER_LAYER), set(m) ^ set(PER_LAYER)
    return {k: (float(m[k]), u) for k, u in PER_LAYER.items()}


def layer_table(res, metrics):
    """Per layer: its metrics, self time (span minus child spans) and the
    task listener's sums for its job group."""
    selfs = self_times(res["spans"])
    table = {}
    for k, (v, u) in metrics.items():
        layer = k.split(".")[0]
        table.setdefault(layer, {"metrics": {}})["metrics"][k] = v
    for name, v in selfs.items():
        table.setdefault(name, {"metrics": {}})["self_s"] = v
    for group, stats in res["trace_batch"]["groups"].items():
        table.setdefault(group, {"metrics": {}})["tasks"] = stats  # listener sums
    return table


if __name__ == "__main__":
    main(sys.argv[1:])

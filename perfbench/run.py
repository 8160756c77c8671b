#!/usr/bin/env python3
"""graft's benchmark: the meeting CDC stream and the batch query suite.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: cdc_stream_paced, cdc_stream_backlog, batch_etl
(why each exists: NOTES.md). The script renders the workload's inputs
from the seed, builds graft plus the JVM driver under src/ with sbt if
the sources changed, runs the driver, checks every output against a
reference answer, and prints one JSON line as its last line of output:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. It exits non-zero if any output is wrong or any operation
failed. Everything it writes goes under .bench_build/ in the checkout.
"""
import argparse
import bisect
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

T0_MS = time.time() * 1000.0  # the run's deadline counts from here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_canal  # noqa: E402
import gen_tables  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads as W  # noqa: E402

WORKLOADS = ("cdc_stream_paced", "cdc_stream_backlog", "batch_etl")
DEADLINE_S = 175
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


def cpu_ticks():
    """(steal, total) CPU ticks of this machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


STEAL0 = cpu_ticks()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            for n in sorted(names):
                yield os.path.join(d, n)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile graft and the driver with sbt when any source changed.
    Returns the classes directory and the seconds spent compiling."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft's sources (src/main/scala/graft) are not in this checkout")
    if not os.path.isdir(SPARK_JARS):
        die(f"Spark jars not found at {SPARK_JARS}")
    h = hashlib.sha256()
    for p in sorted(_sources()):
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes, 0.0
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the driver (sbt compile)")
    t = time.time()
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        die("build failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes, time.time() - t


def run_jvm(classes, work, workload, seconds, cores, trace, queries=()):
    """Run the driver once (untraced or traced) and return its record."""
    name = "traced" if trace else "plain"
    out, jvm_log = f"{work}/record-{name}.json", f"{work}/jvm-{name}.log"
    # a fixed set of JIT compiler threads, so the driver can read their
    # CPU time (spark.jit_s)
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", "-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Main",
            "--workload", workload, "--work", work, "--out", out, "--seconds", str(seconds),
            "--cores", str(cores), "--trace", "1" if trace else "0"]
    if queries:
        cmd += ["--queries", ",".join(queries)]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    budget = DEADLINE_S - (time.time() * 1000.0 - T0_MS) / 1000.0
    with open(jvm_log, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(budget, 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{workload} did not finish in time; see {jvm_log}")
    if p.returncode != 0 or not os.path.exists(out):
        with open(jvm_log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"the driver exited with code {p.returncode}")
    with open(out) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- inputs

def write_dim(work, seed):
    with open(f"{work}/dim.tsv", "w") as fh:
        fh.write(gen_canal.tsv(gen_canal.dimension(seed)))


def render_paced(d, seed, seconds):
    n = W.PACED_WARM_FILES + math.ceil((W.PACED_WARM_S + seconds) * 1000 / W.PACED_INTERVAL_MS)
    files, feed = gen_canal.paced_files(seed, n, W.PACED_PER_FILE, W.PACED_LIVE, W.PACED_WARM_FILES)
    gen_canal.write_files(files, f"{d}/staging")
    with open(f"{d}/manifest.json", "w") as fh:
        json.dump({"files": n, "warm_files": W.PACED_WARM_FILES,
                   "interval_ms": W.PACED_INTERVAL_MS, "warm_ms": W.PACED_WARM_S * 1000,
                   "warm_lines": sum(len(f) for f in files[:W.PACED_WARM_FILES]),
                   "total_lines": sum(len(f) for f in files)}, fh)
    return files, feed.changes


def render_backlog(d, seed, n_changes):
    files, feed = gen_canal.backlog_files(seed, n_changes, W.BACKLOG_PER_FILE)
    gen_canal.write_files(files, f"{d}/backlog", mtime0=1_700_000_000)
    warm, _ = gen_canal.backlog_files(seed + 1_000_003, W.BACKLOG_WARM_CHANGES, W.BACKLOG_PER_FILE)
    gen_canal.write_files(warm, f"{d}/warm", mtime0=1_700_000_000)
    with open(f"{d}/manifest.json", "w") as fh:
        json.dump({"max_files_per_trigger": W.BACKLOG_FILES_PER_TRIGGER}, fh)
    return files, feed.changes


# ---------------------------------------------------------------- checks

def table_mismatches(tsv_path, expected):
    """Rows of the final sink table that differ from the replay, by key."""
    got = {}
    with open(tsv_path) as fh:
        for line in fh:
            cells = tuple(None if c == "\\N" else c for c in line.rstrip("\n").split("\t"))
            got[cells[0]] = cells
    want = {r[0]: r for r in expected}
    return sum(1 for k in got.keys() | want.keys() if got.get(k) != want.get(k))


# ---------------------------------------------------------------- metrics

def stream_half(h, files, changes_total, paced):
    """End-to-end figures and per-layer inputs from one stream half."""
    commits = {c["batch"]: c for c in h["commits"]}
    progress = [p for p in h["progress"] if p["batch"] in commits]
    batches = [(p["rows"], commits[p["batch"]]["commit"]) for p in progress]
    line_file = [i for i, f in enumerate(files) for _ in f]
    line_changes = [c for f in files for _, c in f]
    commit_of = stats.attribute(len(line_file), batches)
    # due time per file; files due before the warm-up ended have none and
    # are not measured
    due = [None] * len(files)
    for mv in h.get("moves", []):
        if mv["due"] >= h["ready"]:
            due[mv["file"]] = mv["due"]
    if paced:
        origin = [due[f] for f in line_file]
    else:
        # the backlog is all due at start; a change's latency is its own
        # micro-batch's, from the trigger's start to the commit
        due = [h["t0"]] * len(files)
        origin = stats.attribute(len(line_file), [(p["rows"], p["start"]) for p in progress])
    first = min(i for i, d in enumerate(due) if d is not None)
    lat, missing, measured = [], 0, 0
    for i, (f, n) in enumerate(zip(line_file, line_changes)):
        if n == 0:
            continue
        if commit_of[i] is None:
            missing += n
        if f < first:
            continue
        measured += n
        if commit_of[i] is not None:
            lat.extend([commit_of[i] - origin[i]] * n)
    committed = [commit_of[i] for i in range(len(commit_of)) if commit_of[i] is not None]
    if paced:
        window = (max(committed) - due[first]) / 1000.0 if committed else 0.0
        ops = len(lat) / window if window > 0 else 0.0
        cpu = h["cpu_ms"] / measured if measured else 0.0
    else:
        window = (max(committed) - progress[0]["start"]) / 1000.0 if committed else 0.0
        ops = changes_total / window if window > 0 and not missing else 0.0
        cpu = h["cpu_ms"] / changes_total
    dash = [p["ms"] for p in h.get("dashboard", []) if p["ok"]]
    tail_p, tail_v = stats.tail(lat)
    return {
        "latency_p50_ms": stats.median(lat), "ops_per_s": ops, "cpu_ms_per_op": cpu,
        "dashboard_ms_p50": stats.median(dash),
        "latency_tail": (tail_p, tail_v, len(lat)),
        "latency_miss_share": (sum(1 for x in lat if x > W.LATENCY_LIMIT_MS) + measured - len(lat))
        / measured if measured else 1.0,
        "missing": missing, "window_s": window,
        "progress": progress, "commits": commits, "commit_of": commit_of,
        "line_file": line_file, "due": due,
    }


def stream_layers(h, s, cores, spans):
    """Per-layer metrics from the traced stream half `h` (figures `s`),
    over the micro-batches that started after the warm-up."""
    everything = s["progress"]
    prog = [p for p in everything if p["start"] >= h["ready"]]
    dur = lambda k: [p["duration"].get(k, 0) for p in prog]  # noqa: E731
    m = {}
    m["streaming.trigger_ms_p50"] = stats.median(dur("triggerExecution"))
    m["streaming.plan_ms_p50"] = stats.median(dur("queryPlanning"))
    m["streaming.offsets_ms_p50"] = stats.median(
        [a + b for a, b in zip(dur("latestOffset"), dur("getBatch"))])
    m["streaming.commit_ms_p50"] = stats.median(
        [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))])
    m["streaming.add_batch_ms_p50"] = stats.median(dur("addBatch"))
    m["streaming.batches"] = len(prog)
    m["streaming.rows_per_batch_p50"] = stats.median([p["rows"] for p in prog])
    m["streaming.latency_tail_ms"] = s["latency_tail"][1]
    if h.get("moves"):  # the 2 s limit is the paced dashboard's
        m["streaming.latency_miss_share"] = s["latency_miss_share"]
    # source: how long a landed file waited for the trigger that read it,
    # and how many landed files were waiting when a trigger started
    first_line = {}
    for i, f in enumerate(s["line_file"]):
        first_line.setdefault(f, i)
    offsets, at = [], 0  # first input line of each micro-batch
    for p in everything:
        offsets.append(at)
        at += p["rows"]
    lags, waiting = [], []
    for f, i in first_line.items():
        k = bisect.bisect_right(offsets, i) - 1
        if k >= 0 and s["due"][f] is not None and everything[k]["start"] >= h["ready"]:
            lags.append(everything[k]["start"] - s["due"][f])
    for at, p in zip(offsets, everything):
        if p["start"] >= h["ready"]:
            landed = sum(1 for d in s["due"] if d is None or d <= p["start"])
            waiting.append(landed - (s["line_file"][at - 1] + 1 if at else 0))
    m["sources.lag_ms_tail"] = stats.tail(lags)[1]
    m["sources.backlog_files_max"] = max(waiting) if waiting else 0
    commits = [c for c in s["commits"].values() if c["commit"] >= h["ready"]]
    rows_in = sum(c.get("rows_in", 0) for c in commits)
    rows_out = sum(c.get("rows_out", 0) for c in commits)
    deletes = sum(c.get("deletes", 0) for c in commits)
    envelopes = sum(p["rows"] for p in prog)
    m["codec.envelopes_in"] = envelopes
    m["codec.events_out"] = rows_in
    m["codec.kept_share"] = rows_in / envelopes if envelopes else 0.0
    m["codec.decode_s"] = h.get("decode_s", 0.0)
    m["changelog.rows_in"] = rows_in
    m["changelog.rows_out"] = rows_out
    m["changelog.kept_share"] = rows_out / rows_in if rows_in else 0.0
    jdbc_spans = [x for x in spans if x["name"] in ("jdbc.executeBatch", "jdbc.commit")]
    m["sinks.jdbc_ms"] = sum(x["end"] - x["start"] for x in jdbc_spans)
    m["sinks.statements"] = h["jdbc"]["execute_batches"]
    m["sinks.connections"] = h["jdbc"]["connections"]
    m["sinks.rows_upserted"] = rows_out - deletes
    m["sinks.rows_deleted"] = deletes
    m["sinks.write_ms_p50"] = stats.median(
        [x["end"] - x["start"] for x in spans if x["name"] == "sinks.write"])
    m["sinks.txn_rows_p50"] = stats.median(h["jdbc"]["txn_rows"])
    late = [mv["moved"] - mv["due"] for mv in h.get("moves", []) if mv["due"] >= h["ready"]]
    m["loadgen.late_ms_tail"] = stats.tail(late)[1]
    m.update(spark_layers(h["spark"], s["window_s"], cores))
    return m


def spark_layers(c, wall_s, cores):
    return {"spark.jobs": c["jobs"], "spark.stages": c["stages"], "spark.tasks": c["tasks"],
            "spark.exec_s": c["exec_s"], "spark.task_cpu_s": c["task_cpu_s"],
            "spark.cpu_busy_share": c["task_cpu_s"] / (wall_s * cores) if wall_s > 0 else 0.0,
            "spark.shuffle_mb": c["shuffle_mb"], "spark.spill_mb": c["spill_mb"],
            "spark.gc_s": c["gc_s"], "plans.plan_ms": c["plan_ms"]}


def batch_half(h, ok_exec):
    """End-to-end figures from one batch half; `ok_exec(q)` says whether
    an execution threw nothing and wrote the right answer."""
    lat = [q["build_ms"] + q["write_ms"] for p in h["passes"] for q in p["queries"] if ok_exec(q)]
    return {"latency_p50_ms": stats.median(lat),
            "ops_per_s": len(lat) / (sum(lat) / 1000.0) if lat else 0.0,
            "cpu_ms_per_op": h["cpu_ms"] / len(lat) if lat else 0.0,
            "dashboard_ms_p50": 0.0, "latency_tail": stats.tail(lat) + (len(lat),)}


def batch_layers(h, cores):
    per = []
    for p in h["passes"]:
        qs = [q for q in p["queries"] if q["ok"]]
        b = [q["counts"][0] for q in qs]
        w = [q["counts"][1] for q in qs]
        tot = {k: sum(x[k] for x in b + w) for k in b[0]} if b else {}
        wall = (p["end"] - p["start"]) / 1000.0
        row = spark_layers(tot, wall, cores) if tot else {}
        row["operators.build_s"] = sum(q["build_ms"] for q in qs) / 1000.0
        row["operators.build_jobs"] = sum(x["jobs"] for x in b)
        row["operators.pass_s"] = sum(q["build_ms"] + q["write_ms"] for q in qs) / 1000.0
        per.append(row)
    keys = per[0].keys() if per else []
    return {k: stats.median([r[k] for r in per]) for k in keys}


def self_times(spans):
    """Self time per span name: duration minus the union of its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out.setdefault(s["name"], 0.0)
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return out


# ---------------------------------------------------------------- main

END_TO_END = {"setup_s": "s", "cpu_ms_per_op": "ms", "mem_after_gc_peak_mb": "MB"}
PER_LAYER = [
    "e2e.latency_p50_ms", "e2e.ops_per_s",
    "operators.build_s", "operators.build_jobs", "operators.pass_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.exec_s", "spark.task_cpu_s",
    "spark.cpu_busy_share", "spark.shuffle_mb", "spark.spill_mb", "spark.gc_s", "spark.jit_s",
    "spark.c1_events_per_s", "plans.plan_ms",
    "streaming.trigger_ms_p50", "streaming.plan_ms_p50",
    "streaming.offsets_ms_p50", "streaming.commit_ms_p50", "streaming.add_batch_ms_p50",
    "streaming.batches", "streaming.rows_per_batch_p50", "streaming.latency_tail_ms",
    "streaming.latency_miss_share", "sources.lag_ms_tail", "sources.backlog_files_max",
    "codec.envelopes_in", "codec.events_out", "codec.kept_share", "codec.decode_s",
    "changelog.rows_in", "changelog.rows_out", "changelog.kept_share",
    "sinks.jdbc_ms", "sinks.statements", "sinks.connections", "sinks.rows_upserted",
    "sinks.rows_deleted", "sinks.write_ms_p50", "sinks.txn_rows_p50", "sinks.dashboard_ms_p50",
    "loadgen.late_ms_tail", "trace.overhead_setup_s", "trace.overhead_cpu_ms_per_op",
    "trace.overhead_mem_after_gc_peak_mb", "trace.overhead_latency_p50_ms",
    "trace.overhead_ops_per_s",
]
def unit_of(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share"):
        return "share"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cores = os.cpu_count() or 4
    global T0_MS
    classes, build_s = build()
    T0_MS += build_s * 1000.0  # the build has a time limit of its own
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    halves = ["plain", "traced"] if a.trace else ["plain"]
    # a traced run starts an untraced and a traced process, each half as long
    seconds = a.seconds / len(halves)
    paced = a.workload == "cdc_stream_paced"
    stream = a.workload.startswith("cdc_stream")
    queries = ()
    if stream:
        write_dim(work, a.seed)
        dim = gen_canal.dimension(a.seed)
        d = f"{work}/plain/stream"
        os.makedirs(d)
        if paced:
            files, changes = render_paced(d, a.seed, seconds)
        else:
            files, changes = render_backlog(d, a.seed, W.BACKLOG_CHANGES // len(halves))
        if a.trace:
            shutil.copytree(d, f"{work}/traced/stream")  # copy2 keeps the mtimes
    else:
        queries = W.ETL_QUERIES
        gen_tables.write(f"{work}/tables", a.seed, W.ETL_SF)
    recs = [run_jvm(classes, work, a.workload, seconds, cores, half == "traced", queries)
            for half in halves]
    spans = recs[-1]["spans"]
    if stream and a.trace:
        # one span per micro-batch, from its progress event; the writer's
        # spans already name it as their parent
        h = recs[1]["half"]
        spans += [{"id": f"trigger-{p['batch']}", "parent": "", "name": "trigger",
                   "start": p["start"], "end": p["start"] + p["duration"].get("triggerExecution", 0),
                   "attrs": {"batch": p["batch"], "rows": p["rows"]}}
                  for p in h["progress"] if p["start"] >= h["ready"]]
    results, attempted, failed, problems = [], 0, 0, []

    if stream:
        expected = gen_canal.replay(changes, dim)
        for half, h in zip(halves, [r["half"] for r in recs]):
            s = stream_half(h, files, len(changes), paced)
            bad = table_mismatches(f"{work}/{half}/result.tsv", expected)
            attempted += len(changes)
            failed += s["missing"] + bad
            if h["error"]:
                problems.append(f"{half}: stream failed: {h['error']}")
            if s["missing"] or bad:
                problems.append(f"{half}: {s['missing']} changes never committed, "
                                f"{bad} rows differ from the replay")
            results.append(s)
    else:
        want = oracle.duckdb_digests(f"{work}/tables", recs[0]["half"]["oracle_sql"])
        verdict = {}

        def ok_exec(q):
            key = q["out"]
            if key not in verdict:
                good = q["ok"]
                if not good:
                    problems.append(f"{q['query']} threw: {q.get('error')}")
                else:
                    try:
                        got = oracle.parquet_digest(q["out"])
                    except OSError as e:
                        got = f"unreadable ({e})"
                    good = want.get(q["query"]) is not None and got == want[q["query"]]
                    if not good:
                        problems.append(f"{q['query']}: output digest {got} != "
                                        f"reference {want.get(q['query'])}")
                verdict[key] = good
            return verdict[key]

        for h in [r["half"] for r in recs]:
            for q in [q for p in h["warmup"] + h["passes"] for q in p["queries"]]:
                attempted += 1
                failed += 0 if ok_exec(q) else 1
            results.append(batch_half(h, ok_exec))

    plain = results[0]
    samples = {"latency_p50_ms": plain["latency_tail"][2],
               "dashboard_ms_p50": len(recs[0]["half"].get("dashboard", []))}
    # set-up runs from the driver's JVM start: rendering the inputs is the
    # benchmark's own work, not the program's
    setup = [(r["half"]["ready"] - r["jvm_start"]) / 1000.0 for r in recs]
    values = [{"setup_s": setup[i], "cpu_ms_per_op": results[i]["cpu_ms_per_op"],
               "mem_after_gc_peak_mb": recs[i]["mem_after_gc_peak_mb"],
               "latency_p50_ms": results[i]["latency_p50_ms"], "ops_per_s": results[i]["ops_per_s"]}
              for i in range(len(recs))]
    if not a.trace:
        metrics = {k: {"value": values[0][k], "unit": u} for k, u in END_TO_END.items()}
    else:
        h, s = recs[1]["half"], results[1]
        layers = dict.fromkeys(PER_LAYER, 0.0)
        if stream:
            layers.update(stream_layers(h, s, cores, spans))
        else:
            layers.update(batch_layers(h, cores))
        layers["sinks.dashboard_ms_p50"] = s["dashboard_ms_p50"]
        layers["spark.jit_s"] = h["jit_ms"] / 1000.0
        # wall-clock figures from the untraced process of the pair
        layers["e2e.latency_p50_ms"] = plain["latency_p50_ms"]
        layers["e2e.ops_per_s"] = plain["ops_per_s"]
        # two processes on the same inputs, each with its own set-up and warm-up
        for k, v in values[1].items():
            layers[f"trace.overhead_{k}"] = v - values[0][k]
        if a.workload == "cdc_stream_backlog":
            layers["spark.c1_events_per_s"], c1_n, c1_bad = single_core(classes, work, a, files,
                                                                         changes, dim)
            attempted += c1_n
            failed += c1_bad
            if c1_bad:
                problems.append(f"local[1]: {c1_bad} changes missing or wrong")
        metrics = {k: {"value": layers[k], "unit": unit_of(k)} for k in PER_LAYER}

    steal1 = cpu_ticks()
    artifact = os.path.join(base, f"trace-{a.workload}-seed{a.seed}-t{a.trace}.json")
    with open(artifact, "w") as fh:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                   "metrics": metrics, "samples": samples, "problems": problems,
                   "setup_s": setup,
                   "session_ready_s": [(r["session_ready"] - r["jvm_start"]) / 1000.0 for r in recs],
                   "rss_peak_mb": [r["rss_peak_mb"] for r in recs],
                   "mem_after_gc_peak_mb": [r["mem_after_gc_peak_mb"] for r in recs],
                   # CPU time the hypervisor gave to other guests during the run:
                   # when it is high, every timing of the run is inflated
                   "host_steal_share": (steal1[0] - STEAL0[0]) / max(1, steal1[1] - STEAL0[1]),
                   "failed_share": failed / attempted if attempted else 1.0,
                   "latency_tail": [r["latency_tail"] for r in results],
                   "dashboard_ms_p50": [r["dashboard_ms_p50"] for r in results],
                   "self_ms": self_times(spans), "spans": spans,
                   "queries": [{k: q.get(k) for k in ("query", "ok", "build_ms", "write_ms", "counts")}
                               for r in recs for p in r["half"].get("passes", [])
                               for q in p["queries"]]}, fh)
    for p in problems[:20]:
        log(p)
    log(f"artifact: {artifact} (host steal {(steal1[0] - STEAL0[0]) / max(1, steal1[1] - STEAL0[1]):.1%})")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


def single_core(classes, work, a, files, changes, dim):
    """One full micro-batch of the backlog at local[1]: the single-thread baseline."""
    k = min(len(files), W.BACKLOG_FILES_PER_TRIGGER)
    c1 = f"{work}/c1"
    d = f"{c1}/plain/stream"
    os.makedirs(d)
    gen_canal.write_files(files[:k], f"{d}/backlog", mtime0=1_700_000_000)
    shutil.copytree(f"{work}/plain/stream/warm", f"{d}/warm")
    with open(f"{d}/manifest.json", "w") as fh:
        json.dump({"max_files_per_trigger": W.BACKLOG_FILES_PER_TRIGGER}, fh)
    shutil.copy(f"{work}/dim.tsv", f"{c1}/dim.tsv")
    n = sum(c for f in files[:k] for _, c in f)
    rec = run_jvm(classes, c1, "cdc_stream_backlog", a.seconds, 1, False)
    s = stream_half(rec["half"], files[:k], n, False)
    bad = table_mismatches(f"{c1}/plain/result.tsv", gen_canal.replay(changes[:n], dim))
    return s["ops_per_s"], n, s["missing"] + bad


if __name__ == "__main__":
    main()

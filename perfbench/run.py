#!/usr/bin/env python3
"""Benchmark of the audit-session pipeline, end to end and by layer.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

The first run builds the program and the benchmark's JVM side from source
with sbt (the build in this directory depends on the repository's build);
later runs reuse the build while no source file changed. Each run generates
its input from ``--seed`` (``gen.py``), runs the jobs (``perfbench.Main``)
in one JVM, publishes the stream on a fixed schedule
for ``stream_steady``, checks every output against the reference
sessionizer (``reference.py``), and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``attempted`` counts the
expected sessions of every checked output and ``failed`` those missing,
wrong or duplicated, so ``failed / attempted`` is the failed share. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. Workloads, metrics and which layer metric should move which
end-to-end metric are documented in ``BENCHMARK.json``.

Everything the run writes stays under ``perfbench/work`` and
``perfbench/target`` (plus the repository's ``target`` for its build); the
work directory is removed when the run ends, after a traced run's spans
are copied to ``perfbench/target/spans-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import reference  # noqa: E402

DAY_MS = gen.DAY_MS
RUN_LIMIT_S = 170  # the JVM is killed past this, leaving time to report

# Generator and pipeline parameters per workload. "main" is the measured
# input; "warm" is the small input of the untimed warm-up pass.
BACKFILL = dict(users=20000, zipf=1.1, events_per_session=6, gap_ms=600_000,
                deny_share=0.3, ooo_share=0.05, max_delay_ms=6 * 3_600_000,
                malformed_share=0.01, file_ms=6 * 3_600_000)
PRUNED = dict(users=5000, zipf=1.1, events_per_session=6, gap_ms=600_000,
              deny_share=0.3, ooo_share=0.05, max_delay_ms=3_600_000,
              malformed_share=0.01, file_ms=3_600_000)
# event time runs 60x faster than wall time: one file per second holds a
# minute of events, so sessions (gap 60 s) close within a few seconds
STREAM = dict(users=100_000, zipf=0.8, events_per_session=4, gap_ms=60_000,
              deny_share=0.3, ooo_share=0.05, max_delay_ms=90_000,
              malformed_share=0.01, file_ms=60_000)
STREAM_WATERMARK_MS = 120_000
STREAM_EVENTS_PER_FILE = 2400
LIVE_WARMUP_FILES = 4  # files of the untimed live query before the measured one

WORKLOADS = {
    "backfill": dict(
        main=dict(BACKFILL, span_ms=30 * DAY_MS, sessions=10_000),
        warm=dict(BACKFILL, span_ms=DAY_MS, sessions=500),
        gap_s=600, watermark_ms=2 * DAY_MS, keep_days=None),
    "batch_pruned": dict(
        main=dict(PRUNED, span_ms=365 * DAY_MS, sessions=17_500),
        warm=dict(PRUNED, span_ms=10 * DAY_MS, sessions=500),
        gap_s=600, watermark_ms=2 * DAY_MS, keep_days=30),
    "stream_steady": dict(
        main=dict(STREAM, sessions=None), warm=dict(STREAM, sessions=None),
        gap_s=60, watermark_ms=STREAM_WATERMARK_MS, keep_days=None),
}


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# --------------------------------------------------------------------- build

def source_stamp(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile the program and the JVM side (as jars), and record a
    class-data-sharing archive from a short training run, which cuts the
    JVM's class loading at every run's start; return the classpath. Every
    run requires the archive (``-Xshare:on``), so all runs start the same
    way: a failed training run fails the build."""
    out = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(out, "bench.classpath"), os.path.join(out, "bench.stamp")
    stamp = source_stamp(root)
    if all(os.path.exists(f) for f in (cp_file, stamp_file, ARCHIVE)):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the JVM side with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840, stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(l for l in lines[-40:] if len(l) < 2000) + "\n")
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    train_archive(classpath)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


ARCHIVE = os.path.join(HERE, "target", "bench.jsa")


def train_archive(classpath):
    """Run the backfill job once on a tiny tree with
    ``-XX:ArchiveClassesAtExit``."""
    work = os.path.join(HERE, "work")
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    for d in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(work, d))
    try:
        tree = gen.generate(0, gen.Params(**dict(BACKFILL, span_ms=DAY_MS, sessions=200)))
        gen.write_tree(os.path.join(work, "tree"), tree)
        job = dict(tree=os.path.join(work, "tree"), min_date=None, gap_s=600, watermark="2 days")
        spec = dict(workload="backfill", seconds=0, trace=False, cores=1, work=work, setups=1,
                    min_reps=1, live_timeout_s=60, main=job, warm=job)
        with open(os.path.join(work, "spec.json"), "w") as f:
            json.dump(spec, f)
        cmd = jvm_command(classpath, work, os.path.join(work, "spec.json"), archive=False)
        cmd.insert(1, "-XX:ArchiveClassesAtExit=" + ARCHIVE)
        log("recording the class-data-sharing archive")
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                              stdin=subprocess.DEVNULL, timeout=300)
        if proc.returncode != 0 or not os.path.exists(ARCHIVE):
            sys.stderr.write("\n".join(proc.stdout.splitlines()[-40:]) + "\n")
            raise SystemExit("build failed: recording the class-data-sharing archive")
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------- generation

def make_tree(seed, params, stream_files=None):
    p = dict(params)
    if stream_files is not None:
        p["span_ms"] = stream_files * p["file_ms"]
        p["sessions"] = stream_files * STREAM_EVENTS_PER_FILE // p["events_per_session"]
    return gen.generate(seed, gen.Params(**p))


def flush_path(tree):
    """Where the flush record goes: the day directory of the last file."""
    return tree.files[-1][0].split("/")[0] + "/zz-flush.log"


def keep_mask(tree, keep_days):
    """Which files a min date keeps, and the min date itself."""
    if keep_days is None:
        return None, None
    days = sorted({f.split("/")[0] for f, _ in tree.files})
    min_date = days[-keep_days]
    return np.array([f.split("/")[0] >= min_date for f, _ in tree.files]), min_date


# ------------------------------------------------------------------- running

def jvm_command(classpath, work, spec_path, archive=True):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:ReservedCodeCacheSize=512m"]
    if archive:
        cmd += ["-Xshare:on", "-XX:SharedArchiveFile=" + ARCHIVE]
    for o in opens:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", classpath, "perfbench.Main", spec_path]
    return cmd


def publish_stream(work, k, tree, flush, final_watermark, deadline):
    """Open-loop publisher: one file per second, at fixed wall-clock times
    (half a second past each second, away from the trigger's whole-second
    ticks), whatever the query is doing. Returns the publication log."""
    with open(os.path.join(work, "ready-%d" % k)) as f:
        root = f.read().strip()
    files = list(tree.files) + [flush[:2]]
    first_due = math.ceil(time.time()) + 0.5
    published = []
    for i, (relpath, data) in enumerate(files):
        due = first_due + i
        while True:
            left = due - time.time()
            if left <= 0:
                break
            if time.time() > deadline:
                raise RuntimeError("publisher ran out of time")
            time.sleep(min(left, 0.05))
        gen.publish(root, relpath, data)
        published.append(dict(due=due, at=time.time(),
                              lines=data.count(b"\n")))
    gen.publish(work, "done-%d" % k, str(final_watermark).encode())
    return dict(tree=root, files=published)


def publications(seed, w, tree, flush):
    """What the publisher sends to each live query, in order: a short
    stream to the first one (untimed; it warms the live query's code), then
    the measured stream to every later one. Each entry is (tree, flush
    record, the watermark the flush record produces)."""
    warm = make_tree(seed + 2_000_003, w["main"], stream_files=LIVE_WARMUP_FILES)
    warm_flush = gen.flush_file(warm, flush_path(warm))
    return [(t, f, f[2] - w["watermark_ms"]) for t, f in ((warm, warm_flush), (tree, flush))]


def run_jvm(cmd, work, t_start, pubs):
    """Run the JVM side; for the stream workload, publish whenever it asks."""
    logf = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    deadline = t_start + RUN_LIMIT_S
    streams, error = [], None
    try:
        while proc.poll() is None:
            if time.time() > deadline:
                error = "timed out"
                break
            nxt = [n for n in os.listdir(work) if n.startswith("ready-")
                   and not os.path.exists(os.path.join(work, "done-" + n[6:]))]
            if pubs is not None and nxt:
                k = int(nxt[0][6:])
                tree, flush, final_watermark = pubs[min(len(streams), len(pubs) - 1)]
                streams.append(publish_stream(work, k, tree, flush, final_watermark, deadline))
                continue
            time.sleep(0.02)
    except Exception as e:  # publisher failure: the run fails as a whole
        error = "publisher: %s" % e
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        logf.close()
    if error is None and proc.returncode != 0:
        error = "JVM exited with %d" % proc.returncode
    if error:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return error, streams


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def iso_ms(ts):
    return int(np.datetime64(ts.rstrip("Z"), "ms").astype(np.int64))


def commit_ms(progress):
    """Wall time each micro-batch committed, by batch id."""
    return {p["batchId"]: iso_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0)
            for p in progress}


def state_ops(progress):
    return [op for p in progress for op in p.get("stateOperators", [])]


def stream_layer_metrics(passes, streams):
    """AuditSessionPipeline.* and sources.* streaming roll-ups, from the
    progress of the streaming passes (live for stream_steady, AvailableNow
    otherwise)."""
    prog = [p for x in passes for p in x["progress"]]
    dur = lambda key: [p["durationMs"].get(key, 0) for p in prog]
    ops = state_ops(prog)
    backlog = []
    for x in passes:
        processed = 0
        log_ = next((s for s in streams if s["tree"] == x["tree"]), None)
        for p in x["progress"]:
            t = iso_ms(p["timestamp"])
            if log_ is None:  # pre-written input: all of it available at start
                avail = sum(q["numInputRows"] for q in x["progress"])
            else:
                avail = sum(f["lines"] for f in log_["files"] if f["at"] * 1000 <= t)
            backlog.append(max(0, avail - processed))
            processed += p["numInputRows"]
    return {
        "AuditSessionPipeline.batches": len(prog) / max(1, len(passes)),
        "AuditSessionPipeline.trigger_p50_ms": median(dur("triggerExecution")),
        "AuditSessionPipeline.trigger_p99_ms": pct(dur("triggerExecution"), 0.99),
        "AuditSessionPipeline.add_batch_p50_ms": median(dur("addBatch")),
        "AuditSessionPipeline.planning_p50_ms": median(dur("queryPlanning")),
        "AuditSessionPipeline.wal_commit_p50_ms": median(dur("walCommit")),
        "AuditSessionPipeline.state_commit_p50_ms": median([o.get("commitTimeMs", 0) for o in ops]),
        "AuditSessionPipeline.state_rows_max": max([o.get("numRowsTotal", 0) for o in ops] or [0]),
        "AuditSessionPipeline.state_memory_bytes_max": max([o.get("memoryUsedBytes", 0) for o in ops] or [0]),
        "AuditSessionPipeline.rows_dropped_late": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        "sources.latest_offset_p50_ms": median(dur("latestOffset")),
        "sources.backlog_rows_p99": pct(backlog, 0.99),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        raise SystemExit("run from the root of a repository checkout (build.sbt, src/main/scala)")
    classpath = build(root)
    t_start = time.time()

    w = WORKLOADS[args.workload]
    work = os.path.join(HERE, "work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(work, d))
    try:
        report = run(args, w, work, classpath, t_start)
        if args.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(HERE, "target", "spans-%s.jsonl" % args.workload))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))


def run(args, w, work, classpath, t_start):
    t_gen = time.time()
    live = args.workload == "stream_steady"
    n_files = int(round(args.seconds))
    if live:
        tree = make_tree(args.seed, w["main"], stream_files=n_files)
        warm = make_tree(args.seed + 1_000_003, w["warm"], stream_files=3)
    else:
        tree = make_tree(args.seed, w["main"])
        warm = make_tree(args.seed + 1_000_003, w["warm"])
    keep, min_date = keep_mask(tree, w["keep_days"])
    _, warm_min = keep_mask(warm, w["keep_days"] and 3)
    main_dir, warm_dir = os.path.join(work, "main"), os.path.join(work, "warm")
    flush = gen.flush_file(tree, flush_path(tree))
    gen.write_tree(warm_dir, warm)
    if live:
        gen.publish(warm_dir, *gen.flush_file(warm, flush_path(warm))[:2])
    else:
        gen.write_tree(main_dir, tree)
    log("generated %d events in %d files (+%d malformed lines) in %.1f s" % (
        tree.evt_ms.size, len(tree.files), len(tree.malformed), time.time() - t_gen))

    wm_str = "%d seconds" % (w["watermark_ms"] // 1000)
    spec = dict(
        workload=args.workload, seconds=args.seconds, trace=bool(args.trace),
        cores=len(os.sched_getaffinity(0)), work=work,
        setups=1 if args.trace else 3, min_reps=3, live_timeout_s=60,
        main=dict(tree=main_dir, min_date=min_date, gap_s=w["gap_s"], watermark=wm_str),
        warm=dict(tree=warm_dir, min_date=warm_min, gap_s=w["gap_s"], watermark=wm_str))
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    t_jvm = time.time()
    error, streams = run_jvm(jvm_command(classpath, work, spec_path), work, t_start,
                             publications(args.seed, w, tree, flush) if live else None)
    log("JVM ran %.1f s" % (time.time() - t_jvm))
    result = None
    if error is None:
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
    return evaluate(args, w, tree, keep, flush, result, streams, error)


SHAPE = {"backfill": "backfill", "batch_pruned": "batch", "stream_steady": "live"}


# A live query counts from the publication of this file on: its first
# micro-batches plan the query and start the state store.
LIVE_WARM_FILES = 2


def live_since_ms(p, streams):
    """Start of the counted part of a live query."""
    files = next(s for s in streams if s["tree"] == p["tree"])["files"]
    return files[LIVE_WARM_FILES]["at"] * 1000


def job_s(p, streams):
    """The job time of one pass: start to committed output for backfill and
    batch jobs; for a live query, whose wall time the publisher's schedule
    sets, the median trigger time of its micro-batches that read data in
    its counted part."""
    if p["shape"] == "live":
        since = live_since_ms(p, streams)
        return median([q["durationMs"].get("triggerExecution", 0) for q in p["progress"]
                       if q["numInputRows"] > 0 and iso_ms(q["timestamp"]) >= since]) / 1000.0
    return (p["end_ms"] - p["start_ms"]) / 1000.0


def counted(p, result, seconds):
    """Jobs count when they start in the second half of the window; the
    first half warms the JIT. A live query spans the window and counts."""
    return p["shape"] == "live" or p["start_ms"] >= result["window_start_ms"] + seconds * 500


def evaluate(args, w, tree, keep, flush, result, streams, error):
    gap_ms = w["gap_s"] * 1000
    live = args.workload == "stream_steady"
    want = {
        "batch": reference.expected(tree, gap_ms, keep),
        "backfill": reference.expected(
            tree, gap_ms, keep, w["watermark_ms"], flush[2] if live else None),
    }
    want["live"] = want["backfill"]
    if error:
        # every expected session of a failed run counts as failed; the
        # metrics keep their names so the result line stays well-formed
        n = max(1, len(want[SHAPE[args.workload]]))
        with open("BENCHMARK.json") as f:
            names = json.load(f)["per_layer" if args.trace else "end_to_end"]
        return dict(correct=False, attempted=n, failed=n,
                    metrics={m["name"]: {"value": 0, "unit": m["unit"]} for m in names})

    problems = []
    attempted = failed = 0
    latencies, jobs = [], []  # latencies: one list of samples per counted job
    for p in result["passes"]:
        if p["phase"] == "warmup":
            continue
        shape = p["shape"]
        rows = (reference.read_parquet_dir(p["out"]) if shape == "batch"
                else reference.read_sink(p["out"]))
        exp = want[shape]
        attempted += len(exp)
        bad = len(exp) if rows is None else reference.compare(exp, rows)
        failed += bad
        if bad:
            problems.append("%s pass %s: %d of %d sessions failed" % (
                shape, p["out"], bad, len(exp)))
        dropped = sum(o.get("numRowsDroppedByWatermark", 0) for o in state_ops(p["progress"]))
        if dropped:
            problems.append("%d rows dropped by the watermark in %s" % (dropped, p["out"]))
        if shape == "live":
            s = next(s for s in streams if s["tree"] == p["tree"])
            lines = sum(f["lines"] for f in s["files"])
            read = sum(q["numInputRows"] for q in p["progress"])
            if read != lines:
                problems.append("live stream read %d of %d lines" % (read, lines))
            backlog = stream_layer_metrics([p], streams)["sources.backlog_rows_p99"]
            if backlog > 5 * STREAM_EVENTS_PER_FILE:
                problems.append("stream backlog reached %d rows" % backlog)
                failed += len(exp) - bad
        if p["phase"] != "measure" or rows is None or not counted(p, result, args.seconds):
            continue
        if shape == "live":
            log("live triggers (rows:ms) %s" % " ".join(
                "%d:%d" % (q["numInputRows"], q["durationMs"].get("triggerExecution", 0))
                for q in p["progress"]))
        jobs.append(job_s(p, streams))
        if shape == "batch":
            lat = [p["end_ms"] - p["start_ms"]] * len(rows)
        elif shape == "backfill":
            commits = commit_ms(p["progress"])
            lat = [commits[b] - p["start_ms"] for *_, b in rows]
        else:
            lat = live_latencies(p, rows, streams, w, tree)
            if len(lat) < 1000:
                problems.append("only %d sessions closed in the counted part of the stream"
                                % len(lat))
        latencies.append(lat)

    # AuditJson drops exactly the malformed lines the generator wrote
    sel = np.ones(len(tree.files), bool) if keep is None else keep
    bad_lines = sorted(l for f, l in tree.malformed if sel[f])
    ps = result["parse_stats"]
    n_events = int(sel[tree.file_of].sum())
    if sorted(result["corrupt_lines"]) != bad_lines or ps["n_corrupt"] != len(bad_lines) \
            or ps["n_good"] != n_events + (1 if live else 0) or ps["n_missing_user"] != 0:
        problems.append("parse accounting differs from the generator: %s vs %d malformed, %d events"
                        % (ps, len(bad_lines), n_events))

    # JVM CPU time from the end of one measured job to the end of the next:
    # it falls for many jobs while the JIT is still compiling
    ms = [p for p in result["passes"] if p["phase"] == "measure"]
    log("JVM CPU s per job %s" % [round((y["cpu_ms"] - x["cpu_ms"]) / 1000, 2)
                                  for x, y in zip(ms, ms[1:])])
    log("setups %s s; jobs %s s (after %d warm-up jobs)" % (
        [round(x, 2) for x in result["setup_s"]], jobs,
        sum(p["phase"] == "measure" and not counted(p, result, args.seconds)
            for p in result["passes"])))
    for msg in problems:
        log("CHECK FAILED: " + msg)
    if args.trace:
        metrics = layer_metrics(args, result, streams)
    else:
        metrics = {
            "setup_s": (median(result["setup_s"]), "s"),
            "job_s": (median(jobs), "s"),
            # each job's own percentiles, then their median over the jobs
            "close_to_emit_p50_ms": (median([pct(l, 0.5) for l in latencies]), "ms"),
            "close_to_emit_p99_ms": (median([pct(l, 0.99) for l in latencies]), "ms"),
            "peak_rss_mb": (result["peak_rss_mb"], "MB"),
        }
    return dict(correct=not problems and failed == 0, attempted=max(1, attempted), failed=failed,
                metrics={k: {"value": v, "unit": u} for k, (v, u) in metrics.items()})


def live_latencies(p, rows, streams, w, tree):
    """close_to_emit samples of one live pass: commit time of the batch that
    emitted each session minus the publication time of the file that moved
    the watermark past the session's end. Only sessions closed by the
    counted regular files count; the final flush record's are not
    steady-state samples."""
    s = next(s for s in streams if s["tree"] == p["tree"])
    commits = commit_ms(p["progress"])
    top = np.maximum.accumulate(np.array(tree.file_max_evt, dtype=np.int64))
    wm = top - w["watermark_ms"]
    out = []
    for _, _, _, end, batch in rows:
        k = int(np.searchsorted(wm, end, side="left"))
        if LIVE_WARM_FILES <= k < len(wm):
            out.append(commits[batch] - s["files"][k]["at"] * 1000)
    return out


def layer_metrics(args, result, streams):
    lay = result["layers"]
    shape = SHAPE[args.workload]
    own = lambda phase: [p for p in result["passes"] if p["phase"] == phase and p["shape"] == shape
                         and counted(p, result, args.seconds)]
    base = median([job_s(p, streams) for p in own("measure")])
    streaming = [p for p in own("traced") if p["shape"] != "batch"]
    listed = lay["entries_listed"]
    kept = lay["files_kept"]
    lines_in = result["parse_stats"]["n_lines"]
    parse_s = max(lay["parse_s"] - lay["scan_s"], 1e-9)
    m = {
        "sources.list_ms": (lay["list_s"] * 1000, "ms"),
        "sources.files_listed": (listed, "count"),
        "sources.files_kept": (kept, "count"),
        "sources.keep_ratio": (kept / max(1, listed), "ratio"),
        "sources.scan_s": (lay["scan_s"], "s"),
        "sources.bytes_read": (lay["bytes_read"], "bytes"),
        "AuditJson.parse_s": (lay["parse_s"] - lay["scan_s"], "s"),
        "AuditJson.lines_in": (lines_in, "count"),
        "AuditJson.kept_ratio": (result["parse_stats"]["n_good"] / max(1, lines_in), "ratio"),
        "AuditJson.mb_per_s": (lay["bytes_read"] / 1e6 / parse_s, "MB/s"),
        "Sessionize.self_s": (lay["transform_s"] - lay["parse_s"], "s"),
        "Sessionize.shuffle_write_bytes": (lay["shuffle_write_bytes"], "bytes"),
        "Sessionize.spill_bytes": (lay["spill_bytes"], "bytes"),
        "Sessionize.task_skew": (lay["task_skew"], "ratio"),
        "Sessionize.sessions_out": (lay["sessions_out"], "count"),
        "AuditSessionPipeline.sink_s": (lay["full_s"] - lay["transform_s"], "s"),
        "jvm.gc_s": (result["gc_s"], "s"),
        "backfill.local1_speedup": (result["local1_backfill_s"] / result["nproc_backfill_s"], "ratio"),
        "trace.overhead_share": (median([job_s(p, streams) for p in own("traced")]) / base - 1, "ratio"),
    }
    units = {"batches": "count", "state_rows_max": "count", "state_memory_bytes_max": "bytes",
             "rows_dropped_late": "count", "backlog_rows_p99": "count"}
    for k, v in stream_layer_metrics(streaming, streams).items():
        m[k] = (v, units.get(k.split(".")[1], "ms"))
    m["AuditSessionPipeline.sink_rows"] = (sum(
        len(reference.read_sink(p["out"])) for p in streaming) / max(1, len(streaming)), "count")
    lateness = [f["at"] - f["due"] for s in streams for f in s["files"]]
    m["generator.late_ms_max"] = (max(lateness, default=0) * 1000, "ms")
    return m


if __name__ == "__main__":
    main()

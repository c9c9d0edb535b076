#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload analytics_short --seed 1 --seconds 15 --trace 0

Builds the engine plus the measurement program (perfbench/build.sbt) once per
checkout into .bench_build/, then runs the program in one JVM at local[nproc].
It writes raw records; this script turns them into metrics, checks
every output, prints a metric table and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones (its
listeners and plan walks would distort the end-to-end figures). Workload
definitions, the live rate, the latency limit and the expected outputs live
beside this file in workloads.json and expected.json.

--record merges this run's check values into expected.json instead of
checking against it: a key whose digest differs between recordings is then
checked by row count only.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(ROOT, ".bench_results")
SPEC = os.path.join(HERE, "workloads.json")
EXPECTED = os.path.join(HERE, "expected.json")
JVM_TIMEOUT_S = 170

# the module opens Spark needs on JDK 17 outside spark-submit (as ../build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"[perfbench] ERROR: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Digest of every file the build reads; also names the code measured."""
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def build(stamp):
    """Compile once per source state; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "ptx")):
        die("engine sources (src/main/scala/ptx) not found next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    print("[perfbench] building (first run in this checkout)", file=sys.stderr)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if l.count(os.pathsep) > 10 and ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (rc={rc}), see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    return cps[-1].strip()


def heap():
    """JVM heap from host memory: half of MemTotal, 2g..8g, unless set."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpus():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)


def batch_runs(wl, seconds):
    """Timed runs per key: as many passes over the keys as fit in --seconds
    at the workload's nominal pass time (never fewer than one). The count
    depends on --seconds only, so both commits of a comparison do the same
    work."""
    return max(1, round(seconds / wl["pass_s"]))


def stream_files(wl, seconds):
    """Files staged, each of the workload's fixed rows_per_file: one untimed
    warm-up file for the live phase plus as many as the live schedule moves
    in --seconds (at least two). --seconds changes how many batches a run
    measures, never their size."""
    return 1 + max(2, round(seconds * wl["live_rate_files_per_s"]))


def run_jvm(cp, wl, spec, args, work, out):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    mem = heap()
    cmd = (["java", f"-Xms{mem}", f"-Xmx{mem}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + ADD_OPENS + ["-cp", cp, "perfbench.Main",
                          "--workload", args.workload, "--kind", wl["kind"], "--data", spec["data"],
                          "--seed", str(args.seed), "--trace", str(args.trace), "--work", work, "--out", out])
    if wl["kind"] == "batch":
        cmd += ["--layout", wl["layout"], "--keys", ",".join(wl["keys"]),
                "--runs", str(batch_runs(wl, args.seconds))]
    else:
        cmd += ["--pipelines", ",".join(wl["pipelines"]), "--files", str(stream_files(wl, args.seconds)),
                "--rows-per-file", str(wl["rows_per_file"]), "--late-share", str(wl["late_share"]),
                "--live-rate", str(wl["live_rate_files_per_s"])]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"measurement JVM failed ({rc})")
    return mem


def load_records(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def pct(values, q):
    """q-th percentile (0<q<100) by linear interpolation between order stats."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def by(recs, t):
    return [r for r in recs if r["type"] == t]


def check_batch(recs, expected, record):
    """Compares each key's checked rows and digest with expected.json, where
    a null digest means the key is checked by row count only."""
    problems = []
    for c in by(recs, "check"):
        k = c["key"]
        if c["rows"] is None:
            continue  # the check run itself failed; already a "fail" record
        if record:
            e = expected.setdefault(k, {"rows": c["rows"], "digest": c["digest"]})
            if e["rows"] != c["rows"]:
                die(f"{k}: row count differs between recordings ({e['rows']} vs {c['rows']})")
            if e["digest"] != c["digest"]:
                e["digest"] = None
            continue
        e = expected.get(k)
        if e is None:
            problems.append(f"{k}: no expected value recorded")
        elif e["rows"] != c["rows"]:
            problems.append(f"{k}: {c['rows']} rows, expected {e['rows']}")
        elif e["digest"] is not None and e["digest"] != c["digest"]:
            problems.append(f"{k}: digest {c['digest']} != expected {e['digest']}")
    return problems


def setup_info(recs):
    """The set-up record (setup_s is the median round) and the median of the
    rounds' ptx.Tables load times."""
    st = by(recs, "setup")[0]
    load = statistics.median(r["tables_load_ms"] for r in by(recs, "setup_round"))
    return st, load, {"cold_setup_s": st["cold_setup_s"], "setup_rounds_ms": [round(x) for x in st["rounds_ms"]]}


def batch_metrics(recs, trace):
    qs = by(recs, "query")
    per_key = {}
    for q in qs:
        per_key.setdefault(q["key"], []).append(q)
    med = lambda k, f: statistics.median(r[f] for r in per_key[k])
    key_lat = [med(k, "latency_ms") for k in per_key]
    heaps = [r["heap_mb"] for r in by(recs, "check")]
    st, load_ms, sinfo = setup_info(recs)
    m = {
        "setup_s": (st["setup_s"], "s"),
        "suite_s": (sum(key_lat) / 1000.0, "s"),
        "latency_p50_ms": (pct([q["latency_ms"] for q in qs], 50), "ms"),
        "live_heap_mb": (by(recs, "heap")[0]["old_gen_after_gc_mb"], "MB"),
    }
    info = {"latency_samples": len(qs), "peak_heap_mb": max(heaps),
            "suite_cpu_s": sum(med(k, "cpu_ms") for k in per_key) / 1000.0, **sinfo}
    if not trace:
        return m, info
    layer = {}
    def tot(f):
        return sum(med(k, f) for k in per_key)
    exec_ms = tot("exec_ms")
    layer["tables.load_ms"] = (load_ms, "ms")
    layer["ops.build_ms"] = (tot("build_ms"), "ms")
    layer["ops.build_jobs"] = (tot("build_jobs"), "count")
    for f in ("analysis_ms", "optimization_ms", "physical_ms"):
        layer[f"plan.{f}"] = (tot(f), "ms")
    for f in ("exchanges", "broadcasts", "scans"):
        layer[f"plan.{f}"] = (tot(f), "count")
    layer["exec.ms"] = (exec_ms, "ms")
    for f in ("jobs", "stages", "tasks"):
        layer[f"exec.{f}"] = (tot(f), "count")
    busy = tot("stage_busy_ms")
    layer["exec.stage_busy_ms"] = (busy, "ms")
    layer["exec.driver_gap_ms"] = (exec_ms - busy, "ms")
    for f in ("task_run_ms", "task_cpu_ms", "task_gc_ms"):
        layer[f"exec.{f}"] = (tot(f), "ms")
    layer["exec.core_util"] = (tot("task_run_ms") / (exec_ms * cpus()) if exec_ms else 0.0, "ratio")
    for f in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        layer[f"exec.{f}"] = (tot(f), "bytes")
    layer["caching.release_ms"] = (tot("release_ms"), "ms")
    layer["caching.cached_bytes"] = (max(q["cached_bytes"] for q in qs), "bytes")
    layer["jvm.gc_ms"] = (sum(q["gc_ms"] for q in qs), "ms")
    # spans must account for the traced wall time of every execution
    cover = [(q["build_ms"] + q["plan_ms"] + q["exec_ms"] + q["release_ms"]) / q["wall_ms"] for q in qs]
    info["span_coverage_min"] = min(cover)
    return {**m, **layer}, info


def stream_metrics(recs, trace):
    drains = by(recs, "drain")
    lat = [r["latency_ms"] for r in by(recs, "latency")]
    heaps = [r["heap_mb"] for r in by(recs, "heap_sample")]
    wall = sum(d["wall_ms"] for d in drains) / 1000.0
    st, load_ms, sinfo = setup_info(recs)
    m = {
        "setup_s": (st["setup_s"], "s"),
        "suite_s": (wall, "s"),
        "latency_p50_ms": (pct(lat, 50), "ms"),
        "live_heap_mb": (by(recs, "heap")[0]["old_gen_after_gc_mb"], "MB"),
    }
    info = {"latency_samples": len(lat), "peak_heap_mb": max(heaps),
            "drain_rows_per_s": sum(d["rows_in"] for d in drains) / wall,
            "suite_cpu_s": sum(d["cpu_ms"] for d in drains) / 1000.0,
            "generator_late_ms": by(recs, "generator")[0]["late_ms"], **sinfo}
    if not trace:
        return m, info
    bs = [b for b in by(recs, "batch") if b["phase"] == "drain"]
    data = [b for b in bs if b["rows"] > 0]
    dur = lambda b, k: b["duration_ms"].get(k, 0)
    layer = {}
    layer["tables.load_ms"] = (load_ms, "ms")
    layer["ops.build_ms"] = (sum(d["build_ms"] for d in drains), "ms")
    exec_ms = sum(dur(b, "triggerExecution") for b in bs)
    layer["exec.ms"] = (exec_ms, "ms")
    for f in ("jobs", "stages", "tasks"):
        layer[f"exec.{f}"] = (sum(b.get(f, 0) for b in bs), "count")
    busy = sum(b.get("stage_busy_ms", 0) for b in bs)
    layer["exec.stage_busy_ms"] = (busy, "ms")
    layer["exec.driver_gap_ms"] = (exec_ms - busy, "ms")
    for f in ("task_run_ms", "task_cpu_ms", "task_gc_ms"):
        layer[f"exec.{f}"] = (sum(b.get(f, 0) for b in bs), "ms")
    layer["exec.core_util"] = (sum(b.get("task_run_ms", 0) for b in bs) / (exec_ms * cpus()) if exec_ms else 0.0, "ratio")
    for f in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        layer[f"exec.{f}"] = (sum(b.get(f, 0) for b in bs), "bytes")
    layer["jvm.gc_ms"] = (sum(d["gc_ms"] for d in drains) + by(recs, "live")[0]["gc_ms"], "ms")
    trig = [dur(b, "triggerExecution") for b in data]
    layer["stream.trigger_p50_ms"] = (pct(trig, 50), "ms")
    layer["stream.trigger_p90_ms"] = (pct(trig, 90), "ms")
    for k, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                    ("getBatch", "get_batch_ms"), ("latestOffset", "latest_offset_ms"),
                    ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms")):
        layer[f"stream.{name}"] = (sum(dur(b, k) for b in bs), "ms")
    last = {}
    for b in bs:
        last[b["pipeline"]] = b
    layer["state.rows_total"] = (sum(b["state_rows"] for b in last.values()), "count")
    layer["state.memory_bytes"] = (max(b["state_memory_bytes"] for b in bs), "bytes")
    layer["state.commit_ms"] = (sum(b["state_commit_ms"] for b in bs), "ms")
    layer["state.rows_dropped_late"] = (sum(b["state_dropped_late"] for b in bs), "count")
    layer["gen.late_ms"] = (by(recs, "generator")[0]["late_ms"], "ms")
    # fixed per-batch costs: offset log, commit and source listing as a share
    # of the data batches' trigger wall time; the state-store commit is task
    # time summed over the state partitions, so it is a share of task time
    fixed = sum(dur(b, k) for b in data for k in ("walCommit", "commitOffsets", "latestOffset"))
    info["stream.offset_commit_share"] = fixed / max(sum(trig), 1)
    info["state.commit_task_share"] = sum(b["state_commit_ms"] for b in data) / max(
        sum(b.get("task_run_ms", 0) for b in data), 1)
    return {**m, **layer}, info


def tracing_overhead(workload, seconds, metrics, info):
    """Traced minus untraced suite_s (and drain rate), against the median of
    the untraced runs of this workload, source and --seconds kept in
    .bench_results/."""
    untraced = []
    for f in glob.glob(os.path.join(RESULTS, f"{workload}-s*-t0-*.json")):
        with open(f) as fh:
            r = json.load(fh)
        if r["info"].get("source") == info["source"] and r.get("seconds") == seconds:
            untraced.append(r)
    if not untraced:
        return {"tracing_overhead": "n/a (no matching untraced run in .bench_results)"}
    out = {"tracing_overhead_suite_s": metrics["suite_s"][0] - statistics.median(
        r["all_metrics"]["suite_s"] for r in untraced)}
    if "drain_rows_per_s" in info:
        out["tracing_overhead_drain_rows_per_s"] = info["drain_rows_per_s"] - statistics.median(
            r["info"]["drain_rows_per_s"] for r in untraced)
    return out


def cpu_stat():
    """(steal, total) jiffies of the host's aggregate cpu line, if readable."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except (OSError, ValueError):
        return 0, 0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def main():
    # a SIGTERM still runs the finally blocks: the JVM is stopped and the
    # run's scratch data deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    try:
        with open(SPEC) as f:
            spec = json.load(f)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except OSError as e:
        die(f"cannot read the benchmark definition: {e}")
    spec["data"] = os.environ.get("SPARK_GRAFT_SF_DIR", spec["data"])
    wl = spec["workloads"].get(args.workload) or die(f"unknown workload {args.workload}")
    if not os.path.isdir(spec["data"]):
        die(f"fixture directory {spec['data']} not found (set SPARK_GRAFT_SF_DIR)")
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f)
    stamp = source_stamp()
    cp = build(stamp)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "records.jsonl")
    try:
        stat0 = cpu_stat()
        mem = run_jvm(cp, wl, spec, args, work, out)
        stat1 = cpu_stat()
        recs = load_records(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    problems = [f"{r['what']}: {r['msg']}" for r in by(recs, "fail")]
    if wl["kind"] == "batch":
        problems += check_batch(recs, expected.setdefault("batch", {}), args.record)
        metrics, info = batch_metrics(recs, args.trace)
        attempted = len(by(recs, "query")) + len(by(recs, "check"))
        failed = len(problems)
    else:
        metrics, info = stream_metrics(recs, args.trace)
        limit = wl["latency_limit_ms"]
        missed = [r for r in by(recs, "latency") if r["latency_ms"] > limit]
        info["missed_limit"] = len(missed)
        timed_files = stream_files(wl, args.seconds) - 1
        attempted = len(by(recs, "drain")) + timed_files * len(wl["pipelines"]) + len(by(recs, "stream_check"))
        failed = len(problems) + len(missed)
        for r in missed:
            print(f"[perfbench] live {r['pipeline']} file {r['file']}: {r['latency_ms']} ms > limit {limit} ms")
    if args.record:
        with open(EXPECTED, "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")

    if stat1[1] > stat0[1]:
        # share of CPU time the hypervisor withheld during the run, one
        # source of run-to-run spread on a shared host
        info["host_steal_share"] = (stat1[0] - stat0[0]) / (stat1[1] - stat0[1])
    env = by(recs, "env")[0]
    info.update(cpus=env["cpus"], heap=mem, jdk=env["jdk"], spark=env["spark"], commit=git_commit(),
                source=stamp, fail_frac=failed / max(attempted, 1))
    if args.trace:
        info.update(tracing_overhead(args.workload, args.seconds, metrics, info))
    wanted = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    for name, (value, unit) in sorted(metrics.items()):
        print(f"{name:32s} {value:14.4f} {unit}")
    for k, v in info.items():
        print(f"{k:32s} {v}")
    for p in problems:
        print(f"[perfbench] FAILED {p}")
    correct = not problems
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": metrics[n][0], "unit": metrics[n][1]} for n in wanted if n in metrics}}
    missing = [n for n in wanted if n not in metrics]
    if missing:
        die(f"metrics not measured: {missing}")
    os.makedirs(RESULTS, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    if args.trace:
        # one record per query execution and per micro-batch
        with open(os.path.join(RESULTS, stem + ".trace.jsonl"), "w") as f:
            for r in recs:
                if r["type"] in ("query", "batch"):
                    f.write(json.dumps({"workload": args.workload, "seed": args.seed, **r}) + "\n")
    with open(os.path.join(RESULTS, stem + ".json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "trace": args.trace, "info": info,
                   "all_metrics": {n: v for n, (v, _) in metrics.items()}, "problems": problems,
                   "result": result, "records": recs}, f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

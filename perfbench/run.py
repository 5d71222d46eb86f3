"""tsflexspark benchmark: one seeded workload in one `local[n]` JVM.

    python3 perfbench/run.py --workload sf0.1-floor --seed 1 --seconds 10 --trace 0

Builds the library from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload's
calls in passes for `--seconds` (perfbench/scala/Harness.scala), checks every
call's output digest, and prints one JSON line last: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Everything it
writes stays under the working directory (.bench_build, .bench_cache,
.bench_out).
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
from workloads import DEFAULT_SEED, WORKLOADS, tables_of  # noqa: E402

OUT_DIR = ".bench_out"
DIGESTS = os.path.join(HERE, "digests.json")
HEAP = "4g"
# Per-run deadline for the JVM, leaving room for build checks and reporting.
JVM_TIMEOUT_S = 165
SETUP_REPS = 3
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

E2E = [  # name, unit
    ("setup_s", "s"), ("rows_per_s", "rows/s"), ("query_p50_s", "s"),
    ("query_p90_s", "s"), ("cpu_s", "s"), ("peak_mem_mb", "MB"),
    ("ok_frac", "frac")]
LAYER = [
    ("api.build_s", "s"), ("scale.build_s", "s"), ("chunk.build_s", "s"),
    ("segment.eager_jobs", "count"), ("core.eager_jobs", "count"),
    ("scale.eager_jobs", "count"), ("api.eager_jobs", "count"),
    ("segment.eager_s", "s"), ("core.eager_s", "s"), ("scale.eager_s", "s"),
    ("api.eager_s", "s"), ("build.eager_jobs", "count"),
    ("build.share", "frac"),
    ("sched.jobs", "count"), ("sched.stages", "count"),
    ("sched.tasks", "count"), ("sched.idle_frac", "frac"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.records_written", "count"), ("segment.fanout", "ratio"),
    ("sort.time_s", "s"), ("expr.kernel_s", "s"),
    ("scan.records_read", "count"), ("scan.read_amp", "ratio"),
    ("agg.time_s", "s"), ("join.broadcast", "count"),
    ("join.shuffled", "count"), ("spill.bytes", "bytes"),
    ("core.pinned", "count"), ("jvm.gc_s", "s"),
    ("jvm.codegen_compiles", "count"), ("trace.overhead_frac", "frac")]


def nproc():
    return len(os.sched_getaffinity(0))


def commit():
    """HEAD of a git repository rooted right here; "unknown" elsewhere (the
    source hash in the stamp still names the code)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(os.getcwd()))
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10, env=env)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def launch(classes, data_dir, workload, calls, tables, seconds, trace, cores,
           min_passes, tag):
    """Run the harness JVM; return its record."""
    os.makedirs(OUT_DIR, exist_ok=True)
    record = os.path.join(OUT_DIR, "record-%s.json" % tag)
    log = os.path.join(OUT_DIR, "jvm-%s.log" % tag)
    local = os.path.abspath(os.path.join(OUT_DIR, "spark-local-%d" % os.getpid()))
    tmp = os.path.abspath(os.path.join(OUT_DIR, "tmp-%d" % os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    if os.path.exists(record):
        os.remove(record)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp.
    # A pre-touched heap on transparent huge pages: without it, runs on a
    # 4-core VM split into fast and ~40% slower ones (likely heap page
    # faults mid-run); with it, the slow mode did not recur.
    cmd = (["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP,
            "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Harness", "--workload", workload, "--data", data_dir,
              "--calls", ",".join("%s:%s" % (n, l) for n, l, _ in calls),
              "--tables", ",".join(tables), "--seconds", str(seconds),
              "--trace", str(trace), "--cores", str(cores),
              "--setup-reps", str(SETUP_REPS), "--min-passes", str(min_passes),
              "--local-dir", local, "--out", record])
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "_JAVA_OPTIONS",
                        "JAVA_TOOL_OPTIONS")}
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                    env=env)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise RuntimeError("harness JVM timed out; log: " + log)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
    finally:
        shutil.rmtree(local, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(record):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError("harness JVM failed (exit %d):\n%s" % (rc, tail))
    with open(record) as fh:
        return json.load(fh)


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def check(execs, ref):
    """Mark executions that threw or whose digest differs from the reference:
    the seed code's digest for the default seed, else the call's first
    execution in the run."""
    first = {}
    failed = []
    for e in execs:
        want = ref.get(e["call"]) or first.setdefault(e["call"], e["digest"])
        e["ok"] = not e["error"] and e["digest"] == want
        if not e["ok"]:
            failed.append(e)
    return failed


def self_times(spans):
    """Self time per span: its duration minus the part its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        ivs = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        s["self_ms"] = (s["end_ms"] - s["start_ms"]) - covered
    return spans


def pass_rows(workload, sizes):
    """Input rows one pass's calls read (each call counts each table once)."""
    return sum(sizes[t + ".rows"] for _, _, tabs in WORKLOADS[workload]["calls"]
               for t in tabs)


def e2e_metrics(rec, execs, sizes, workload, failed):
    timed = [p for p in rec["passes"] if p["timed"] and not p["traced"]]
    walls = [e["wall_s"] for e in execs if e["timed"] and not e["traced"]]
    rows = pass_rows(workload, sizes)
    attempted = len(execs)
    return {
        "setup_s": statistics.median(rec["setup_s"]),
        "rows_per_s": statistics.median(rows / p["wall_s"] for p in timed),
        "query_p50_s": quantile(walls, 0.5),
        "query_p90_s": quantile(walls, 0.9),
        "cpu_s": statistics.median(p["cpu_s"] for p in timed),
        "peak_mem_mb": max(p["peak_mem_bytes"] for p in timed) / 2 ** 20,
        "ok_frac": 1.0 - len(failed) / attempted,
    }, len(walls)


def layer_metrics(rec, execs, sizes, workload, cores):
    traced = [p for p in rec["passes"] if p["traced"]]
    untraced = [p for p in rec["passes"] if p["timed"] and not p["traced"]]
    per_pass = []
    for p in traced:
        es = [e for e in execs if e["pass"] == p["pass"]]
        s = lambda k: sum(e.get(k, 0) for e in es)  # noqa: E731
        layer_build = lambda l: sum(e["build_s"] for e in es if e["layer"] == l)  # noqa: E731
        exec_wall = s("exec_s")
        m = {
            "api.build_s": layer_build("api"), "scale.build_s": layer_build("scale"),
            "chunk.build_s": layer_build("chunk"),
            "build.eager_jobs": s("eager_jobs"),
            "build.share": s("build_s") / max(1e-9, s("build_s") + exec_wall),
            "sched.jobs": s("jobs"), "sched.stages": s("stages"),
            "sched.tasks": s("tasks"),
            "sched.idle_frac": 1.0 - s("exec_task_s") / max(1e-9, cores * exec_wall),
            "shuffle.write_bytes": s("shuffle_write_bytes"),
            "shuffle.read_bytes": s("shuffle_read_bytes"),
            "shuffle.records_written": s("shuffle_records"),
            "segment.fanout": s("gen_out") / max(1, s("gen_in")),
            "sort.time_s": s("sort_s"), "expr.kernel_s": s("kernel_s"),
            "scan.records_read": s("scan_records"),
            "scan.read_amp": s("scan_records") / pass_rows(workload, sizes),
            "agg.time_s": s("agg_s"), "join.broadcast": s("join_broadcast"),
            "join.shuffled": s("join_shuffled"), "spill.bytes": s("spill_bytes"),
            "core.pinned": s("pinned"), "jvm.gc_s": p["gc_s"],
            "jvm.codegen_compiles": p["codegen_compiles"],
        }
        for mod in ("segment", "core", "scale", "api"):
            m[mod + ".eager_jobs"] = s("eager_jobs." + mod)
            m[mod + ".eager_s"] = s("eager_s." + mod)
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    out["trace.overhead_frac"] = (
        statistics.median(p["wall_s"] for p in traced)
        / statistics.median(p["wall_s"] for p in untraced) - 1.0)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="sf0.001-sized inputs (self-test)")
    ap.add_argument("--record-digests", action="store_true",
                    help="store this run's digests as the default-seed reference")
    a = ap.parse_args(argv)
    t_start = time.perf_counter()
    wl = WORKLOADS[a.workload]
    cores = nproc()

    classes, src_sha, build_s = build.ensure()
    tables = tables_of(a.workload)
    dataset = wl["dataset"] + ("-tiny" if a.tiny else "")
    data_dir, gen_s, made, sizes = gen.generate(dataset, a.seed, tables)
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    # a traced run needs a traced timed pass between two untraced ones
    rec = launch(classes, os.path.abspath(data_dir), a.workload,
                      wl["calls"], tables, a.seconds, a.trace, cores,
                      3 if a.trace else 1, tag)

    execs = rec["execs"]
    ref = {}
    if a.seed == DEFAULT_SEED and not a.tiny and os.path.exists(DIGESTS):
        with open(DIGESTS) as fh:
            ref = json.load(fh).get(a.workload, {})
    failed = check(execs, ref)
    if a.record_digests and not failed:
        allref = json.load(open(DIGESTS)) if os.path.exists(DIGESTS) else {}
        allref[a.workload] = {e["call"]: e["digest"] for e in execs if e["timed"]}
        with open(DIGESTS, "w") as fh:
            json.dump(allref, fh, indent=1, sort_keys=True)
            fh.write("\n")

    env = dict(rec["env"], nproc=cores, commit=commit(), source_sha=src_sha,
               heap=HEAP, workload=a.workload, seed=a.seed, dataset=dataset)
    e2e, samples = e2e_metrics(rec, execs, sizes, a.workload, failed)
    layers = layer_metrics(rec, execs, sizes, a.workload, cores) if a.trace else {}
    result = {"env": env, "inputs": sizes, "gen_s": gen_s, "generated": made,
              "build_s": build_s, "jvm_uptime_s": rec["uptime"],
              "query_samples": samples,
              "failed_frac": len(failed) / len(execs),
              "failed": [{k: e[k] for k in ("pass", "call", "digest", "error")}
                         for e in failed],
              "end_to_end": e2e, "per_layer": layers,
              "calls": execs, "passes": rec["passes"],
              "wall_s": time.perf_counter() - t_start}
    with open(os.path.join(OUT_DIR, "result-%s.json" % tag), "w") as fh:
        json.dump(result, fh, indent=1)
    if a.trace:
        with open(os.path.join(OUT_DIR, "trace-%s.json" % tag), "w") as fh:
            json.dump(self_times(rec["spans"]), fh)

    print("env " + json.dumps(env, sort_keys=True))
    print("inputs " + json.dumps(sizes, sort_keys=True) + " gen_s %.3f" % gen_s)
    for e in failed:
        print("FAILED %s pass %d: %s" % (e["call"], e["pass"],
                                          e["error"] or "digest " + e["digest"]))
    print("failed_frac %.4f frac (%d of %d call executions)"
          % (len(failed) / len(execs), len(failed), len(execs)))
    print("query samples %d (timed calls pooled over passes)" % samples)
    units = dict(E2E + LAYER)
    shown = layers if a.trace else e2e
    for k, v in sorted(e2e.items()) + sorted(layers.items()):
        print("%-24s %16.6g %s" % (k, v, units[k]))
    print(json.dumps({
        "correct": not failed, "attempted": len(execs), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()}}))


if __name__ == "__main__":
    # SIGTERM unwinds like Ctrl-C, so the harness JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (RuntimeError, OSError, KeyError, ValueError) as err:
        print("perfbench: %s" % err, file=sys.stderr)
        sys.exit(1)

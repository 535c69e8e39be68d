#!/usr/bin/env python3
"""Data-quality benchmark of graft: closed-loop, single-client workloads,
each in its own fresh JVM over seeded generated inputs.

    python3 perfbench/run.py --workload incremental-append --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --smoke        # every workload on tiny inputs

Builds the program from this checkout's sources on first use (sbt, offline),
generates the inputs from the seed, runs the workload JVM straight from the
exported classpath, checks every op's output against independent DuckDB /
Python computations (oracle.py) and prints every metric by name with its
unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. BENCHMARK.json lists
incremental-append and curation; batch-verify runs the same way.
"""
import argparse
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
sys.path.insert(0, HERE)

WORKLOADS = ("batch-verify", "incremental-append", "curation")
JVM_HEAP = "-Xmx3g"
RUN_LIMIT_S = 175          # a run must end within 180 s
BUILD_LIMIT_S = 800        # the first run of a checkout may take 900 s

END_TO_END = [("task_cpu_s", "s"), ("driver_cpu_s", "s"), ("live_heap_mb", "MB"),
              ("setup_s", "s")]
# Wall-clock figures of untraced runs: printed, but not in the result,
# because hypervisor steal spreads them wider than any bound (README.md).
WALL = [("op_p50_s", "s"), ("rows_per_s", "1/s")]
# per-layer metric -> (unit, per-op record field)
PER_LAYER = [
    ("spark.jobs", "count", "jobs"), ("spark.tasks", "count", "tasks"),
    ("spark.scan_passes", "count", None), ("spark.plan_s", "s", "plan_s"),
    ("spark.codegen_compiles", "count", "codegen_compiles"),
    ("spark.shuffle_write_mb", "MB", "shuffle_write_mb"), ("spark.spill_mb", "MB", "spill_mb"),
    ("spark.storage_peak_mb", "MB", "storage_peak_mb"),
    ("jvm.gc_s", "s", "gc_s"), ("jvm.jit_s", "s", "jit_s"), ("host.steal_s", "s", "steal_s"),
] + [(n, u, None) for n, u in [
    ("checks.verify_s", "s"), ("checks.evaluate_s", "s"),
    ("runners.scan_family_s", "s"), ("runners.grouping_family_s", "s"), ("sketch.kll_s", "s"),
    ("core.state_load_s", "s"), ("core.state_persist_s", "s"), ("core.state_mb", "MB"),
    ("repository.save_s", "s"), ("repository.load_s", "s"), ("repository.write_amp", "ratio"),
    ("anomaly.detect_s", "s"),
    ("pipeline.build_s", "s"), ("pipeline.consume_s", "s"), ("pipeline.release_s", "s"),
    ("pipeline.boilerplate_s", "s"), ("pipeline.nb_train_s", "s"), ("pipeline.nb_score_s", "s"),
    ("pipeline.perplexity_s", "s"), ("pipeline.url_dedup_s", "s")]]
NOISE = [("host.steal_s", "steal_s"), ("jvm.jit_s", "jit_s"), ("jvm.gc_s", "gc_s"),
         ("spark.codegen_compiles", "codegen_compiles")]

# build.sbt's --add-opens list (Spark on JDK 17 outside spark-submit)
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    """Compiles library + harness once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("program sources (src/main/scala/graft) not found next to perfbench/")
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "build.stamp")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        raise BenchError("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g" +
                   (" -Dsbt.repository.config=" + repos if os.path.exists(repos) else ""))
    log("building library + benchmark harness (sbt, offline)")
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "writeClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        raise BenchError("build timed out after %d s" % BUILD_LIMIT_S)
    if p.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("build failed (sbt exit %d)" % p.returncode)
    with open(stamp_file, "w") as f:
        f.write(digest)
    log("build done in %.0f s" % (time.time() - t0))
    with open(cp_file) as g:
        return g.read().strip()


def executor_slots():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 2
    return max(2, n // 2)


def run_jvm(classpath, workload, data, work, out, seconds, trace, deadline, warmup=None):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    cmd = [java, JVM_HEAP, "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", workload, "--data", data, "--work", work, "--out", out,
            "--suites", os.path.join(HERE, "suites.json"), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(executor_slots())]
    if warmup is not None:
        cmd += ["--warmup", str(warmup)]
    logf = os.path.join(out, "jvm.log")
    os.makedirs(out, exist_ok=True)
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=lf, stderr=lf)
        try:
            rc = proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError("workload JVM exceeded the time limit")
        finally:
            # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(os.path.join(out, "summary.json")):
        with open(logf) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError("workload JVM failed (exit %d)" % rc)


def load_ops(out):
    with open(os.path.join(out, "ops.jsonl")) as f:
        ops = [json.loads(line) for line in f if line.strip()]
    with open(os.path.join(out, "summary.json")) as f:
        return ops, json.load(f)


def check_outputs(workload, data, out, ops):
    import oracle
    with open(os.path.join(HERE, "suites.json")) as f:
        suites = json.load(f)
    if workload == "batch-verify":
        return oracle.check_batch(data, suites, ops)
    if workload == "incremental-append":
        return oracle.check_incremental(data, suites, ops)
    return oracle.check_curation(data, os.path.join(out, "oracle_q136.sql"), ops,
                                 os.path.join(out, "survivors"))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def metrics_of(timed, summary, trace):
    ok = [o for o in timed if o["ok"]] or timed
    if not trace:
        wall = sum(o["wall_s"] for o in ok)
        return {
            "op_p50_s": median([o["wall_s"] for o in ok]),
            "rows_per_s": sum(o["rows"] for o in ok) / wall if wall > 0 else 0.0,
            "task_cpu_s": median([o["task_cpu_s"] for o in ok]),
            "driver_cpu_s": median([o["driver_cpu_s"] for o in ok]),
            "live_heap_mb": summary["live_heap_mb"],
            "setup_s": summary["setup_s"],
        }
    m = {}
    for name, _, field in PER_LAYER:
        if name == "spark.scan_passes":
            vals = [o["input_records"] / o["rows"] for o in ok if o["rows"]]
        elif field is not None:
            vals = [o[field] for o in ok]
        else:
            vals = [o.get("layers", {}).get(name, 0.0) for o in ok]
        m[name] = median(vals)
    return m


def run_one(workload, seed, seconds, trace, scale="full", warmup=None, keep=True):
    """Returns (result dict, lines to print)."""
    import gen
    classpath = ensure_build()
    # the JVM's share of the run limit; generation and the oracle take the rest
    deadline = time.time() + RUN_LIMIT_S - 20
    work = os.path.join(HERE, "work", "%s-s%d-%d" % (workload, seed, os.getpid()))
    data, out, jwork = (os.path.join(work, d) for d in ("inputs", "out", "jvm"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen.generate(seed, data, scale, (workload,))
        os.makedirs(jwork)
        run_jvm(classpath, workload, data, jwork, out, seconds, trace, deadline, warmup)
        ops, summary = load_ops(out)
        timed = [o for o in ops if not o["warm"]]
        if not timed:
            raise BenchError("no timed op ran")
        op_errs, run_errs, notes = check_outputs(workload, data, out, timed)
        bad = [(o, e) for o, e in zip(timed, op_errs) if not o["ok"] or e]
        lines = ["%s: %d timed ops, %d warm-up, %.1f s timed, seed %d, %d executor slots"
                 % (workload, len(timed), summary["warmup_ops"], summary["timed_s"], seed,
                    summary["cores"])]
        for o, e in bad[:5]:
            lines.append("  FAILED op %d: %s" % (o["op"], o.get("error") or "; ".join(e[:5])))
        lines += ["  FAILED run check: " + e for e in run_errs] + ["  " + n for n in notes]
        metrics = metrics_of(timed, summary, trace)
        units = dict(END_TO_END + WALL) if not trace else {n: u for n, u, _ in PER_LAYER}
        for n, v in metrics.items():
            lines.append("  %-28s %14.6f %s%s" % (
                n, v, units[n], " (printed only)" if n in dict(WALL) else ""))
        lines.append("  noise per op (median): " + ", ".join(
            "%s %.3f" % (n, median([o[f] for o in timed])) for n, f in NOISE))
        result = {"correct": not run_errs and not bad, "attempted": len(timed), "failed": len(bad),
                  "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()
                              if n not in dict(WALL)}}
        if keep:
            last = os.path.join(HERE, "work", "last", workload)
            shutil.rmtree(last, ignore_errors=True)
            shutil.copytree(out, last, ignore=shutil.ignore_patterns("survivors"))
        return result, lines
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload and its checks on tiny inputs")
    a = ap.parse_args()
    if not a.smoke and a.workload is None:
        ap.error("--workload is required")
    current = a.workload
    try:
        if a.smoke:
            failed = []
            for current in WORKLOADS:
                res, lines = run_one(current, a.seed, 0, 1, scale="smoke", warmup=0, keep=False)
                print("\n".join(lines))
                if not res["correct"] or res["failed"]:
                    failed.append(current)
            if failed:
                raise BenchError("checks failed")
            print(json.dumps({"smoke": "ok", "workloads": list(WORKLOADS)}))
            return 0
        res, lines = run_one(a.workload, a.seed, a.seconds, a.trace)
        print("\n".join(lines))
        print(json.dumps(res))
        return 0
    except BenchError as e:
        log("error: %s: %s" % (", ".join(failed) if a.smoke and failed else current, e))
        return 2


if __name__ == "__main__":
    sys.exit(main())

"""Per-execution cost of the `Curation.pipeline` quality stage (NB train +
score) in a perfbench `curation` run, read from the run's Spark event log.

Get the event log by running the benchmark from a copy of the checkout
whose `perfbench/run.py` adds `-Dspark.eventLog.enabled=true
-Dspark.eventLog.dir=file://<dir>` to the workload JVM's command line, then:

    python3 eventlog_stages.py <dir> --skip 3    # skip the 3 warm-up ops

The log may be zstd-compressed (Spark's default); the `zstd` CLI decodes it.
Executions are assigned to pipeline stages as in `plans/r21/eventlog_stages.py`:
an op starts at the boilerplate cut (`removed_lines`) and the quality stage
runs up to and including the survivor cut carrying `graft_score`. Its first
execution is the shared (doc, term, tf) cut, which later stages read too.

Per execution (averaged over the timed ops): jobs, task CPU, the plan
description at execution start and the sum of its adaptive (AQE) re-plan
descriptions, and whether any of them holds an `InMemoryRelation`.
"""
import collections
import glob
import json
import re
import subprocess
import sys


def read_events(d):
    path = (glob.glob(d + "/*/events_*") + glob.glob(d + "/events_*") + glob.glob(d + "/local-*"))[0]
    if path.endswith(".zstd"):
        raw = subprocess.run(["zstd", "-dc", path], capture_output=True, check=False).stdout
    else:
        with open(path, "rb") as f:
            raw = f.read()
    for line in raw.decode().splitlines():
        try:
            yield json.loads(line)
        except ValueError:  # a truncated last line of an in-progress log
            pass


def main():
    d = sys.argv[1]
    skip = int(sys.argv[sys.argv.index("--skip") + 1]) if "--skip" in sys.argv else 0
    execs, order, stage_exec = {}, [], {}
    for e in read_events(d):
        ev = e.get("Event", "")
        if ev.endswith("SparkListenerSQLExecutionStart"):
            p = e["physicalPlanDescription"]
            execs[e["executionId"]] = dict(
                plan=p, desc=re.sub(r"#\d+", "#N", e.get("description", "")),
                start=len(p), upd=0, cpu=0.0, jobs=0, imr="InMemoryRelation" in p)
            order.append(e["executionId"])
        elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            r = execs.get(e["executionId"])
            if r is not None:
                r["upd"] += len(e["physicalPlanDescription"])
                r["imr"] = r["imr"] or "InMemoryRelation" in e["physicalPlanDescription"]
        elif ev == "SparkListenerJobStart":
            x = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if x is not None and int(x) in execs:
                execs[int(x)]["jobs"] += 1
                for s in e["Stage IDs"]:
                    stage_exec[s] = int(x)
        elif ev == "SparkListenerTaskEnd":
            x = stage_exec.get(e["Stage ID"])
            if x in execs:
                execs[x]["cpu"] += (e.get("Task Metrics") or {}).get("Executor CPU Time", 0) / 1e9

    # the quality stage's executions of each op, in order
    ops, cur, in_quality = [], None, False
    for x in order:
        p = execs[x]["plan"]
        if "removed_lines" in p:
            cur = []
            ops.append(cur)
            in_quality = True
        elif in_quality and cur is not None:
            cur.append(execs[x])
            if "graft_score" in p:
                in_quality = False
    timed = ops[skip:]
    n = len(timed)
    width = max(len(o) for o in timed)
    print("timed ops: %d (first %d skipped)" % (n, skip))
    print("| # | execution (call site) | jobs/op | task CPU s/op | start KB/op "
          "| AQE updates KB/op | InMemoryRelation |")
    print("|---|---|---|---|---|---|---|")
    tot = collections.Counter()
    for i in range(width):
        rs = [o[i] for o in timed if len(o) > i]
        jobs = sum(r["jobs"] for r in rs) / n
        cpu = sum(r["cpu"] for r in rs) / n
        st = sum(r["start"] for r in rs) / n / 1024
        up = sum(r["upd"] for r in rs) / n / 1024
        imr = any(r["imr"] for r in rs)
        print("| %d | %s | %.1f | %.3f | %.1f | %.1f | %s |"
              % (i, rs[0]["desc"], jobs, cpu, st, up, "yes" if imr else "no"))
        if i > 0:  # totals after the shared tf cut
            tot["execs"] += len(rs) / n
            tot["jobs"] += jobs
            tot["cpu"] += cpu
            tot["kb"] += st + up
            tot["imr"] += imr
    print()
    print("after the tf cut: %.1f executions, %.1f jobs, %.3f s task CPU, "
          "%.1f KB of plan description (start + AQE updates) per op, "
          "InMemoryRelation in %d executions"
          % (tot["execs"], tot["jobs"], tot["cpu"], tot["kb"], tot["imr"]))


if __name__ == "__main__":
    main()

"""Per-op cost of the `Curation.pipeline` perplexity stage in a perfbench
`curation` run, read from the run's Spark event log.

Get the event log by running the benchmark from a copy of the checkout
whose `perfbench/run.py` adds `-Dspark.eventLog.enabled=true
-Dspark.eventLog.dir=file://<dir>` to the workload JVM's command line, then:

    python3 eventlog_perplexity.py <dir> --skip 3    # skip the 3 warm-up ops

The log may be zstd-compressed (Spark's default); the `zstd` CLI decodes it.
The stage starts at the first SQL execution after the quality survivor cut
(the execution whose plan carries `graft_score`) and ends with the
perplexity survivor cut (the execution whose plan filters on `bucket`;
census names are random, so the filter is the marker). Every job started in between counts, including RDD
jobs that belong to no SQL execution (the range scan's pass 1).

Per op (averaged over the timed ops): SQL executions, jobs, task CPU, plan
description (execution start + adaptive re-plans), and whether any plan of
the stage, and the survivor cut's plans in particular, hold an
`InMemoryRelation`.
"""
import glob
import json
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
    ops, cur, state = [], None, "out"   # out -> quality_cut -> perplexity -> kept_cut -> out
    stage_op, kept_execs = {}, set()
    for e in read_events(d):
        ev = e.get("Event", "")
        if ev.endswith("SparkListenerSQLExecutionStart"):
            p = e["physicalPlanDescription"]
            if "graft_score" in p:
                state = "quality_cut"
                continue
            if state == "quality_cut":
                cur = dict(execs=0, jobs=0, cpu=0.0, kb=0.0, imr=False, kept_imr=False)
                ops.append(cur)
                state = "perplexity"
            elif state == "kept_cut":
                state = "out"
            if state == "perplexity":
                cur["execs"] += 1
                cur["kb"] += len(p) / 1024
                cur["imr"] = cur["imr"] or "InMemoryRelation" in p
                if "Condition : (bucket" in p:
                    kept_execs.add(e["executionId"])
                    cur["kept_imr"] = "InMemoryRelation" in p
                    state = "kept_cut"
        elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if cur is not None and state in ("perplexity", "kept_cut"):
                p = e["physicalPlanDescription"]
                cur["kb"] += len(p) / 1024
                cur["imr"] = cur["imr"] or "InMemoryRelation" in p
                if e["executionId"] in kept_execs:
                    cur["kept_imr"] = cur["kept_imr"] or "InMemoryRelation" in p
        elif ev == "SparkListenerJobStart":
            if state in ("perplexity", "kept_cut"):
                cur["jobs"] += 1
                for s in e["Stage IDs"]:
                    stage_op[s] = cur
        elif ev == "SparkListenerTaskEnd":
            o = stage_op.get(e["Stage ID"])
            if o is not None:
                o["cpu"] += (e.get("Task Metrics") or {}).get("Executor CPU Time", 0) / 1e9
    timed = ops[skip:]
    n = len(timed)
    print("timed ops: %d (first %d skipped)" % (n, skip))
    print("| SQL executions/op | jobs/op | task CPU s/op | plan description KB/op "
          "| InMemoryRelation in the stage | in the survivor cut |")
    print("|---|---|---|---|---|---|")
    print("| %.1f | %.1f | %.3f | %.1f | %s | %s |" % (
        sum(o["execs"] for o in timed) / n, sum(o["jobs"] for o in timed) / n,
        sum(o["cpu"] for o in timed) / n, sum(o["kb"] for o in timed) / n,
        "yes" if any(o["imr"] for o in timed) else "no",
        "yes" if any(o["kept_imr"] for o in timed) else "no"))


if __name__ == "__main__":
    main()

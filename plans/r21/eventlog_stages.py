"""Per-stage task CPU and physical-plan description size of a perfbench
`curation` run, read from the run's Spark event log.

Get the event log by running the benchmark from a copy of the checkout
whose `perfbench/run.py` adds `-Dspark.eventLog.enabled=true
-Dspark.eventLog.dir=file://<dir>` to the workload JVM's command line, then:

    python3 eventlog_stages.py <dir> --skip 3    # skip the 3 warm-up ops

The log may be zstd-compressed (Spark's default); the `zstd` CLI decodes it.
Each SQL execution is assigned to a `Curation.pipeline` stage by its place
in the op: an op starts at the boilerplate cut (`removed_lines`), the
quality stage runs up to the survivor cut carrying `graft_score`, the
perplexity stage up to the URL stage (`graft_curl`), and shard stats
(`shard`) consume the result.
"""
import collections
import glob
import json
import subprocess
import sys

STAGES = ["boilerplate", "quality", "perplexity", "url_dedup", "consume", "survivor_ids_write"]


def read_events(d):
    path = (glob.glob(d + "/*/events_*") + glob.glob(d + "/events_*"))[0]
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
            execs[e["executionId"]] = dict(plan=p, start=len(p), upd=0, cpu=0.0)
            order.append(e["executionId"])
        elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["upd"] += len(e["physicalPlanDescription"])
        elif ev == "SparkListenerJobStart":
            x = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if x is not None:
                for s in e["Stage IDs"]:
                    stage_exec[s] = int(x)
        elif ev == "SparkListenerTaskEnd":
            x = stage_exec.get(e["Stage ID"])
            if x in execs:
                execs[x]["cpu"] += (e.get("Task Metrics") or {}).get("Executor CPU Time", 0) / 1e9

    state = "setup"
    ops = 0
    tot = collections.defaultdict(lambda: [0, 0.0, 0, 0, 0])
    for x in order:
        r = execs[x]
        p = r["plan"]
        if "removed_lines" in p:
            stage, state = "boilerplate", "quality"
            ops += 1
        elif "graft_curl" in p:
            stage, state = "url_dedup", "consume"
        elif "InsertIntoHadoopFsRelationCommand" in p:
            stage = "survivor_ids_write"
        elif "shard" in p:
            stage = "consume"
        else:
            stage = state
            if state == "quality" and "graft_score" in p:
                state = "perplexity"
        if ops <= skip:
            continue
        t = tot[stage]
        t[0] += 1
        t[1] += r["cpu"]
        t[2] += r["start"]
        t[3] += r["upd"]
        t[4] = max(t[4], r["start"])
    ops -= skip
    print("timed ops: %d (first %d skipped)" % (ops, skip))
    print("| stage | executions/op | task CPU s/op | plan description at start, KB/op "
          "| AQE update descriptions, KB/op | largest description at start, KB |")
    print("|---|---|---|---|---|---|")
    for s in STAGES:
        if s in tot:
            n, cpu, st, up, mx = tot[s]
            print("| %s | %.1f | %.3f | %.1f | %.1f | %.1f |"
                  % (s, n / ops, cpu / ops, st / ops / 1024, up / ops / 1024, mx / 1024))


if __name__ == "__main__":
    main()

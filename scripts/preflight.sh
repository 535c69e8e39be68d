#!/usr/bin/env bash
# End-of-round snapshot gate — run this BEFORE any snapshot/milestone
# commit that touches src/. Nothing enters a snapshot commit that has
# not just compiled AND passed ManifestSpec (which pins the oracle
# manifest count, queries/oracleSql keyset parity, and EXECUTES every
# registered query at sf0.001 inside sbt test).
#
# This exists because round 14's end-of-round snapshot (42f0df9) did
# not compile — one missing import, added in the final turns without a
# compile — and the driver's entire 142-query correctness artifact for
# the round came back empty. The guard for that failure class
# (ManifestSpec) already existed; it just wasn't run between the last
# edit and the commit. This script makes the ritual one command:
#
#   ./scripts/preflight.sh            # compile + ManifestSpec + the
#                                     # state specs + the benchmark
#                                     # smoke run
#   ./scripts/preflight.sh q142       # ... then spot-check one query
#                                     # end-to-end against DuckDB at
#                                     # sf0.001 (needs graft.Verify)
#
# The smoke run (perfbench/run.py --smoke) drives every benchmark
# workload on tiny inputs and checks each op against DuckDB, so the
# incremental-append (state load/merge/persist) and curation paths
# cannot regress unnoticed.
#
# Exit code 0 = safe to commit.
set -euo pipefail
cd "$(dirname "$0")/.."

# StateMergeLawsSpec, StateCodecSpec and FusionJobCountSpec pin the
# stored-state format (delta appends, runs, one tagged codec per state
# type, job counts): a state-format change breaks them, not ManifestSpec. DomainsSpec and CurationSpec pin URL canonicalization
# and the curation chain, including its 32 KiB plan-description bound.
# ClassifySpec and LangIdSpec pin the NB model bit for bit against a
# driver-side reference and its training cost (jobs, no cached relation
# in any plan, nothing pinned after release). RankingSpec, PackingSpec,
# MixingSpec, PpsSampleSpec, ProfilerKllSpec and PrefixScanSpec pin the
# prefix-offset operators (Ranking.prefixScan): exact results, and
# results that stay the same over repeated consumptions and pin nothing.
echo "[preflight] sbt Test/compile + ManifestSpec, StateMergeLawsSpec, StateCodecSpec, FusionJobCountSpec, DomainsSpec, CurationSpec, ClassifySpec, LangIdSpec, RankingSpec, PackingSpec, MixingSpec, PpsSampleSpec, ProfilerKllSpec, PrefixScanSpec..."
sbt -batch "Test/compile" \
  "testOnly graft.ManifestSpec graft.StateMergeLawsSpec graft.StateCodecSpec graft.FusionJobCountSpec graft.DomainsSpec graft.CurationSpec graft.ClassifySpec graft.LangIdSpec graft.RankingSpec graft.PackingSpec graft.MixingSpec graft.PpsSampleSpec graft.ProfilerKllSpec graft.PrefixScanSpec"

echo "[preflight] perfbench smoke run..."
python3 perfbench/run.py --smoke

if [[ $# -ge 1 ]]; then
  only="$1"
  sf="${2:-/root/testdata/sf0.001}"
  out="$(mktemp -d /tmp/graft_preflight.XXXXXX)"
  echo "[preflight] graft.Verify ($only) at $sf -> $out"
  sbt -batch "runMain graft.Verify $sf $out $only"
  echo "[preflight] DuckDB oracle replay..."
  python3 scripts/check_oracle.py "$out" "$sf"
  rm -rf "$out"
fi

echo "[preflight] OK — safe to commit."

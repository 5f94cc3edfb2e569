#!/bin/bash
# Round-closing gate — mechanizes the provenance rule NOTES.md states:
# a round snapshot is only valid if, AT THE CLOSING COMMIT,
#   1. the full ScalaTest suite exits 0,
#   2. a full Bench run covers EXACTLY SparkEntry.queries.keySet
#      (no query registered after the closing bench — the round-11
#      failure mode: 2 queries shipped unpriced and untested),
#   3. tools/check_bench.py exits 0 on that sidecar,
# and the resulting sidecar + a NOTES.md line recording the test count
# are part of the snapshot commit itself.
#
# Usage: tools/close_round.sh <round-number>
# Refuses to commit if any gate fails. Run AFTER the last query
# registration of the round; any later code change voids the snapshot
# (re-run the script).
set -euo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: tools/close_round.sh <round-number>}"
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"

if ! git diff --quiet || ! git diff --cached --quiet; then
  echo "close_round: uncommitted changes present — commit or stash first," \
       "the snapshot must describe a single tree" >&2
  git status --short >&2
  exit 1
fi

echo "=== gate 1/3: full test suite ==="
sbt -batch test 2>&1 | tee /tmp/close_round_test.log | grep -E \
  "Tests: succeeded|All tests passed|TESTS FAILED|error" | tail -5
TESTLINE=$(grep -E "^\[info\] Tests: succeeded" /tmp/close_round_test.log \
  | awk -F'[ ,]+' '{s+=$4; f+=$6} END {print s" passed, "f" failed"}')
if grep -qE "TESTS FAILED|\*\*\* FAILED \*\*\*" /tmp/close_round_test.log; then
  echo "close_round: test suite RED — refusing to snapshot" >&2
  exit 1
fi
echo "test suite: $TESTLINE"

echo "=== gate 2/3: full bench covering the whole registry ==="
# sbt prefixes runMain stdout with "[info] " — strip it before matching
sbt -batch "runMain graft.tools.QueryList" 2>/dev/null \
  | sed -E 's/^\[info\] //' | grep -E '^q[a-zA-Z0-9_]+$' | sort \
  > /tmp/close_round_registry.txt
if ! [ -s /tmp/close_round_registry.txt ]; then
  echo "close_round: QueryList produced an empty registry" >&2
  exit 1
fi
# remove the old sidecar first: a failed bench must surface as a
# missing file, never as a silently-stale artifact passing the checks
rm -f tools/bench_full_latest.json
# likewise every UNTRACKED per-core-count sidecar: the snapshot commit
# below adds tools/bench_full_latest_c*.json, which would otherwise sweep
# in a stale copy some earlier bench left behind. Tracked ones stay; the
# bench rewrites the one for its own core count.
git ls-files --others --exclude-standard -z -- 'tools/bench_full_latest_c*.json' \
  | xargs -0 -r rm -f --
SPARK_GRAFT_SF_DIR="$SF_DIR" sbt -batch "runMain graft.Bench" 2>&1 \
  | grep '"metric"' | tail -1 || true
python3 - <<'EOF'
import json, sys
side = json.load(open("tools/bench_full_latest.json"))
got = set(side["queries"])
want = set(l.strip() for l in open("/tmp/close_round_registry.txt") if l.strip())
missing, extra = want - got, got - want
if missing or extra:
    print(f"close_round: sidecar/registry mismatch — missing={sorted(missing)} "
          f"extra={sorted(extra)}", file=sys.stderr)
    sys.exit(1)
failed = {k: v for k, v in side.get("failed", {}).items()}
if failed:
    print(f"close_round: bench failures {failed}", file=sys.stderr)
    sys.exit(1)
print(f"bench: {len(got)} queries, total {side['value']}s wall / "
      f"{side['cpu_sec']}s cpu — covers the registry exactly")
EOF

echo "=== gate 3/3: per-query regression gate (WITH fresh-JVM adjudication) ==="
# The gate runs check_bench.py's clean-JVM rerun step and the snapshot
# commits the EVIDENCE: the gate transcript (tools/bench_gate_latest.log)
# and, when any query was flagged, the fresh-JVM partial sidecar
# (tools/bench_partial_latest.json). An auditor with no JVM can then
# verify exit 0 from committed artifacts alone — the r15 sidecar carried
# two >=2x flags that only an uncommitted sbt-backed rerun had cleared.
rm -f tools/bench_partial_latest.json
python3 tools/check_bench.py tools/bench_full_latest.json 2>&1 \
  | tee /tmp/close_round_gate.log
{
  echo "close_round gate transcript — round $ROUND, tree $(git rev-parse --short HEAD)+sidecar"
  echo "command: python3 tools/check_bench.py tools/bench_full_latest.json"
  echo "exit: 0 (close_round.sh aborts before committing on any nonzero gate)"
  echo "---"
  cat /tmp/close_round_gate.log
} > tools/bench_gate_latest.log

echo "=== all gates green: committing the snapshot ==="
HEADSHA=$(git rev-parse --short HEAD)
NQ=$(python3 -c "import json; print(len(json.load(open('tools/bench_full_latest.json'))['queries']))")
TOTAL=$(python3 -c "import json; print(json.load(open('tools/bench_full_latest.json'))['value'])")
ADJ="no flags, no adjudication needed"
if [ -f tools/bench_partial_latest.json ]; then
  ADJ="flagged queries adjudicated in a fresh JVM (bench_partial_latest.json committed)"
  git add tools/bench_partial_latest.json
fi
cat >> NOTES.md <<EOF

## Round $ROUND closing snapshot (tools/close_round.sh)

At tree $HEADSHA+sidecar: full suite $TESTLINE; closing bench covers
the full registry ($NQ queries, ${TOTAL}s wall at $SF_DIR);
check_bench.py exit 0 WITH the fresh-JVM adjudication step ($ADJ);
gate transcript committed as tools/bench_gate_latest.log.
EOF
# the per-core-count stamped copy (bench_full_latest_c<cpus>.json, r22)
# is part of the snapshot too: it is what survives the driver's
# second-core-count rerun clobbering the _latest artifact
git add tools/bench_full_latest.json tools/bench_full_latest_c*.json \
  tools/bench_gate_latest.log NOTES.md 2>/dev/null \
  || git add tools/bench_full_latest.json tools/bench_gate_latest.log NOTES.md
git commit -m "round $ROUND: closing snapshot (suite green, full-registry bench, adjudicated gate exit 0)"
echo "close_round: snapshot committed as $(git rev-parse --short HEAD)"

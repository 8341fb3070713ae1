#!/usr/bin/env bash
# Full local gate: specs -> correctness (DuckDB oracle) -> bench -> methodbench.
# Usage: tools/gate.sh [sf_correctness_dir] [sf_bench_dir]
set -euo pipefail
cd "$(dirname "$0")/.."

SF_CORRECT="${1:-/root/testdata/sf0.01}"
SF_BENCH="${2:-/root/testdata/sf0.1}"
OUT=$(mktemp -d /tmp/graft-gate.XXXX)
# numbers are only comparable at one core count: default to this host's
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"

echo "== specs =="
sbt -batch test 2>&1 | tee "$OUT/specs.log" | grep -E "Tests:|FAILED" | tail -2
# task results that arrive after their query's accumulators were
# cleaned up log this DAGScheduler error; the count shows a rise
echo "non-existent accumulator errors: $(grep -c 'non-existent accumulator' "$OUT/specs.log" || true)"
# ...and per suite: each line counts under the last ScalaTest suite
# header ("[info] FooSpec:") printed before it
awk '/^\[info\] [A-Za-z0-9_]+:$/ { suite = substr($2, 1, length($2) - 1) }
     /non-existent accumulator/ { n[suite == "" ? "(before any suite)" : suite]++ }
     END { for (s in n) printf "  %s: %d\n", s, n[s] }' "$OUT/specs.log" | sort
# the job counts of every auto arm and pair path, as JobCountSpec
# measured them: a moved count shows here even where its pin still holds
echo "JobCountSpec job counts:"
awk '/^\[info\] [A-Za-z0-9_]+:$/ { inJc = ($2 == "JobCountSpec:") }
     inJc && /^\[info\]   \+ .* jobs: / { sub(/^\[info\]   \+ /, "  "); print }' "$OUT/specs.log"

echo "== correctness ($SF_CORRECT) =="
if SPARK_GRAFT_CPUS="$CPUS" \
    sbt -batch "runMain graft.Verify $SF_CORRECT $OUT" > "$OUT/verify.log" 2>&1; then
  python3 tools/check.py "$SF_CORRECT" "$OUT" | tail -2
else
  echo "graft.Verify: FAILED (log: $OUT/verify.log)"
fi

echo "== bench ($SF_BENCH) =="
SPARK_GRAFT_SF_DIR="$SF_BENCH" SPARK_GRAFT_CPUS="$CPUS" \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"'

# the paper's own workload: an incremental method run, cold, no-op and refreshed
echo "== methodbench =="
for W in freq_heavy freq_wide; do
  if python3 methodbench/run.py --workload "$W" --seed 1 --seconds 10 --trace 0 \
      > "$OUT/methodbench-$W.json" 2> "$OUT/methodbench-$W.log"; then
    echo "$W: $(cat "$OUT/methodbench-$W.json")"
  else
    echo "$W: FAILED (log: $OUT/methodbench-$W.log)"
  fi
done
# one traced run: its Spark job counts show a regression in the jobs a
# refresh or a rebuild submits, which wall times on a shared host hide;
# its ledger read and plan times show one in a no-op's driver work
if python3 methodbench/run.py --workload freq_wide --seed 1 --seconds 10 --trace 1 \
    > "$OUT/methodbench-trace.json" 2> "$OUT/methodbench-trace.log"; then
  python3 -c 'import json, sys
m = json.loads(open(sys.argv[1]).read().splitlines()[-1])["metrics"]
print("freq_wide traced: " + ", ".join("%s %g" % (k, m[k]["value"]) for k in ("spark.refresh.jobs", "spark.rebuild.jobs", "runs.read_s", "stage.plan_s")))' \
    "$OUT/methodbench-trace.json"
else
  echo "freq_wide traced: FAILED (log: $OUT/methodbench-trace.log)"
fi

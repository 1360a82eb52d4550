#!/usr/bin/env bash
# Full local gate: compile, tests, oracle check at a scale factor, bench.
# Usage: tools/ci.sh [sf-dir]   (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.001}"
OUT=$(mktemp -d /tmp/graft-verify.XXXX)

echo "== compile + test =="
sbt -batch compile test

# the real job path: YAML -> DiffRunner -> journal -> ResultsApi, with
# every counter and read-back checked against the generator's values;
# dirty_full runs the full diff, clean_digest the digest_first prefilter.
# dirty_full runs traced: one diff job may submit at most MAX_JOBS Spark
# jobs (35 when journal reads stopped inferring schemas), so a new
# fixed per-job cost fails here
MAX_JOBS=35
for W in dirty_full clean_digest; do
  echo "== diff job end to end (perfbench $W smoke) =="
  TRACE=$([ "$W" = dirty_full ] && echo 1 || echo 0)
  LAST=$(python3 perfbench/run.py --workload "$W" --seed 1 --seconds 10 \
    --trace "$TRACE" | tail -n 1)
  echo "$LAST"
  python3 -c 'import json, sys
r = json.loads(sys.argv[1])
ok = r.get("correct") is True and r.get("failed") == 0
jobs = r.get("metrics", {}).get("spark.jobs", {}).get("value")
if jobs is not None and jobs > int(sys.argv[2]):
    print(f"spark.jobs {jobs:g} > {sys.argv[2]}")
    ok = False
sys.exit(0 if ok else 1)' "$LAST" "$MAX_JOBS"
done

echo "== verify vs duckdb oracle ($SF) =="
# strict: any query that throws or times out fails the local gate (the
# driver's own invocation is lenient-but-loud; see Verify.scala)
SPARK_GRAFT_VERIFY_STRICT=1 \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" sbt -batch "runMain graft.Verify $SF $OUT"
python3 tools/check_oracle.py "$SF" "$OUT"

echo "== bench ($SF) =="
REPORT="$OUT/bench_report.json"
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  SPARK_GRAFT_BENCH_OUT="$REPORT" sbt -batch "runMain graft.Bench" | grep '"metric"'
# every timed query also reports the Spark jobs its first repeat ran
python3 -c 'import json, sys
r = json.load(open(sys.argv[1]))
bad = [q for q in r["queries"] if r["footprint"].get(q, {}).get("jobs", 0) < 1]
print("queries without a job count:", bad or "none")
sys.exit(1 if bad else 0)' "$REPORT"

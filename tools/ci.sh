#!/usr/bin/env bash
# Full local gate: reachability, compile, tests, oracle check at a scale
# factor, bench.
# Usage: tools/ci.sh [sf-dir]   (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.001}"
OUT=$(mktemp -d /tmp/graft-verify.XXXX)

echo "== reachability =="
# every top-level definition of main Scala is reached from an entry
# point, perfbench or an allowlisted exception, and every non-private
# member is used outside its definition (reasons in the script)
python3 tools/check_reach.py

echo "== compile + test =="
# the suites delete every directory they make under the temp directory
# (/tmp, the forked test JVM's java.io.tmpdir): a run that leaves a
# graft-* or canary-* directory behind fails
leftovers() {
  find /tmp -mindepth 1 -maxdepth 1 -type d \( -name 'graft-*' -o -name 'canary-*' \) | wc -l
}
BEFORE=$(leftovers)
sbt -batch compile test
AFTER=$(leftovers)
if [ "$AFTER" -gt "$BEFORE" ]; then
  echo "tests left $((AFTER - BEFORE)) graft-*/canary-* directories under /tmp"
  exit 1
fi

# the real job path: YAML -> DiffRunner -> journal -> ResultsApi, with
# every counter and read-back checked against the generator's values;
# dirty_full runs the full diff, clean_digest the digest_first prefilter.
# Both run traced: one diff job may submit at most MAX_JOBS Spark jobs of
# its workload (dirty_full 16 and clean_digest 26 once reads learned
# schemas and run counts from parquet footers, the driver wrote the rows
# it holds and small journal reads were answered and counted on the
# driver), so a new fixed per-job cost fails here. Its journal may hold
# at most MAX_FILES files (14 on both workloads once a job's params were one
# job_summary row and every dataset was partitioned by job_id), so a
# layout change that adds a file per job fails here too. The oracle gate
# must check at least MIN_QUERIES queries, so a query record lost from
# the registry, or a SPARK_GRAFT_ONLY selection, fails instead of
# shrinking the gate
MIN_QUERIES=243
MAX_FILES=14
for W in dirty_full clean_digest; do
  echo "== diff job end to end (perfbench $W smoke) =="
  MAX_JOBS=$([ "$W" = dirty_full ] && echo 16 || echo 26)
  LAST=$(python3 perfbench/run.py --workload "$W" --seed 1 --seconds 10 \
    --trace 1 | tail -n 1)
  echo "$LAST"
  python3 -c 'import json, sys
r = json.loads(sys.argv[1])
ok = r.get("correct") is True and r.get("failed") == 0
for metric, bound in (("spark.jobs", sys.argv[2]), ("journal.files", sys.argv[3])):
    value = r.get("metrics", {}).get(metric, {}).get("value")
    if value is None or value > int(bound):
        print(f"{metric} {value} > {bound}")
        ok = False
sys.exit(0 if ok else 1)' "$LAST" "$MAX_JOBS" "$MAX_FILES"
done

echo "== verify vs duckdb oracle ($SF) =="
# strict: any query that throws or times out fails the local gate (the
# driver's own invocation is lenient-but-loud; see Verify.scala)
SPARK_GRAFT_VERIFY_STRICT=1 \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" sbt -batch "runMain graft.Verify $SF $OUT"
python3 tools/check_oracle.py "$SF" "$OUT" | tee "$OUT/check_oracle.log"
# every registered query dumped, and both oracle keys of each (bare and
# .parquet) passed
python3 -c 'import json, re, sys
v = json.load(open(sys.argv[1] + "/verify_failures.json"))
n, dumped, want = v["registered"], v["dumped"], int(sys.argv[2])
passed = int(re.search(r"== (\d+) pass", open(sys.argv[1] + "/check_oracle.log").read())[1])
ok = dumped == n and n >= want and passed == 2 * n
print(f"registered {n} (min {want}), dumped {dumped}, oracle passes {passed}")
sys.exit(0 if ok else 1)' "$OUT" "$MIN_QUERIES"

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

#!/usr/bin/env bash
# One-command reproduction of every gate the round driver applies:
#   1. full ScalaTest suite
#   2. Verify dump at sf0.01 + DuckDB oracle compare (the correctness gate)
#   3. perfbench generator self-test + one untraced curation run, which
#      must report "correct": true (the only gate that runs the stream
#      twins on the duplicate-heavy corpus against their oracles)
#   4. full Bench at sf0.1 + spread regression vs the committed baseline
# Run serially on purpose — two concurrent Spark JVMs taint every timing
# on this class of machine. ~20 min end to end.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "=== gate 0/4: bench-gate self-test (contention refusal) ==="
python3 tools/check_bench_regression.py --self-test

echo "=== gate 1/4: sbt test ==="
sbt -batch test

echo "=== gate 2/4: correctness (Verify + DuckDB oracle, sf0.01) ==="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gates_verify"
# third arg writes the load-marker-stamped JSON artifact (r16): commit it
# as CORRECTNESS_r<N>.json so the round closes with marker evidence
python3 tools/check_correctness.py /root/testdata/sf0.01 /tmp/gates_verify \
  /tmp/gates_correctness.json

echo "=== gate 3/4: repo benchmark correctness (perfbench curation) ==="
python3 perfbench/test_gen.py
python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0 \
  | tail -n 1 > /tmp/gates_perfbench.json
python3 -c 'import json, sys; r = json.load(open(sys.argv[1]))
print("perfbench curation: correct=%s failed=%s" % (r.get("correct"), r.get("failed")))
sys.exit(0 if r.get("correct") is True else 1)' /tmp/gates_perfbench.json

echo "=== gate 4/4: bench regression (sf0.1 vs BENCH_BASELINE.json) ==="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" \
  2>/dev/null | grep -o '{"metric".*}' > /tmp/gates_bench.json
python3 tools/check_bench_regression.py BENCH_BASELINE.json /tmp/gates_bench.json

# The round driver archives only the last ~2 KB of Bench stdout into
# BENCH_r<N>.json, which truncates the per-query map (r12/r13 verdict
# item). The COMPLETE artifact is BENCH_FULL.json (written by the Bench
# main itself); copy it to the per-round name so the committed history
# always carries a parseable full artifact. Round number from the env
# (GRAFT_ROUND=14 ./tools/run_gates.sh) or skipped.
if [[ -n "${GRAFT_ROUND:-}" ]]; then
  cp BENCH_FULL.json "BENCH_r$(printf '%02d' "$GRAFT_ROUND").json"
  echo "copied BENCH_FULL.json -> BENCH_r$(printf '%02d' "$GRAFT_ROUND").json"
fi

echo "=== all gates clean ==="

#!/bin/bash
# Re-measures a fixed list of heavy sf0.1/sf1/sf10 queries (the list at
# the bottom, at 32 cores and a 48g heap), each alone in its own sbt/JVM,
# so a heavy neighbor's GC debt cannot inflate the measurement (the same
# reason SCALING.md's drift investigation re-measured isolated).
# Appends one JSON line per run to $OUT. To time any one query alone:
#   SPARK_GRAFT_ONLY=<query> SPARK_GRAFT_ONLY_EXACT=1 sbt 'runMain graft.Bench'
set -u
OUT=${OUT:-/tmp/isolated_runs.jsonl}
# SPARK_GRAFT_ONLY is a prefix filter: without exact matching,
# `run ... q_text_quality_prune` would also time
# q_text_quality_prune_approx in the same JVM.
export SPARK_GRAFT_ONLY_EXACT=1
: > "$OUT"
run() {
  local sfdir=$1 q=$2
  # Remove any previous run's partial BEFORE invoking sbt: if this
  # invocation dies mid-query, a stale file would otherwise be
  # re-parsed and the previous query's numbers emitted under THIS
  # (sf, q) label instead of the intended 'no output' error line.
  rm -f BENCH_LOCAL_PARTIAL.json
  SPARK_GRAFT_SF_DIR="$sfdir" SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g \
    SPARK_GRAFT_ONLY="$q" sbt -batch "runMain graft.Bench" \
    > /tmp/iso_last.log 2>&1
  if [ -f BENCH_LOCAL_PARTIAL.json ]; then
    python3 - "$sfdir" "$q" >> "$OUT" <<'EOF'
import json, sys
d = json.load(open("BENCH_LOCAL_PARTIAL.json"))
# "first" = run 1 of the fresh JVM (the COLD-JIT mode); "queries" =
# median of the runs (the WARM mode). SCALING.md round 12 measured the
# two modes 2x apart at sf10 — emit BOTH so tables can name theirs.
# "cpu"/"gc" are the warm medians of process CPU and GC seconds.
print(json.dumps({"sf": sys.argv[1], "q": sys.argv[2],
                  "first": d.get("first", {}), "queries": d["queries"],
                  "spread": d["spread"], "cpu": d.get("cpu", {}),
                  "gc": d.get("gc", {}), "errors": d["errors"]}))
EOF
  else
    echo "{\"sf\": \"$sfdir\", \"q\": \"$q\", \"error\": \"no output\"}" >> "$OUT"
  fi
}
SF10=/root/repo/target/sf10
SF1=/root/repo/target/sf1
SF01=/root/testdata/sf0.1
run "$SF01" q_sim_semdedup_lsh
run "$SF1"  q_sim_semdedup_lsh
run "$SF1"  q_text_bm25_lake
run "$SF10" q_sim_semdedup_lsh
run "$SF10" q_join_star_revenue
run "$SF10" q_ev_sessionize
run "$SF10" q_sim_sorted_neighborhood
run "$SF10" q_profile_approx_distinct
run "$SF10" q_sim_dup_clusters
run "$SF10" q_corpus_clean
run "$SF10" q_text_quality_prune
run "$SF10" q_text_quality_prune_approx
echo DONE >> "$OUT"

#!/usr/bin/env bash
# Executor-loss fault injection (round 16, verdict item #5): run the
# iterative gates under local-cluster (separate executor JVMs) with
# reliable checkpointing enabled, and kill -9 one executor JVM while the
# jobs are mid-flight. The sweep proves the stageCheckpoint/release
# posture survives LIVE executor loss — lost blocks and shuffle files are
# recomputed from the reliable checkpoint, not from a lineage that was
# already released. The last four default gates persist shared-branch
# intermediates (stagePersist), whose lost blocks must recompute from
# lineage. Oracle-compare the outputs afterwards with
#   python3 tools/check.py <sfDir> <outDir> --skip-verify --json \
#     CORRECTNESS_faultinject.json <gates...>
#
# Usage: tools/faultinject.sh <sfDir> <outDir> [killAfterSecs] [gates...]
# The killer waits killAfterSecs (default 25) after the FIRST executor
# appears, kills one executor pid, logs it, then repeats once more 45 s
# later (two injections per sweep — one mid-early, one mid-late).
set -uo pipefail
cd "$(dirname "$0")/.."
SF="${1:?sfDir}"; OUT="${2:?outDir}"; KILL_AFTER="${3:-25}"; shift 3 || true
GATES=("$@")
if [ ${#GATES[@]} -eq 0 ]; then
  GATES=(q_ann_graph q_kcore q_bfs q_sssp q_topo_layers q_hierarchy \
         q_subtree_rollup q_pagerank q_dedup_clusters q_bpe_train \
         q_bpe_train_batched q_wordpiece_train q_semdedup q_unigram_train \
         q_dbscan q_containment_join q_dedup_ngram q_image_dedup)
fi
CKPT="${SPARK_GRAFT_CHECKPOINT_DIR:-/root/repo/.scratch/ckpt_fi}"
rm -rf "$CKPT"; mkdir -p "$CKPT" "$OUT"
export SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13
export SPARK_GRAFT_MASTER="${SPARK_GRAFT_MASTER:-local-cluster[2,4,6144]}"
export SPARK_GRAFT_CHECKPOINT_DIR="$CKPT"

tools/run_main.sh graft.Verify "$SF" "$OUT" "${GATES[@]}" \
  > "$OUT/verify.log" 2>&1 &
VPID=$!

inject() {  # $1 = which injection (for the log)
  # executors are CoarseGrainedExecutorBackend JVMs forked by the
  # local-cluster workers — children of our Verify driver tree only
  # (pgrep -f pattern is NOT in this script's own argv: kill by pid)
  local expids
  expids=$(pgrep -f CoarseGrainedExecutorBackend || true)
  if [ -z "$expids" ]; then echo "inject$1: no executor found" ; return 1; fi
  local victim
  victim=$(echo "$expids" | head -1)
  kill -9 "$victim" && echo "inject$1: killed executor pid $victim" \
    "(of: $(echo $expids | tr '\n' ' '))"
  return 0
}

# wait for the first executor JVM to appear (cluster spin-up)
for _ in $(seq 1 60); do
  pgrep -f CoarseGrainedExecutorBackend >/dev/null 2>&1 && break
  kill -0 $VPID 2>/dev/null || break
  sleep 2
done
sleep "$KILL_AFTER"
kill -0 $VPID 2>/dev/null && inject 1
sleep 45
kill -0 $VPID 2>/dev/null && inject 2

wait $VPID
RC=$?
echo "verify exit=$RC; outputs in $OUT (log: $OUT/verify.log)"
grep -c 'failed:' "$OUT/verify.log" && echo "(per-query failures above)" || true
exit $RC

#!/usr/bin/env bash
# Clean-window bench capture harness: the host's hypervisor steal
# comes in multi-minute bursts (r11: captures at steal 200 and 802 s
# vs a 17.9 s clean window an hour later), so a single launch is a
# coin flip. This wrapper (a) refuses to launch until a 60 s steal
# sample projects a clean run, (b) reads steal_sec out of the capture
# it just made, and (c) retries until the capture lands under the
# evidence bar, keeping the lowest-steal capture seen so far.
#
# Usage: tools/quiet_bench.sh <out.json> [max_attempts] [steal_bar_s]
#        SPARK_GRAFT_BENCH_FILTER passes through for family captures.
set -uo pipefail
cd "$(dirname "$0")/.."

OUT=${1:?usage: quiet_bench.sh <out.json> [max_attempts] [steal_bar]}
MAX=${2:-6}
BAR=${3:-60}
SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}

steal_now() { awk '/^cpu /{print $9}' /proc/stat; }

# refuse to launch into a visibly stolen window: sample 60 s and
# require the projected full-run steal (~25 min) to fit half the bar
wait_for_quiet() {
  while true; do
    local s0 s1 rate proj
    s0=$(steal_now); sleep 60; s1=$(steal_now)
    rate=$(( s1 - s0 ))                    # jiffies/min (USER_HZ=100)
    proj=$(( rate * 25 / 100 ))            # seconds over a 25-min run
    echo "[quiet_bench] steal ${rate} jiffies/min -> ~${proj}s/25min"
    if [ "$proj" -le $(( BAR / 2 )) ]; then return 0; fi
    echo "[quiet_bench] window too noisy, re-sampling in 120s"
    sleep 120
  done
}

best_steal=999999
for i in $(seq 1 "$MAX"); do
  wait_for_quiet
  echo "[quiet_bench] attempt $i/$MAX launching"
  SPARK_GRAFT_SF_DIR="$SF_DIR" \
    SPARK_GRAFT_BENCH_REPS="${SPARK_GRAFT_BENCH_REPS:-3}" \
    SPARK_GRAFT_BENCH_OUT=/tmp/quiet_bench_try.json \
    sbt -batch "runMain graft.Bench" > "/tmp/quiet_bench_$i.log" 2>&1
  rc=$?
  if [ $rc -ne 0 ]; then
    echo "[quiet_bench] attempt $i: bench FAILED rc=$rc (see /tmp/quiet_bench_$i.log)"
    continue
  fi
  steal=$(python3 -c "import json;print(int(json.load(open('/tmp/quiet_bench_try.json'))['steal_sec']))")
  echo "[quiet_bench] attempt $i: steal_sec=$steal (bar $BAR)"
  if [ "$steal" -lt "$best_steal" ]; then
    best_steal=$steal
    cp /tmp/quiet_bench_try.json "$OUT"
  fi
  if [ "$steal" -le "$BAR" ]; then
    echo "[quiet_bench] CLEAN capture at steal_sec=$steal -> $OUT"
    exit 0
  fi
done
echo "[quiet_bench] no clean window in $MAX attempts; best steal_sec=$best_steal kept in $OUT"
exit 2

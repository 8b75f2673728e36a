#!/usr/bin/env bash
# Steal-gated filtered bench probe for A/B optimization measurement:
# waits for a quiet 30 s window, runs a filtered bench, prints the
# per-query med/min plus the capture's steal. Usage:
#   tools/ab_probe.sh <filter> <out.json> [reps]
set -uo pipefail
cd "$(dirname "$0")/.."
FILTER=${1:?filter}
OUT=${2:?out}
REPS=${3:-3}
BAR=${AB_STEAL_BAR:-60}
TRIES=${AB_TRIES:-4}
steal_now() { awk '/^cpu /{print $9}' /proc/stat; }
ok=0
for t in $(seq 1 "$TRIES"); do
  while true; do
    s0=$(steal_now); sleep 30; s1=$(steal_now)
    if [ $(( s1 - s0 )) -le 30 ]; then break; fi
    echo "[ab] noisy ($((s1-s0)) j/30s), waiting"
    sleep 60
  done
  SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
    SPARK_GRAFT_BENCH_REPS="$REPS" \
    SPARK_GRAFT_BENCH_FILTER="$FILTER" SPARK_GRAFT_BENCH_OUT="$OUT" \
    sbt -batch "runMain graft.Bench" > /tmp/ab_probe.log 2>&1
  rc=$?
  if [ $rc -ne 0 ]; then echo "[ab] bench rc=$rc"; tail -5 /tmp/ab_probe.log; exit $rc; fi
  steal=$(python3 -c "import json;print(int(json.load(open('$OUT'))['steal_sec']))")
  if [ "$steal" -le "$BAR" ]; then ok=1; break; fi
  echo "[ab] capture steal=$steal > bar $BAR, retrying ($t/$TRIES)"
done
[ $ok -eq 1 ] || echo "[ab] WARNING: no capture under bar $BAR in $TRIES tries (kept last)"
python3 - "$OUT" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
for k in sorted(d["queries"]):
    print(f"{k:34s} med={d['queries'][k]:7.3f} min={d['queries_min'][k]:7.3f} suite={d.get('queries_suite',{}).get(k,-1):7.3f}")
print(f"steal={d['steal_sec']} canary={d['canary_sec']}/{d['canary_end_sec']} load={d['loadavg_start']}->{d['loadavg_end']}")
EOF

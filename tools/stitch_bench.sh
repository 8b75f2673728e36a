#!/usr/bin/env bash
# Stitched bench capture: the host's quiet windows are shorter than a
# full-surface run (~25 min), but each FAMILY capture is 1-5 min and
# fits. Run one filtered bench per family, each gated on ITS OWN
# steal_sec reading (retried until clean), then merge into one JSON
# whose per-family honesty fields make the stitching auditable —
# the fallback the r11 verdict prescribes when the host stays
# saturated.
#
# Usage: tools/stitch_bench.sh <out.json> [per_family_steal_bar_s]
set -uo pipefail
cd "$(dirname "$0")/.."

OUT=${1:?usage: stitch_bench.sh <out.json> [steal_bar]}
BAR=${2:-8}
SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
TRIES=${STITCH_TRIES:-5}

# prefix-disjoint cover of the whole query surface (Bench's filter is
# a startsWith match); 'q' covers q1..q22 + q_* relational/events.
# STITCH_FAMILIES overrides (space-separated) for priority reordering.
DEFAULT_FAMILIES="ann_ basket_,dedup_ emb_,er_,search_ events_ graph_ mm_,mr_ pipeline_,sample_ profile_ q snapshot_ text_ avro_"
read -r -a FAMILIES <<< "${STITCH_FAMILIES:-$DEFAULT_FAMILIES}"

steal_now() { awk '/^cpu /{print $9}' /proc/stat; }

wait_quiet() {
  while true; do
    local s0 s1
    s0=$(steal_now); sleep 30; s1=$(steal_now)
    # <= 0.6 s/min projects ~3 s over a 5-min family run
    if [ $(( s1 - s0 )) -le 30 ]; then return 0; fi
    echo "[stitch] noisy ($((s1 - s0)) j/30s), waiting"
    sleep 90
  done
}

mkdir -p /tmp/stitch
for fam in "${FAMILIES[@]}"; do
  tag=$(echo "$fam" | tr ',' '+')
  # resumable: a family whose capture already landed under the bar is
  # done — an interrupted stitch re-run picks up where it stopped
  if [ -f "/tmp/stitch/$tag.json" ]; then
    prev=$(python3 -c "import json;print(int(json.load(open('/tmp/stitch/$tag.json'))['steal_sec']))" 2>/dev/null || echo 999999)
    if [ "$prev" -le "$BAR" ]; then
      echo "[stitch] $fam already clean (steal_sec=$prev), skipping"
      continue
    fi
  fi
  ok=0
  for t in $(seq 1 "$TRIES"); do
    wait_quiet
    echo "[stitch] $fam try $t"
    SPARK_GRAFT_SF_DIR="$SF_DIR" \
      SPARK_GRAFT_BENCH_REPS="${SPARK_GRAFT_BENCH_REPS:-3}" \
      SPARK_GRAFT_BENCH_FILTER="$fam" \
      SPARK_GRAFT_BENCH_OUT="/tmp/stitch/try_$tag.json" \
      sbt -batch "runMain graft.Bench" > "/tmp/stitch/$tag.log" 2>&1
    rc=$?
    if [ $rc -ne 0 ]; then echo "[stitch] $fam FAILED rc=$rc"; continue; fi
    steal=$(python3 -c "import json;print(int(json.load(open('/tmp/stitch/try_$tag.json'))['steal_sec']))")
    echo "[stitch] $fam steal_sec=$steal (bar $BAR)"
    # keep the BEST capture seen, not the last
    prev=$(python3 -c "import json;print(int(json.load(open('/tmp/stitch/$tag.json'))['steal_sec']))" 2>/dev/null || echo 999999)
    if [ "$steal" -lt "$prev" ]; then
      cp "/tmp/stitch/try_$tag.json" "/tmp/stitch/$tag.json"
    fi
    if [ "$steal" -le "$BAR" ]; then ok=1; break; fi
  done
  if [ $ok -ne 1 ]; then
    echo "[stitch] $fam: no clean window in $TRIES tries (kept best)"
  fi
done
rm -f /tmp/stitch/try_*.json

# merge ONLY the tags of the current FAMILIES split — stale /tmp/stitch
# captures from an earlier run (different code revision or a different
# STITCH_FAMILIES) must not merge silently into this stitched output
TAGS=()
for fam in "${FAMILIES[@]}"; do TAGS+=("$(echo "$fam" | tr ',' '+')"); done

python3 - "$OUT" "${TAGS[@]}" <<'EOF'
import json, os, sys
out = sys.argv[1]
tags = sys.argv[2:]
merged = {"metric": "bench_stitched", "unit": "sec", "sf": None,
          "cpus": None, "reps": None, "families": {}, "queries": {},
          "queries_min": {}, "queries_suite": {}, "n_ok": 0,
          "n_failed": 0, "failed": []}
missing = [t for t in tags if not os.path.exists(f"/tmp/stitch/{t}.json")]
if missing:
    print(f"[stitch] WARNING: no capture for families: {missing}")
for fam in sorted(tags):
    p = f"/tmp/stitch/{fam}.json"
    if not os.path.exists(p):
        continue
    d = json.load(open(p))
    merged["sf"] = d.get("sf"); merged["reps"] = d.get("reps")
    merged["cpus"] = d.get("cores")
    merged["families"][fam] = {
        "steal_sec": d.get("steal_sec"), "n_ok": d.get("n_ok"),
        "n_failed": d.get("n_failed"), "suite_sec": d.get("suite_sec"),
        "canary_sec": d.get("canary_sec"),
        "canary_end_sec": d.get("canary_end_sec"),
        "loadavg_start": d.get("loadavg_start"),
        "loadavg_end": d.get("loadavg_end")}
    merged["n_ok"] += d.get("n_ok", 0)
    merged["n_failed"] += d.get("n_failed", 0)
    merged["failed"] += d.get("failed", [])
    for k in ("queries", "queries_min", "queries_suite"):
        merged[k].update(d.get(k) or {})
merged["value"] = round(sum(merged["queries"].values()), 3)
merged["total_min"] = round(sum(merged["queries_min"].values()), 3)
merged["n_queries"] = len(merged["queries"])
# a capture missing steal_sec (older Bench revision) reads as
# un-gated evidence, not a TypeError: default it high and visible
merged["max_family_steal"] = max(
    (f["steal_sec"] if f.get("steal_sec") is not None else 999999)
    for f in merged["families"].values()) if merged["families"] else None
json.dump(merged, open(out, "w"), indent=1)
print(f"[stitch] wrote {out}: {merged['n_queries']} queries, "
      f"total {merged['value']}s, max family steal "
      f"{merged['max_family_steal']}s")
EOF

#!/usr/bin/env bash
# Scaling probe: measure the documents-family operators on 1x / 2x / 4x
# replica-salted corpora (tools/scaling_probe.py) and report the wall
# ratios. Replicas share no shingles, so growth is the natural-content
# regime — a bucket-shaped operator should scale ~linearly (ratio ~= K
# plus the fixed session/stage floor), while an accidental all-pairs
# shape would blow up ~K^2. The per-query numbers land in
# /tmp/scale_bench_K.json (full bench JSON with forensics fields).
#
# Usage: tools/scaling_probe.sh [quick]
#   quick = 1x/2x only, 1 rep, dedup family only — the standing-gate
#   regression tripwire (exits nonzero if any 2x/1x min-wall ratio
#   exceeds 3.0, where linear is ~2 and all-pairs is ~4); the full
#   1x/2x/4x run stays the ad-hoc measurement tool.
#   basket / graph = the same 1x/2x tripwire over the basket-pair and
#   iterative-graph families (disjoint salted universes/replicas) —
#   a quadratic wedge/candidate regression fails the gate the round
#   it lands, same 3.0 trip line.
#   graph4 / dedup8 = deeper rungs (1x/2x/4x, 1x..8x) for the
#   iterative-graph and dedup families, trip lines 6.0 / 12.0 on the
#   top-rung/1x ratio — the floor-dominated 2x step can't separate
#   linear from superlinear for these.
set -euo pipefail
cd "$(dirname "$0")/.."

MODE=${1:-full}
if [ "$MODE" = "quick" ]; then
  KS="1 2"
  OPS=${SCALING_OPS:-dedup_exact,dedup_ngram_jaccard,dedup_minhash_lsh,dedup_simhash,dedup_substring,dedup_components,dedup_containment,dedup_prefix_filter}
  REPS=${SCALING_REPS:-1}
elif [ "$MODE" = "basket" ]; then
  # basket family on K disjoint basket universes (salted partkeys):
  # per-order pair generation is map-side from bounded basket arrays,
  # so the pair volume and every downstream aggregate double with K —
  # linear-with-floor expected; a quadratic wedge or candidate blowup
  # would show ~K^2
  KS="1 2"
  OPS=${SCALING_OPS:-graph_linkpred,basket_rules,snapshot_scd2,profile_mi,profile_benford}
  REPS=${SCALING_REPS:-1}
elif [ "$MODE" = "linkage" ]; then
  # FastSS linkage on K disjoint name universes (3-char replica-letter
  # prefixes: no variant bucket and no <= tau pair crosses replicas):
  # variant fan-out and candidate volume double with K — linear with
  # floor expected; a candidate or verify blowup shows ~K^2
  KS="1 2"
  OPS=${SCALING_OPS:-er_fuzzy_names,er_qgram_names,er_canonical}
  REPS=${SCALING_REPS:-1}
elif [ "$MODE" = "graph" ]; then
  # iterative-graph family on K disjoint trading-graph replicas
  # (salted fact keys): per-round shuffle doubles, round counts stay
  # fixed, so linear-with-floor is the expected slope; an accidental
  # cross-join in pair generation would blow up ~K^2
  KS="1 2"
  OPS=${SCALING_OPS:-graph_triangles,graph_components,graph_kcore,graph_kcore_weighted,graph_pagerank,graph_pagerank_weighted,graph_pagerank_resume,graph_communities,graph_communities_sweep,graph_sssp,graph_coreness,graph_assortativity,graph_clustering}
  REPS=${SCALING_REPS:-1}
elif [ "$MODE" = "graph4" ]; then
  # SECOND RUNG for the iterative round-loop families: 1x/2x/4x on
  # components / pagerank / coreness (the rounds × one-shuffle
  # claim's hardest cases). Disjoint replicas keep round counts
  # fixed, so both steps should read ~linear-with-floor: 4x/1x ~4
  # (trip line 6.0), and a 4x/2x step that jumps well past the 2x/1x
  # step would expose super-linear growth the single-step probe
  # can't see.
  KS="1 2 4"
  OPS=${SCALING_OPS:-graph_components,graph_pagerank,graph_coreness,dedup_components}
  REPS=${SCALING_REPS:-1}
elif [ "$MODE" = "dedup16" ]; then
  # FOURTH RUNG (r13): 1x/4x/16x. The r12 dedup8 probe ran its 1x/8x
  # rungs under steal 243/223 s, inflating the top ratios; the 16x
  # point with 4x steps quadruples the signal-to-floor ratio again
  # AND re-reads the components-resume adjudication pair (resume must
  # not scale worse than the cold run — the r12 watch item). Linear-
  # with-floor reads ~16 on the 16x/1x wall (trip 24.0), quadratic
  # ~256.
  KS="1 4 16"
  OPS=${SCALING_OPS:-dedup_exact,dedup_minhash_lsh,dedup_components,dedup_components_resume}
  REPS=${SCALING_REPS:-1}
elif [ "$MODE" = "dedup8" ]; then
  # THIRD RUNG for the dedup family: 1x/2x/4x/8x. graph4's heaviest
  # 4x ratios were dedup_components (2.50/2.79 against a linear-4
  # yardstick) — under the trip line but closest to it, and the fixed
  # session/stage floor can mask pair-growth superlinearity at small
  # K. The 8x point quadruples the signal-to-floor ratio: linear-
  # with-floor reads ~8 on the 8x/1x wall (trip 12.0), a quadratic
  # candidate/pair shape would read ~64.
  KS="1 2 4 8"
  OPS=${SCALING_OPS:-dedup_exact,dedup_ngram_jaccard,dedup_minhash_lsh,dedup_components}
  REPS=${SCALING_REPS:-1}
else
  KS="1 2 4"
  OPS=${SCALING_OPS:-dedup_exact,dedup_ngram_jaccard,dedup_minhash_lsh,dedup_simhash,dedup_substring,dedup_components,dedup_containment,text_tfidf,pipeline_clean,mr_wordcount,pipeline_decontam,q_sessionize,q_funnel,q_range_join,q_asof_join,q_gap_fill,events_markov,events_retention,events_attribution,events_changepoint,events_rfm,events_paths}
  REPS=${SCALING_REPS:-2}
fi

for K in $KS; do
  dir=/tmp/scale_$K
  rm -rf "$dir"
  python3 tools/scaling_probe.py "$K" "$dir"
  SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_BENCH_REPS="$REPS" \
    SPARK_GRAFT_BENCH_FILTER="$OPS" \
    SPARK_GRAFT_BENCH_OUT=/tmp/scale_bench_$K.json \
    sbt -batch "runMain graft.Bench" > /tmp/scale_bench_$K.log 2>&1
done

MODE="$MODE" python3 - <<'EOF'
import json, os, sys
quick = os.environ["MODE"] in ("quick", "basket", "linkage", "graph",
                               "graph4", "dedup8", "dedup16")
ks = {"full": (1, 2, 4), "graph4": (1, 2, 4),
      "dedup8": (1, 2, 4, 8),
      "dedup16": (1, 4, 16)}.get(os.environ["MODE"], (1, 2))
# multi-rung modes trip on the topK/1x ratio: linear-with-floor reads
# ~K, quadratic ~K^2 — each trip line keeps the same ~1.5x headroom
# the 2-rung modes give their 3.0 line
trip = {"graph4": 6.0, "dedup8": 12.0,
        "dedup16": 24.0}.get(os.environ["MODE"], 3.0)
runs = {k: json.load(open(f"/tmp/scale_bench_{k}.json")) for k in ks}
qs = sorted(runs[1]["queries"])
hdr = " ".join(f"{k}x".rjust(7) for k in ks)
print(f"{'operator':24s} {hdr} {'ratio':>6s}")
bad = []
for q in qs:
    t = [runs[k]["queries_min"][q] for k in ks]
    ratio = t[-1] / t[0]
    print(f"{q:24s} " + " ".join(f"{x:7.2f}" for x in t) + f" {ratio:6.2f}")
    # tripwire: K-x data in > trip-x wall smells quadratic
    # (linear ~K incl. fixed floor; all-pairs ~K^2)
    if quick and ratio > trip:
        bad.append((q, ratio))
tot = [sum(runs[k]["queries_min"].values()) for k in ks]
print(f"{'TOTAL (min-of-reps)':24s} " + " ".join(f"{x:7.2f}" for x in tot)
      + f" {tot[-1]/tot[0]:6.2f}")
print("loadavg:", [(runs[k]['loadavg_start'], runs[k]['loadavg_end']) for k in ks])
print("steal_sec per rung:", {k: runs[k].get('steal_sec') for k in ks})
if quick:
    if bad:
        print("SCALING FAIL:", ", ".join(f"{q} ratio={r:.2f}" for q, r in bad))
        sys.exit(1)
    print(f"SCALING OK: all ratios <= {trip}")
EOF

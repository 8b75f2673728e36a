#!/bin/bash
# One-command local gate: one session builder, compile, specs, 3-SF
# oracle verify (plus a partition-invariance pass), bench.
# Usage: tools/gate.sh [quick]   (quick = sf0.01 verify only, no bench)
set -e
set -o pipefail
cd "$(dirname "$0")/.."

# One session builder: every main and the test base go through
# graft.core.GraftSession, so a second SparkSession.builder under src/
# is a config copy that will drift from it.
echo "=== one session builder ==="
builders=$(grep -rn "SparkSession.builder" src/ | grep -v "^src/main/scala/graft/core/GraftSession.scala:" || true)
if [ -n "$builders" ]; then
  echo "SparkSession.builder outside GraftSession.scala:"
  echo "$builders"
  exit 1
fi

# One cache owner: PlanCache (cross-query memo) and WorkingSet (per
# scope) are the only places a frame is cached, so every cached frame
# has an owner that releases it.
echo "=== one cache owner ==="
caches=$(grep -rnE '\.(cache|persist)\(' src/main/scala/graft \
  | grep -vE '^src/main/scala/graft/core/(PlanCache|WorkingSet)\.scala:' || true)
if [ -n "$caches" ]; then
  echo ".cache()/.persist() outside PlanCache.scala and WorkingSet.scala:"
  echo "$caches"
  exit 1
fi

# One SQL twin per kernel: the DuckDB oracles take their tokens, base
# hash and word n-grams from the `…Sql` twin beside the Spark kernel
# (PortableHash.h60Sql, Shingles.tokensSql/nGramsSql/grams3Cte,
# TokenCol.letterTokensSql), so a hand copy of that SQL elsewhere can
# drift. Scaladoc lines that name the SQL form are exempt.
echo "=== one SQL twin per kernel ==="
twins=$(grep -rnE "substring\(md5\(|string_split_regex\(|list_transform\(range\(1, len\(t\)|t\[i\] \|\| ' ' \|\| t\[i\+1\]" \
    src/main/scala \
  | grep -vE '^src/main/scala/graft/functions/(PortableHash|Shingles|TokenUtil)\.scala:' \
  | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(/\*\*|\*)' || true)
if [ -n "$twins" ]; then
  echo "kernel SQL outside its twin (PortableHash/Shingles/TokenUtil.scala):"
  echo "$twins"
  exit 1
fi

# One similarity-join kernel: the Hamming chunk probe, the postings
# intersection and the threshold-bank count live in graft.core.SimJoin,
# each beside its DuckDB twin, so a chunk-key self-join, an xor verify
# or a bank-join CTE elsewhere is a second copy. Scaladoc lines are
# exempt, and so is Dedup's SimhashSparkSql: the dedup_simhash_sql
# query types the probe as plain Spark SQL on purpose, to gate the SQL
# surface against the same oracle.
echo "=== one similarity-join kernel ==="
sqlSurface=$(awk '/val SimhashSparkSql/ {on = 1} on {print FILENAME ":" FNR ":"}
    on && /"""$/ {on = 0}' src/main/scala/graft/operators/Dedup.scala)
probes=$(grep -rnE 'bit_count\(xor\(|a\.ck = b\.ck|col\("a\.ck"\) === col\("b\.ck"\)|JOIN tb ON|LEFT JOIN pairs p ON|s2\.n - i\.inter' \
    src/main/scala \
  | grep -vE '^src/main/scala/graft/core/SimJoin\.scala:' \
  | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(/\*\*|\*)' \
  | grep -vF -e "${sqlSurface:-no SQL surface twin}" || true)
if [ -n "$probes" ]; then
  echo "similarity-join step outside core/SimJoin.scala:"
  echo "$probes"
  exit 1
fi

# One vector-search kernel: the hash-seed rule, the integer quantizer
# and the centroid argmin live in Cluster (hashSeedRows, quantizedCtes,
# nearestCentroidCtes), the cell probe and the per-query top-k in Ann
# (ivfProbeCtes, topkSql), each beside its Spark kernel, and every
# oracle interpolates the query-set size; a copy outside those
# definitions is a second home that can drift. Scaladoc lines are
# exempt, and so is Ann's BruteforceSparkSql: ann_bruteforce_sql types
# its query as plain Spark SQL on purpose.
echo "=== one vector-search kernel ==="
homes=$(awk '
    FILENAME ~ /Cluster\.scala$/ &&
      /(def|val) (hashSeedRows|quantizedCtes|nearestCentroidCtes)[^A-Za-z0-9]/ {on = 1}
    FILENAME ~ /Ann\.scala$/ &&
      /(def|val) (ivfProbeCtes|topkSql|BruteforceSparkSql)[^A-Za-z0-9]/ {on = 1}
    on && /^[[:space:]]*$/ {on = 0}
    on {print FILENAME ":" FNR ":"}' \
    src/main/scala/graft/operators/Cluster.scala src/main/scala/graft/operators/Ann.scala)
kernels=$(grep -rnE 'ORDER BY dist, cid|floor\(x \* |ce\) DESC|PARTITION BY qid|orderBy\(col\("h"\), col\("vec_id"\)\)|vec_id < 10' \
    src/main/scala \
  | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(/\*\*|\*)' \
  | grep -vF -e "${homes:-no kernel homes}" || true)
if [ -n "$kernels" ]; then
  echo "vector-search kernel step outside its home in Cluster.scala/Ann.scala:"
  echo "$kernels"
  exit 1
fi

# One token definition: the Scala word tokenizers scan bytes with
# TokenUtil's class test, so a java.util.regex letter split is a
# second definition (and the path measured 40x slower).
echo "=== one token definition ==="
splits=$(grep -rnF 'split("[^A-Za-z' src/main/scala || true)
if [ -n "$splits" ]; then
  echo "regex letter split outside TokenUtil's byte scan:"
  echo "$splits"
  exit 1
fi

# One query registry: each query's build and DuckDB oracle are declared
# together as a graft.core.Query beside its operator; SparkEntry only
# concatenates the owners' lists, so SQL text there is a second home.
echo "=== one query registry ==="
entrySql=$(grep -nE '"""|SELECT' src/main/scala/graft/SparkEntry.scala || true)
if [ -n "$entrySql" ]; then
  echo "SQL text in SparkEntry.scala (declare it in the operator's queries):"
  echo "$entrySql"
  exit 1
fi

echo "=== sbt test ==="
sbt -batch test 2>&1 | grep -E "Tests:|\*\*\*" | tail -2

sfs="0.001 0.01 0.1"
[ "$1" = "quick" ] && sfs="0.01"
for sf in $sfs; do
  out=/tmp/gate_v$sf
  rm -rf "$out"
  echo "=== verify sf$sf ==="
  SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify /root/testdata/sf$sf $out" > /dev/null 2>&1
  python3 tools/check.py "/root/testdata/sf$sf" "$out" | tail -1
done

# Unicode parity pass: the full surface again over the deterministic
# multi-script documents table (tools/unicode_testdata.py) — the
# driver's corpus is pure ASCII, so engine divergences that only fire
# on multi-byte text (unicode trim, one-to-many case mappings,
# byte-vs-codepoint probes) are only visible HERE.
echo "=== verify unicode corpus ==="
tools/unicode_gate.sh | tail -2

# Partition-invariance pass: the whole surface again at an unrelated
# CPU count / shuffle-partition setting, hash-checked against the same
# oracle. Any operator whose result depends on partitioning, merge
# order, or per-partition evaluation order (the fixed-point loops, the
# sketch merges, sampling) fails HERE even while the 8-CPU run is
# green — the class of bug a single-configuration gate cannot see.
echo "=== verify sf0.01 @ 5 cpus (partition invariance) ==="
rm -rf /tmp/gate_v5cpu
SPARK_GRAFT_CPUS=5 sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_v5cpu" > /dev/null 2>&1
python3 tools/check.py /root/testdata/sf0.01 /tmp/gate_v5cpu | tail -1

if [ "$1" != "quick" ]; then
  # standing scaling tripwire: 1x vs 2x replica-salted corpora on the
  # dedup family — an accidental all-pairs regression shows ~4x here
  # and fails the gate the round it lands (scaling_probe.sh quick
  # exits nonzero past a 3.0 ratio)
  echo "=== scaling probe (2x quick) ==="
  tools/scaling_probe.sh quick | tail -12

  # same tripwire over the basket-pair and iterative-graph families:
  # wedge/candidate generation regressing to quadratic shows ~4x on
  # 2x disjoint replicas and fails the gate the round it lands
  echo "=== scaling probe (2x basket) ==="
  tools/scaling_probe.sh basket | tail -9
  echo "=== scaling probe (2x graph) ==="
  tools/scaling_probe.sh graph | tail -17
  # FastSS linkage: variant/candidate volume must scale ~linearly on
  # disjoint name universes (quadratic fan-out trips the same 3.0 line)
  echo "=== scaling probe (2x linkage) ==="
  tools/scaling_probe.sh linkage | tail -5

  # contention guard: a closing bench stamped on a loaded box is not a
  # record anyone can compare across rounds (BENCH_r06's 122 s vs the
  # idle-box 69 s). Refuse to stamp when 1-min loadavg > 1.5, after one
  # cooldown retry.
  load=$(cut -d' ' -f1 /proc/loadavg)
  if ! awk -v l="$load" 'BEGIN { exit !(l <= 1.5) }'; then
    echo "loadavg $load > 1.5 — cooling down 180 s before the closing bench"
    sleep 180
    load=$(cut -d' ' -f1 /proc/loadavg)
    if ! awk -v l="$load" 'BEGIN { exit !(l <= 1.5) }'; then
      echo "REFUSING to stamp closing bench: loadavg still $load > 1.5" \
        "— rerun 'tools/gate.sh' when the box is idle"
      exit 2
    fi
  fi
  # steal guard: loadavg only sees THIS VM's run queue — every r8
  # capture carried 88-687 stolen CPU-seconds from host neighbors and
  # the round's per-query deltas were unattributable. Sample
  # /proc/stat steal (col 9, USER_HZ=100) over 30 s; > 1 steal-sec in
  # the window ⇒ the host is noisy right now — one cooldown retry,
  # then refuse, same contract as the loadavg gate.
  steal_rate() {
    s0=$(awk '/^cpu /{print $9; exit}' /proc/stat); sleep 30
    s1=$(awk '/^cpu /{print $9; exit}' /proc/stat)
    awk -v a="$s0" -v b="$s1" 'BEGIN { printf "%.2f", (b-a)/100 }'
  }
  steal=$(steal_rate)
  if ! awk -v s="$steal" 'BEGIN { exit !(s <= 1.0) }'; then
    echo "steal ${steal}s/30s > 1.0 — cooling down 180 s before the closing bench"
    sleep 180
    steal=$(steal_rate)
    if ! awk -v s="$steal" 'BEGIN { exit !(s <= 1.0) }'; then
      echo "REFUSING to stamp closing bench: steal still ${steal}s/30s" \
        "— rerun 'tools/gate.sh' when the host is quiet"
      exit 2
    fi
  fi
  echo "=== bench sf0.1 (loadavg_start $load, steal_30s $steal) ==="
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_GRAFT_BENCH_OUT=/tmp/gate_bench.json \
    sbt -batch "runMain graft.Bench" > /dev/null 2>&1
  cat /tmp/gate_bench.json; echo
fi

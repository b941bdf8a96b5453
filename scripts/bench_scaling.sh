#!/usr/bin/env bash
# Scaling-evidence profile (r18, verdict item 7). At sf0.1 the FULL declared
# suite is fixed-latency-bound (229/291 queries flat 8c->32c in the r17
# driver data: catalog statements, commit cycles, tiny exchanges), so it
# cannot show parallel scaling no matter how the operators behave. Two
# probes instead:
#
#   1. graft.ScaleProbe (primary): the engine KERNELS over the same fixtures
#      replicated to a data-dense size (default x96, materialized once to
#      /tmp outside the timed region), at 8 and 32 cores. Honors
#      SPARK_GRAFT_CPUS like everything else; adds no declared query.
#   2. the declared data-dense subset (secondary): same harness as the
#      driver's bench, narrowed; shows how much of even the compute-heavy
#      declared queries is per-query floor at this SF.
#
# Usage: scripts/bench_scaling.sh [sfdir] [rep]
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.1}"
REP="${2:-96}"
echo "== kernel probe (graft.ScaleProbe, rep=$REP) =="
for CPUS in 8 32; do
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=$CPUS \
    scripts/run.sh graft.ScaleProbe "$REP" 2>/dev/null | tail -1 \
    > "/tmp/graft_scaleprobe_${CPUS}.json"
done
python3 - <<'EOF'
import json
lo = json.load(open('/tmp/graft_scaleprobe_8.json'))
hi = json.load(open('/tmp/graft_scaleprobe_32.json'))
ge2 = n = 0
for k in lo:
    if k in ("cpus", "rep", "sf"): continue
    r = lo[k] / hi[k]; n += 1; ge2 += (r >= 2.0)
    print(f"{k:22s} 8c {lo[k]:7.2f}s  32c {hi[k]:7.2f}s  {r:5.2f}x")
print(f"{ge2}/{n} probes >= 2x at 4x cores")
EOF
echo "== declared data-dense subset (bench harness) =="
QS="t_fuzzy_match,t_winnow,t_compress_ratio,t_langid,t_hash_embed,s_rp_project,s_sq8_codes,m_image_dhash,m_audio_ahash,m_video_thash,m_resize,q_window_running,q_math_fns,d_simhash_exact,d_paragraph_dedup"
for CPUS in 8 32; do
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=$CPUS \
    SPARK_GRAFT_ONLY="$QS" \
    SPARK_GRAFT_BENCH_LABEL="scaling-${CPUS}c" \
    SPARK_GRAFT_BENCH_OUT="/tmp/graft_scaling_${CPUS}.json" \
    scripts/run.sh graft.Bench > /dev/null 2>&1
done
python3 - <<'EOF'
import json
lo = json.load(open('/tmp/graft_scaling_8.json'))
hi = json.load(open('/tmp/graft_scaling_32.json'))
for k in sorted(hi['queries']):
    r = lo['queries'][k] / hi['queries'][k]
    print(f"{k:24s} {lo['queries'][k]:8.3f} {hi['queries'][k]:8.3f} {r:8.2f}x")
print(f"total {lo['value']:.2f} -> {hi['value']:.2f}  ({lo['value']/hi['value']:.2f}x)")
EOF

#!/usr/bin/env bash
# Deliberate-contention check of the bench harness's self-flagging (r16).
#
# The r14 and r15 driver bench records were host-contaminated while every
# canary read healthy: the old canary was pure-CPU, blind to shuffle/disk/
# scheduler contention (another JVM's I/O, page-cache eviction). This script
# reproduces that failure mode ON PURPOSE — a narrowed bench runs with
# tightly interleaved canaries while, mid-run, a second shuffle-heavy Spark
# JVM plus a bank of CPU spinners and direct-I/O writers hammer the host for
# a fixed window — and asserts the record FLAGS ITSELF: the contaminated
# windows' queries appear in degraded_window_queries (and got a recovery
# run), or the whole record reads host_degraded.
#
# Usage: scripts/contention_test.sh   (takes ~2-4 min; needs sf0.01+sf0.1)
set -euo pipefail
cd "$(dirname "$0")/.."

SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}
HOG_SF=${HOG_SF:-/root/testdata/sf0.1}
OUT=/tmp/graft_contention_bench.json
# The hogs start exactly when the bench's TIMED phase begins (Bench touches
# SPARK_GRAFT_PHASE_FILE after warmup) and stop HOG_SECS later, so they
# contaminate the FIRST few canary windows and leave the majority clean —
# the median-relative check needs a healthy majority (contention covering
# MOST windows inflates the median itself; that regime is what the absolute
# floors and the cross-round drift check exist for, not the per-window flag
# this script demonstrates).
HOG_SECS=${HOG_SECS:-35}
PHASE_FILE=/tmp/graft_phase_$$

# ~18 mixed queries, canaries bracketing every 2 -> ~10 windows, so the
# contention window is a MINORITY of samples and the healthy median holds
QUERIES="q1_agg,q3_top_revenue,q_topn,t_tokens,t_quality,t_langid,d_exact_dedup,d_exact_groups,q_filter_pushdown,q_set_union,t_fingerprint,q_mode,t_subwords,q_rollup,q_cube,t_winnow,q_string_fns,q_date_fns"

rm -f "$OUT" "$PHASE_FILE"
HOG_PIDS=()
cleanup() {
  # default expansions: under `set -u` an early failure before BENCH_PID
  # is assigned (or an empty HOG_PIDS on bash < 4.4) must not make the
  # trap itself error and skip the remaining kill/rm lines
  kill "${HOG_PIDS[@]:-}" >/dev/null 2>&1 || true
  pkill -f graft_hog_ >/dev/null 2>&1 || true
  rm -f /tmp/graft_hog_*
  if [ -n "${BENCH_PID:-}" ]; then kill "$BENCH_PID" >/dev/null 2>&1 || true; fi
}
trap cleanup EXIT

SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_ONLY="$QUERIES" \
  SPARK_GRAFT_CANARY_EVERY=2 SPARK_GRAFT_BENCH_OUT="$OUT" \
  SPARK_GRAFT_PHASE_FILE="$PHASE_FILE" \
  scripts/run.sh graft.Bench >/dev/null 2>&1 &
BENCH_PID=$!

for i in $(seq 1 300); do [ -f "$PHASE_FILE" ] && break; sleep 0.5; done
[ -f "$PHASE_FILE" ] || { echo "bench never reached the timed phase"; exit 2; }
echo "[contention] timed phase reached - starting hogs over the first windows"

# a second Spark JVM doing real shuffles/spills — the r15 contamination class
SPARK_GRAFT_SF_DIR="$HOG_SF" SPARK_GRAFT_ONLY=d_minhash_exact,g_pagerank \
  SPARK_GRAFT_BENCH_OUT=/tmp/graft_hog_bench.json \
  scripts/run.sh graft.Bench >/dev/null 2>&1 &
HOG_PIDS+=($!)
for i in $(seq 1 64); do
  ( exec -a graft_hog_spin bash -c 'while :; do :; done' ) & HOG_PIDS+=($!)
done
for i in $(seq 1 16); do
  ( exec -a graft_hog_dd bash -c \
    "while :; do dd if=/dev/zero of=/tmp/graft_hog_$i bs=4M count=128 oflag=direct 2>/dev/null; done" ) &
  HOG_PIDS+=($!)
done

sleep "$HOG_SECS"
echo "[contention] stopping hogs"
kill "${HOG_PIDS[@]}" >/dev/null 2>&1 || true
pkill -f graft_hog_ >/dev/null 2>&1 || true
rm -f /tmp/graft_hog_*
HOG_PIDS=()

wait "$BENCH_PID"

python3 - "$OUT" <<'EOF'
import json, sys
rec = json.load(open(sys.argv[1]))
print("canaries cpu:", rec["canaries"])
print("canaries io :", rec["canaries_io"])
print("host_degraded:", rec["host_degraded"])
print("degraded_window_queries:", rec["degraded_window_queries"])
flagged = bool(rec["degraded_window_queries"]) or rec["host_degraded"]
assert flagged, "CONTENTION NOT FLAGGED - the canary blind spot is back"
# either the recovery pass cured the flagged queries (each carries its
# extra sample), or Bench took the by-design uncured path and condemned
# the record itself - both are correct self-flagging outcomes
cured = [q for q in rec["degraded_window_queries"] if q not in rec["uncured_queries"]]
for q in cured:
    assert len(rec["raw"][q]) >= 3, f"{q} cured but carries no recovery sample"
if rec["uncured_queries"]:
    assert rec["host_degraded"], "uncured queries must condemn the record"
print(f"OK: contamination flagged itself ({len(cured)} cured, "
      f"{len(rec['uncured_queries'])} uncured -> host_degraded={rec['host_degraded']})")
EOF

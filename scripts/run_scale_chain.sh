#!/bin/bash
# Scale chain: run bench.py on each generated scale factor in turn,
# audit every SF's plans against the previous SF's, and record the
# peak disk use of the whole chain.
#
#   scripts/run_scale_chain.sh ROUND SF...    e.g.  scripts/run_scale_chain.sh 15 1 10
#
# Each SF reads .benchdata/sf<SF> (make it with scripts/make_scaled_sf.py)
# and writes BENCH_sf<SF>_r<ROUND>.json, bench_plans_sf<SF>/ and
# PLAN_AUDIT_sf<SF>.txt (the first SF is audited against bench_plans/).
# sf10 and sf30 get a bigger heap and more shuffle partitions, and
# checkpoint into .benchdata/ckpt_chain, whose per-query GC must leave it
# empty. CHAIN_DISK_r<ROUND>.txt gets the peak disk use and the
# checkpoint entries left behind.
set -e
if [ $# -lt 2 ]; then
    echo "usage: $0 ROUND SF..." >&2
    exit 2
fi
ROUND=$1
shift
cd "$(dirname "$0")/.."

SAMPLES=$(mktemp)
( while true; do df --output=used -k / | tail -1 >> "$SAMPLES"; sleep 10; done ) &
SAMPLER=$!
trap 'kill $SAMPLER 2>/dev/null; rm -f "$SAMPLES"' EXIT

PREV_PLANS=bench_plans
for SF in "$@"; do
    echo "=== sf$SF ==="
    case "$SF" in
        10) SIZING=(SPARK_GRAFT_DRIVER_MEM=64g SPARK_GRAFT_SHUFFLE_PARTITIONS=64
                    SPARK_GRAFT_CHECKPOINT_DIR="$PWD/.benchdata/ckpt_chain") ;;
        30) SIZING=(SPARK_GRAFT_DRIVER_MEM=96g SPARK_GRAFT_SHUFFLE_PARTITIONS=128
                    SPARK_GRAFT_CHECKPOINT_DIR="$PWD/.benchdata/ckpt_chain") ;;
        *) SIZING=() ;;
    esac
    env "${SIZING[@]}" \
        SPARK_GRAFT_SF_DIR="$PWD/.benchdata/sf$SF" \
        SPARK_GRAFT_PLANS_DIR="$PWD/bench_plans_sf$SF" \
        python bench.py 2>/dev/null | tail -1 | tee "BENCH_sf${SF}_r${ROUND}.json"
    python scripts/audit_plans.py "$PREV_PLANS" "bench_plans_sf$SF" \
        | tee "PLAN_AUDIT_sf$SF.txt" || true
    PREV_PLANS=bench_plans_sf$SF
done

PEAK_KB=$(sort -n "$SAMPLES" | tail -1)
echo "peak disk used during chain: $((PEAK_KB / 1024 / 1024)) GiB" | tee "CHAIN_DISK_r$ROUND.txt"
ls .benchdata/ckpt_chain 2>/dev/null | wc -l \
    | xargs -I{} echo "checkpoint entries left after GC: {}" | tee -a "CHAIN_DISK_r$ROUND.txt"
echo CHAIN_DONE

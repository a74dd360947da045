#!/usr/bin/env bash
# 10x scale rehearsal (round-15, VERDICT r14 #1): time the heavy operator
# family at sf0.1 and at the 10x synthetic tier (tools/scalegen.py) with
# graft.Bench (warm min-of-3, one fresh JVM per chunk of at most 6 queries),
# so the sf0.1 -> 10x time ratios in SCALE.md are measured, not argued.
#
# Usage: tools/scale.sh [sf-dir] [queries...]
# Requires: sbt compile (engine classes into target/).
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.1}"
shift || true
QUERIES=("$@")
if [ ${#QUERIES[@]} -eq 0 ]; then
  QUERIES=(text_incr_dedup text_simhash_lsh text_minhash_pairs
    text_cluster_best pipe_clean_corpus vec_ann_lsh vec_ann_ivf
    vec_ann_ivfpq vec_ann_sq vec_ann_hamming ev_scd2
    core_scalable_quantiles)
fi
SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-24g}" \
  exec tools/bench.sh "$SF" "${SPARK_GRAFT_CPUS:-$(nproc)}" "${QUERIES[@]}"

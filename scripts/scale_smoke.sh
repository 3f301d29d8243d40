#!/bin/bash
# 10x scale smoke for the dedup/text family (graft.Scale family).
# Replicates sf0.1 documents/embeddings/customer/lineitem 10x (re-keyed,
# near-dup replicas, injected >cap-df hot shingles), runs each family
# query once at 1x and 10x, prints one JSON line with per-query ratios.
# Non-zero exit = a query failed (OOM/spill-death shows up here).
# Usage: scripts/scale_smoke.sh [src_sf_dir] (default /root/testdata/sf0.1)
set -euo pipefail
cd "$(dirname "$0")/.."
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" SPARK_GRAFT_SCALES="${SPARK_GRAFT_SCALES:-10}" \
  sbt -batch "runMain graft.Scale family ${1:-/root/testdata/sf0.1}"

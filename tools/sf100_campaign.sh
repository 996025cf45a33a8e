#!/bin/bash
# r22 sf100 evidence campaign (VERDICT r21 ask #1).
# Protocol: FORK + REWARM, reps=1, width 256 (the r20 sf100 discipline),
# disk checkpoints, 80 g child heap. Each step writes its own artifact;
# sf10 pairs run at the SAME width/codec so decade exponents compare
# like for like.
set -x
REPO="$(cd "$(dirname "$0")/.." && pwd)"
cd "$REPO"
export SPARK_GRAFT_CPUS=32
export SPARK_GRAFT_BENCH_FORK=1
export SPARK_GRAFT_BENCH_REWARM=1
export SPARK_GRAFT_BENCH_REPS=1
export SPARK_GRAFT_SHUFFLE_PARTITIONS=256
export SPARK_GRAFT_CHECKPOINT_DIR=/tmp/ckpt_scale

T2=events_attribution,win_running_distinct,sessionize_batch,agg_spearman

# A: tranche-2 sf10 pins
SPARK_DRIVER_MEM=48g SPARK_GRAFT_SF_DIR=$REPO/fixtures/sf10 \
  SPARK_GRAFT_BENCH_ONLY=$T2 \
  SPARK_GRAFT_BENCH_OUT=$REPO/BENCH_sf10_tranche2.json \
  bash tools/graftrun.sh graft.Bench > /tmp/sf10_t2.log 2>&1
echo "A done rc=$?"; df -h / | tail -1

# B: tranche-2 sf100
SPARK_DRIVER_MEM=80g SPARK_GRAFT_SF_DIR=$REPO/fixtures/sf100 \
  SPARK_GRAFT_BENCH_ONLY=$T2 \
  SPARK_GRAFT_BENCH_OUT=$REPO/BENCH_sf100_tranche2.json \
  bash tools/graftrun.sh graft.Bench > /tmp/sf100_t2.log 2>&1
echo "B done rc=$?"; df -h / | tail -1

# C: wedge family un-exclusion attempt — zstd shuffle codec
SPARK_DRIVER_MEM=48g SPARK_GRAFT_SF_DIR=$REPO/fixtures/sf10 \
  SPARK_GRAFT_IO_CODEC=zstd \
  SPARK_GRAFT_BENCH_ONLY=graph_triangles \
  SPARK_GRAFT_BENCH_OUT=$REPO/BENCH_sf10_triangles_zstd.json \
  bash tools/graftrun.sh graft.Bench > /tmp/sf10_tri.log 2>&1
echo "C1 done rc=$?"; df -h / | tail -1
SPARK_DRIVER_MEM=80g SPARK_GRAFT_SF_DIR=$REPO/fixtures/sf100 \
  SPARK_GRAFT_IO_CODEC=zstd \
  SPARK_GRAFT_BENCH_ONLY=graph_triangles \
  SPARK_GRAFT_BENCH_OUT=$REPO/BENCH_sf100_triangles_zstd.json \
  bash tools/graftrun.sh graft.Bench > /tmp/sf100_tri.log 2>&1
echo "C2 done rc=$?"; df -h / | tail -1

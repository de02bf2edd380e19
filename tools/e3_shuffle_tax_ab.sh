#!/bin/bash
# e3 sf50 shuffle-tax A/B: identical plan, Spark's local dir on the
# virtio disk (default) vs tmpfs (/dev/shm) — isolates the local shuffle
# write/read tax inside the 4.0x residual vs DuckDB. Runs graft.Bench on
# the one key, min of 5 runs after Bench's warm-up; sequential sbt
# (project lock); the full JSON lines land in .scratch/logs/.
set -e
cd "$(dirname "$0")/.."
mkdir -p .scratch/logs /dev/shm/spark-local
export SPARK_GRAFT_SF_DIR=.scratch/sf50
export SPARK_GRAFT_CPUS=32
export SPARK_GRAFT_BENCH_RUNS=5
export SPARK_GRAFT_BENCH_ONLY=e3_q5_multijoin
sbt -batch "runMain graft.Bench" 2>/dev/null | grep -F '"query_runs"' \
  > .scratch/logs/e3_ab_disk.json
SPARK_LOCAL_DIRS=/dev/shm/spark-local \
  sbt -batch "runMain graft.Bench" 2>/dev/null | grep -F '"query_runs"' \
  > .scratch/logs/e3_ab_shm.json
rm -rf /dev/shm/spark-local
echo DONE

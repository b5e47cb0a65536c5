#!/usr/bin/env bash
# Two-parallelism scaling evidence (BASELINE.md protocol, north-rule proxy).
#
# Runs the IDENTICAL extraction job + input at N=1 executor (2 cores) and
# 4N=4 executors (8 cores), each level its own driver JVM + real executor
# JVMs. Executor JVMs are sized honestly (ActiveProcessorCount=cores)
# so each behaves like a real 2-core executor — otherwise a level borrows
# the idle cores for GC/compilation and the efficiency ratio is meaningless.
#
# The 4N level keeps 8 cores busy, so a host with fewer than 8 cores
# cannot supply it without oversubscribing: the script then prints
# "unmeasurable" and exits 0 instead of reporting a meaningless ratio.
#
# Usage: scripts/bench_scaling.sh [sf_dir] [amp]
set -euo pipefail
cd "$(dirname "$0")/.."

NPROC="$(nproc)"
if [ "$NPROC" -lt 8 ]; then
  echo "[scaling] unmeasurable on this host (needs ≥ 8 cores, has $NPROC)"
  exit 0
fi

SF_DIR="${1:-/root/testdata/sf0.1}"
AMP="${2:-1000}"
JAR=target/scala-2.13/packagessgmlspark_2.13-0.1.0.jar
CP="$JAR:/opt/spark/jars/*"

[ -f "$JAR" ] || sbt -batch package

# One parallelism level = one driver JVM + real executor JVMs via Spark's
# local-cluster master: N executors × 2 cores × 4 GiB each. Executor JVMs
# are sized honestly (ActiveProcessorCount=cores, ParallelGC via
# Bench.session / spark.executor.extraJavaOptions) — the closest
# single-machine proxy for "spark-submit at N and 4N executors".
#
# Why 2-core executors: the per-executor resources must be IDENTICAL at
# both levels and the host must be able to supply 4N executors without
# cross-executor interference. On a 32-core host with 4×2=8 cores busy, per-core
# speed is the same at both levels (measured); at 4×7=28 busy cores the
# box itself saturates (shared memory bandwidth / L3 / frequency) and
# per-core speed drops ~28% — an artifact a real 4N-executor cluster,
# where every node is equally loaded at both sizes, does not have. The
# 28-core saturation point is still reported in BENCH/BASELINE.md.
run_level() { # n_executors
  local n="$1"
  local total=$((n * 2))
  SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_AMP="$AMP" SPARK_GRAFT_CPUS="$total" \
    SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
    java -Xmx8g -XX:+UseParallelGC \
    "-Dspark.master=local-cluster[$n,2,4096]" \
    -cp "$CP" graft.Bench extract 2>/dev/null | tail -1
}

# warm-up uses every core, with 1.5 GiB of heap per core
echo "[scaling] corpus warm-up / generation ($NPROC cores)" >&2
SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_AMP="$AMP" SPARK_GRAFT_CPUS="$NPROC" \
  java "-Xmx$((NPROC * 3 / 2))g" -cp "$CP" graft.Bench gen 2>/dev/null || true

echo "[scaling] N=1 executor (2 cores)" >&2
J8=$(run_level 1)
echo "$J8"
echo "[scaling] 4N=4 executors (8 cores)" >&2
J32=$(run_level 4)
echo "$J32"

TP8=$(echo "$J8" | sed -E 's/.*"value":([0-9.]+).*/\1/')
TP32=$(echo "$J32" | sed -E 's/.*"value":([0-9.]+).*/\1/')
EFF=$(python3 -c "print(f'{$TP32/(4*$TP8):.3f}')")
echo "{\"metric\":\"scaling_efficiency\",\"value\":$EFF,\"unit\":\"ratio\",\"queries\":{\"executors_n\":1,\"docs_per_sec_n\":$TP8,\"executors_4n\":4,\"docs_per_sec_4n\":$TP32},\"sf\":\"$SF_DIR\"}"

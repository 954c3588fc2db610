#!/usr/bin/env bash
# Benchmark WITHOUT the sbt lock: runs graft.Bench from the already-
# compiled classes. Env knobs are the same as `runMain graft.Bench`:
#   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
#   SPARK_GRAFT_CPUS / SPARK_GRAFT_SCALE_{LO,HI,REPS,PAGES} / SPARK_GRAFT_BATTERY_REPS
set -euo pipefail
# The wide-op scaling legs persist two multi-GB tables (statements +
# tokenized relations at 1M pages); a 20g unified pool spilled ~5 GB per
# leg and made the legs superlinear. The box has 125 GiB; 48g pre-touches
# in ~15 s at JVM start — paid once per bench run. graft-env.sh caps this
# default at half of MemTotal; override with SPARK_DRIVER_MEM.
GRAFT_DEFAULT_MEM=48g
. "$(dirname "$0")/graft-env.sh"
graft_ensure_compiled
graft_java graft.Bench "$@"

#!/usr/bin/env bash
# Battery-only benchmark WITHOUT the sbt lock (see tools/bench.sh).
#   tools/benchx.sh [queryName...]
# Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BATTERY_REPS,
#      SPARK_GRAFT_NOOP, SPARK_GRAFT_EXPLAIN_DIR
set -euo pipefail
GRAFT_DEFAULT_MEM=24g # capped at half of MemTotal by graft-env.sh
. "$(dirname "$0")/graft-env.sh"
graft_ensure_compiled
graft_java graft.tools.BenchExtra "$@"

#!/usr/bin/env bash
# Correctness dump WITHOUT the sbt lock: runs graft.Verify from the
# already-compiled classes (compiles once via sbt only if stale).
#
#   tools/verify.sh <sfDir> <outDir> [queryName...]   e.g.
#   tools/verify.sh /root/testdata/sf0.01 /tmp/verify_out
#   tools/verify.sh /root/testdata/sf0.001 /tmp/v q45_negative_samples
#
# Then compare against DuckDB exactly like the driver:
#   python3 tools/check_oracle.py <sfDir> <outDir>
set -euo pipefail
GRAFT_DEFAULT_MEM=12g # capped at half of MemTotal by graft-env.sh
. "$(dirname "$0")/graft-env.sh"
graft_ensure_compiled
sf="${1:-/root/testdata/sf0.01}"
out="${2:-/tmp/verify_out}"
shift $(( $# > 2 ? 2 : $# ))
graft_java graft.Verify "$sf" "$out" "$@"

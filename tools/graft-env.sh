# Shared launcher environment for running graft mains WITHOUT sbt.
# Sourced by tools/verify.sh, tools/bench.sh and tools/benchx.sh.
#
# Why this exists: sbt holds a per-project lock, so a correctness pass
# queued behind a long benchmark (or vice versa) can time out at the
# harness level even though the code is green. Running the already-
# compiled classes with plain `java -cp` removes both the lock and the
# sbt startup latency. Round 2 lost its entire correctness signal to
# exactly this failure mode.

REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CLASSES="$REPO/target/scala-2.13/classes"
GRAFT_CP="$CLASSES:/opt/spark/jars/*"

# Compile only when a main-source file is newer than the newest class.
graft_ensure_compiled() {
  local newest_src newest_cls
  newest_src=$(find "$REPO/src/main" -name '*.scala' -printf '%T@\n' 2>/dev/null | sort -rn | head -1)
  newest_cls=$(find "$CLASSES" -name '*.class' -printf '%T@\n' 2>/dev/null | sort -rn | head -1)
  if [ -z "$newest_cls" ] || awk -v s="$newest_src" -v c="$newest_cls" 'BEGIN{exit !(s > c)}'; then
    echo "[graft] classes stale or missing — compiling via sbt once" >&2
    (cd "$REPO" && sbt -batch compile >&2)
  fi
}

# Spark 4.x on JDK 17 outside spark-submit needs the module opens that
# spark-submit normally injects (org.apache.spark.launcher.JavaModuleOptions).
GRAFT_ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs \
         java.base/sun.security.action java.base/sun.util.calendar; do
  GRAFT_ADD_OPENS="$GRAFT_ADD_OPENS --add-opens=$p=ALL-UNNAMED"
done

# SPARK_DRIVER_MEM sets the heap. Unset, the launcher's default
# (GRAFT_DEFAULT_MEM, which each launcher sets before sourcing this file) is
# capped at half of MemTotal, so a heap sized for a big box still commits.
graft_default_mem() {
  local want="${1%g}" half
  half=$(awk '/^MemTotal:/ {print int($2 / 2097152)}' /proc/meminfo 2>/dev/null)
  if [ -n "$half" ] && [ "$half" -ge 1 ] && [ "$half" -lt "$want" ]; then want=$half; fi
  echo "${want}g"
}
GRAFT_MEM="${SPARK_DRIVER_MEM:-$(graft_default_mem "$GRAFT_DEFAULT_MEM")}"

# local[N] for the mains: every core this host has unless SPARK_GRAFT_CPUS
# says otherwise
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"

# Firecracker microVM: first-touch page faults are ~100x bare metal, so an
# adaptively-growing heap burns cores in the kernel. Fixed pre-touched heap
# (same flags as build.sbt's forked run).
GRAFT_JVM_FLAGS="-XX:+UseParallelGC -XX:+AlwaysPreTouch -XX:-UseAdaptiveSizePolicy -Xms$GRAFT_MEM -Xmx$GRAFT_MEM -Xlog:gc -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC"

graft_java() {
  # shellcheck disable=SC2086
  exec java $GRAFT_ADD_OPENS $GRAFT_JVM_FLAGS -cp "$GRAFT_CP" "$@"
}

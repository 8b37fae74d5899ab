#!/bin/bash
# Run a graft main against the compiled classes + Spark jars without sbt
# (keeps the sbt project lock free during long tmux runs).
cd "$(dirname "$0")/.."
# Fixed-size heap (Xms=Xmx): with a growable heap the probe JVMs spent up
# to 93% of wall-clock in the KERNEL mid-measurement (vmstat `sy`, zero
# steal) — G1 uncommits memory after each between-runs GC, and the next
# timed run re-faults tens of GB of zeroed pages (q_winnow_true at sf100:
# 78 s median → 7.9 s once pinned). Pinning stops the uncommit/re-fault
# cycle; pages still fault in lazily (NO AlwaysPreTouch — zeroing tens of
# GB per short-lived JVM forces the OS to reclaim that much page cache
# synchronously at every startup, which measured WORSE than the churn).
# Default size: half of MemTotal in whole GiB, clamped to 2..8 g — the
# rule the Tier-1 test command and perfbench use. GRAFT_HEAP overrides it
# (memory-heavy mains, e.g. large ScaleUp generations, on a big box).
# UTC is pinned here because this script bypasses build.sbt's
# -Dspark.sql.session.timeZone=UTC: the NTZ->Timestamp cast in Tables
# goes through the session timezone, and a non-UTC host would silently
# shift events instants relative to the NANOS-long path.
heap="${GRAFT_HEAP:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java -Xms"$heap" -Xmx"$heap" \
  -Duser.timezone=UTC -Dspark.sql.session.timeZone=UTC \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dio.netty.tryReflectionSetAccessible=true \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"

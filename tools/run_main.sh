#!/bin/bash
# Run a graft main (Bench/Verify) on the sbt-compiled classes without sbt
# startup cost. Usage: tools/run_main.sh graft.Bench [env pre-set]
# The classes are this checkout's (the script's own ../target), the jars
# those of $SPARK_HOME (default /opt/spark).
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$(dirname "$0")/../target/scala-2.13/classes:${SPARK_HOME:-/opt/spark}/jars/*" "$@"

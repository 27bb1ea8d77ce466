# Sourced by the tools that launch the engine's mains with plain `java`:
# sets ADD_OPENS to the JDK 17 --add-opens list Spark 4 needs outside
# spark-submit (the list build.sbt passes to forked runs and tests).
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

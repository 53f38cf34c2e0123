# Sourced by tools/bench.sh and tools/verify.sh: the --add-opens flags
# JDK 17 needs for Spark, in $ADD_OPENS.
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

#!/usr/bin/env bash
# Run a graft main (graft.Verify / graft.Bench / graft.QueryProfile ...) under a
# bare JVM with the SAME --add-opens set Spark's launcher injects.
#
# Why this exists: `java -cp app.jar:/opt/spark/jars/* graft.X` skips
# spark-class, so the JDK-17 module system blocks Kryo's reflective access
# (e.g. java.nio.HeapByteBuffer in KMeans model broadcast) and every
# KMeans-backed query (q_ann_ivf*, q_ann_pq, q_semantic_dedup) dies with
# 'Unable to create serializer "FieldSerializer"' while the rest of the
# board runs fine — a partial sweep that LOOKS complete. sbt runMain and
# spark-submit both inject these flags; use this wrapper when you want the
# lighter bare-JVM path (no sbt startup).
#
# Usage: tools/graft-java.sh [JVM flags...] graft.MainClass [args...]
set -euo pipefail
JAR="$(dirname "$0")/../target/scala-2.13/cse_datapipelineandmlsspark_2.13-0.1.0.jar"
exec java \
  -XX:+IgnoreUnrecognizedVMOptions \
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
  --enable-native-access=ALL-UNNAMED \
  -cp "$JAR:/opt/spark/jars/*" "$@"

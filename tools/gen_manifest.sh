#!/bin/bash
# Regenerate MANIFEST.md (queries -> operators index). Run after adding
# or renaming a SparkEntry query; ManifestSpec fails the build on drift.
set -e
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.util; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.tools.ManifestGen

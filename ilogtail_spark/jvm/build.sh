#!/usr/bin/env bash
# Build ilogtail-jvm.jar, the JVM side of ilogtail_spark (the file://
# filesystem, the SLS LogGroup codec, the native timestamp parser and
# the regex match),
# from every .java file in this directory against the Spark and Hadoop
# classes bundled with pyspark.
# The output is reproducible: class files for Java 17, fixed entry dates,
# no manifest.
#
#   ilogtail_spark/jvm/build.sh [OUT_DIR]    # default: this directory
set -euo pipefail
HERE="$(cd "$(dirname "$0")" && pwd)"
OUT="$(cd "${1:-$HERE}" && pwd)"
JARS="$(python -c 'import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')"
CLASSES="$(mktemp -d)"
trap 'rm -rf "$CLASSES"' EXIT
javac --release 17 -nowarn -cp "$JARS/*" -d "$CLASSES" "$HERE"/*.java
rm -f "$OUT/ilogtail-jvm.jar"
jar --create --no-manifest --date=2026-01-01T00:00:00Z --file "$OUT/ilogtail-jvm.jar" -C "$CLASSES" .

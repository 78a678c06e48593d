#!/usr/bin/env bash
# Builds mtp-localfs.jar, the in-process-permissions binding for Hadoop's
# local filesystem, from src/ against the Hadoop client jar that ships with
# pyspark. The jar is byte-reproducible: fixed javac release, sorted
# sources, and fixed entry timestamps.
#
#   multi_table_plugins_spark/jvm/build.sh [OUT_DIR]   (default: this dir)
set -euo pipefail
HERE="$(cd "$(dirname "$0")" && pwd)"
OUT="$(mkdir -p "${1:-$HERE}" && cd "${1:-$HERE}" && pwd)"
JARS="${SPARK_HOME:-$(python3 -c 'import os, pyspark; print(os.path.dirname(pyspark.__file__))')}/jars"
HADOOP_API="$(ls "$JARS"/hadoop-client-api-*.jar | head -n 1)"
CLASSES="$(mktemp -d)"
trap 'rm -rf "$CLASSES"' EXIT
(cd "$HERE/src" && find . -name '*.java' | LC_ALL=C sort) > "$CLASSES/sources.txt"
(cd "$HERE/src" && javac --release 17 -nowarn -cp "$HADOOP_API" -d "$CLASSES/out" @"$CLASSES/sources.txt")
rm -f "$OUT/mtp-localfs.jar"
jar --create --date=2024-01-01T00:00:00Z --file "$OUT/mtp-localfs.jar" -C "$CLASSES/out" .

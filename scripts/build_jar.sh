#!/bin/sh
# Build jvm/timberline-fs.jar, the local filesystem that session.get_spark
# puts on Spark's classpath (jvm/src/timberline/fs/NioLocalFileSystem.java).
#
#   scripts/build_jar.sh [OUT_JAR]     # default: jvm/timberline-fs.jar
#
# Compiled against the hadoop-client-api jar that ships with pyspark. The
# jar is reproducible: no manifest, entries in sorted order with a fixed
# timestamp, so the same source and javac give the same bytes.
set -e
cd "$(dirname "$0")/.."
out=$(realpath -m "${1:-jvm/timberline-fs.jar}")
jars=$(python -c "import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), 'jars'))")
classes=$(mktemp -d)
trap 'rm -rf "$classes"' EXIT
javac --release 17 -cp "$(ls "$jars"/hadoop-client-api-*.jar)" -d "$classes" \
    jvm/src/timberline/fs/NioLocalFileSystem.java
mkdir -p "$(dirname "$out")"
rm -f "$out"
cd "$classes"
jar --create --no-manifest --date=1980-01-01T00:00:02Z --file "$out" \
    $(find . -name '*.class' | LC_ALL=C sort)
echo "wrote $out"

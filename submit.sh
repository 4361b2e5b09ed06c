#!/usr/bin/env bash
# Package the engine and launch the transcript pipeline via
# spark-submit --py-files, as the deployment contract requires.
#
#   ./submit.sh --input /root/testdata/sf0.01 --output /tmp/out [...]
#
# MASTER defaults to local[$(nproc)] and SHUFFLE_PARTITIONS to
# max(nproc, 8), as get_spark sizes a local session; on a real cluster
# set e.g.
#   MASTER=yarn SHUFFLE_PARTITIONS=64 ./submit.sh ...
# ilogtail_spark/jvm/ilogtail-jvm.jar holds the SLS LogGroup codec and
# the file:// filesystem, which sets permissions without forking chmod
# (see ilogtail_spark/session.py). It is on the driver's classpath; on a
# cluster master it is also shipped to the executors with --jars, which a
# local[...] master does not need (its executors are the driver).
set -euo pipefail
cd "$(dirname "$0")"

ZIP=/tmp/ilogtail_spark.zip
rm -f "$ZIP"
python -c "
import shutil, zipfile, os
with zipfile.ZipFile('$ZIP', 'w') as z:
    for root, _, files in os.walk('ilogtail_spark'):
        for f in files:
            if f.endswith('.py'):
                p = os.path.join(root, f)
                z.write(p, p)
"

NCORES="$(nproc)"
MASTER="${MASTER:-local[$NCORES]}"
JAR="$PWD/ilogtail_spark/jvm/ilogtail-jvm.jar"
SHIP_JAR=()
case "$MASTER" in
  local | local\[*) ;;
  *) SHIP_JAR=(--jars "$JAR") ;;
esac
exec spark-submit \
  --master "$MASTER" \
  --conf spark.sql.shuffle.partitions="${SHUFFLE_PARTITIONS:-$(( NCORES > 8 ? NCORES : 8 ))}" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  --driver-class-path "$JAR" \
  ${SHIP_JAR[@]+"${SHIP_JAR[@]}"} \
  --conf spark.hadoop.fs.file.impl=ilogtail.spark.fs.NioLocalFileSystem \
  --conf spark.hadoop.fs.AbstractFileSystem.file.impl=ilogtail.spark.fs.NioLocalFs \
  --py-files "$ZIP" \
  run_pipeline.py "$@"

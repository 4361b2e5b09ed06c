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
# file:// paths go through ilogtail_spark/jvm/nio-localfs.jar's
# filesystem, which sets permissions without forking chmod (see
# ilogtail_spark/session.py).
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
JAR="$PWD/ilogtail_spark/jvm/nio-localfs.jar"
exec spark-submit \
  --master "${MASTER:-local[$NCORES]}" \
  --conf spark.sql.shuffle.partitions="${SHUFFLE_PARTITIONS:-$(( NCORES > 8 ? NCORES : 8 ))}" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  --driver-class-path "$JAR" \
  --jars "$JAR" \
  --conf spark.hadoop.fs.file.impl=ilogtail.spark.fs.NioLocalFileSystem \
  --py-files "$ZIP" \
  run_pipeline.py "$@"

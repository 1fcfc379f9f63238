#!/usr/bin/env bash
# Deployment-shaped bench run: package the engine as a zip and run
# bench.py via spark-submit --py-files (the north_rule deployment shape).
set -euo pipefail
cd "$(dirname "$0")/.."

ZIP=/tmp/engine_pyfiles.zip
rm -f "$ZIP"
python -c "
import shutil, zipfile, os
with zipfile.ZipFile('$ZIP', 'w') as z:
    for root, _, files in os.walk('tiff_to_geojson_csv_json_format_converter_spark'):
        if '__pycache__' in root: continue
        for f in files:
            p = os.path.join(root, f)
            z.write(p, p)
"

# the driver JVM is started here, before get_spark runs, so its JIT
# policy goes on the command line
JIT="$(python -c 'from tiff_to_geojson_csv_json_format_converter_spark.plans.session import DRIVER_JIT_OPTIONS; print(DRIVER_JIT_OPTIONS)')"

exec spark-submit \
  --master "local[${SPARK_GRAFT_CPUS:-32}]" \
  --py-files "$ZIP" \
  --conf spark.driver.defaultJavaOptions="$JIT" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.shuffle.partitions="${SPARK_GRAFT_CPUS:-32}" \
  bench.py

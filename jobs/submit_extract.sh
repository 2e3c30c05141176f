#!/usr/bin/env bash
# Cluster deploy seam: the copy-paste spark-submit for the extraction
# job against a real cluster + Iceberg catalog.  Everything below is
# plain Spark/Iceberg wiring; swap the mock values (yarn, s3a bucket,
# catalog name `lake`) for your environment.  Offline this sandbox has
# no cluster or Iceberg jar; tests/test_session.py runs extract_job.py
# under `spark-submit --master local[2]` instead.
set -euo pipefail

ENGINE_ZIP=${ENGINE_ZIP:-/tmp/engine.zip}
ICEBERG_PKG=${ICEBERG_PKG:-org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0}
CATALOG=${CATALOG:-lake}
WAREHOUSE=${WAREHOUSE:-s3a://my-bucket/warehouse}

# 1. bundle the engine for the executors
python tools/package_pyfiles.py "$ENGINE_ZIP"

# 2. submit.  The same iceberg confs are available programmatically via
#    mini_html_parser_spark.pipeline.iceberg_configs("$CATALOG", ...)
#    (extract_job.py's build_session fills them in when
#    --iceberg-catalog is passed; a --conf given here wins).
exec spark-submit \
  --master yarn --deploy-mode cluster \
  --py-files "$ENGINE_ZIP" \
  --packages "$ICEBERG_PKG" \
  --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
  --conf "spark.sql.catalog.${CATALOG}=org.apache.iceberg.spark.SparkCatalog" \
  --conf "spark.sql.catalog.${CATALOG}.type=hadoop" \
  --conf "spark.sql.catalog.${CATALOG}.warehouse=${WAREHOUSE}" \
  jobs/extract_job.py \
  --input "${CATALOG}.corpus.documents" \
  --output "${WAREHOUSE}/extracted" \
  --config boilerplate_strip \
  --iceberg-catalog "$CATALOG" \
  --iceberg-warehouse "$WAREHOUSE" \
  "$@"

#!/usr/bin/env bash
# Package super_rag_spark for spark-submit --py-files (BASELINE.json
# north_rule: "run via spark-submit --py-files on a multi-executor
# cluster"). Produces dist/super_rag_spark.zip from the current
# super_rag_spark/ sources. The zip is a build output, not part of the
# repository (dist/ is git-ignored): run this script before every
# spark-submit, so executors run the same code as the driver.
#
# Cluster usage:
#   spark-submit --py-files dist/super_rag_spark.zip \
#       scripts/build_index.py --input s3://.../webtext --index s3://.../idx
#   spark-submit --py-files dist/super_rag_spark.zip \
#       scripts/query.py --index s3://.../idx --batch queries.json --distributed
set -euo pipefail
cd "$(dirname "$0")/.."
mkdir -p dist
rm -f dist/super_rag_spark.zip
zip -qr dist/super_rag_spark.zip super_rag_spark -x '*__pycache__*'
echo "dist/super_rag_spark.zip:"
unzip -l dist/super_rag_spark.zip | tail -3

#!/usr/bin/env bash
# Build the --py-files archive for spark-submit deployment.
set -euo pipefail
cd "$(dirname "$0")/.."
rm -f equi7grid_spark.zip
# include package code + data artifacts (extracted at runtime by
# equi7grid_spark/data_loader.py when imported from the zip); the
# kernel's Java sources and zone resources are build inputs of
# jvm/equi7-kernel.jar, which holds the compiled classes and both
# resources, so they stay out
zip -qr equi7grid_spark.zip equi7grid_spark -x '*__pycache__*' \
    'equi7grid_spark/jvm/src/*' 'equi7grid_spark/jvm/resources/*'
echo "built equi7grid_spark.zip ($(du -h equi7grid_spark.zip | cut -f1))"

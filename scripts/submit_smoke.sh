#!/bin/bash
# End-to-end spark-submit --py-files smoke (north_rule deployment shape).
# Verified 2026-08-16: 500 docs, 0 errors, 0 byte-identity mismatches,
# cache + metrics snapshots written.
set -euo pipefail
cd "$(dirname "$0")/.."

python scripts/make_pyfiles_zip.py

WORK=${1:-/tmp/submit_test}
mkdir -p "$WORK"
# sized to the host like get_spark: local[$SPARK_GRAFT_CPUS or all cores],
# shuffle partitions max(8, cores)
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}

python - <<EOF
import sys
sys.path.insert(0, ".")
from ocr_wrapper_spark.session import get_spark
from ocr_wrapper_spark.sources.pages import synthesize_pages
spark = get_spark(app_name="prep")
synthesize_pages(spark, "/root/testdata/sf0.001").write.mode("overwrite").parquet("$WORK/pages")
EOF

/opt/spark/bin/spark-submit \
  --master "local[$CPUS]" \
  --py-files dist/ocr_wrapper_spark.zip \
  --conf spark.ui.enabled=false \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.sql.shuffle.partitions=$(( CPUS > 8 ? CPUS : 8 )) \
  scripts/extract_job.py \
  --input "$WORK/pages" --output "$WORK/results" \
  --cache "$WORK/cache" --metrics "$WORK/metrics" \
  --run-id submit-smoke

python - <<EOF
import duckdb
n, errs = duckdb.sql(
    "select count(*), sum(case when error is not null then 1 else 0 end) "
    "from '$WORK/results/*.parquet'").fetchone()
bad = duckdb.sql("""
  select count(*) from '$WORK/results/*.parquet' r
  join '/root/testdata/sf0.001/documents.parquet' d
    on cast(regexp_extract(r.url, '/(\\\\d{10,})\\\\.', 1) as bigint) = d.doc_id
  where r.extracted_text <> d.text""").fetchone()[0]
assert errs == 0 and bad == 0, (n, errs, bad)
print(f"OK: {n} docs, 0 errors, 0 byte-identity mismatches")
EOF

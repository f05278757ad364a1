#!/bin/bash
# Round-5 sampler: same pgc32m config/estimators as accumulate_r4.sh. The
# contended_1core flag (run_scaling.py) excludes foreground-polluted 1-core
# samples from every reported number, and --wait-idle holds each run until
# the load average settles.
cd "$(dirname "$0")/.." || exit 1
IN=tests/data/transcripts_bench4x.parquet
CONF='{"spark.sql.adaptive.enabled": "false", "spark.driver.extraJavaOptions": "-XX:+UseParallelGC", "spark.driver.memory": "4g", "spark.sql.files.maxPartitionBytes": "32m"}'
for i in $(seq 1 "${1:-10}"); do
  SPARK_GRAFT_EXTRA_CONF="$CONF" python BENCH/run_scaling.py --pin --reps 1 --cores 1,4 --parts-mult 8 --conf-tag pgc32m --wait-idle 5 --input "$IN"
  SPARK_GRAFT_EXTRA_CONF="$CONF" python BENCH/run_scaling.py --pin --simultaneous --reps 1 --cores 1,4 --parts-mult 8 --conf-tag pgc32m --wait-idle 5 --input "$IN"
done

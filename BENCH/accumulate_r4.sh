#!/bin/bash
# Round-4 sampler: the pgc32m config (ParallelGC, 32 MB scan splits, 8
# shuffle waves/core, AQE off, 4x corpus) with solo and --simultaneous pairs
# in rotation, run for a BOUNDED number of cycles so the round's
# other work isn't starved. Each pass idle-gates on loadavg; min-of-samples
# means extra samples can only sharpen an arm's quiet-window minimum.
cd "$(dirname "$0")/.." || exit 1
IN=tests/data/transcripts_bench4x.parquet
CONF='{"spark.sql.adaptive.enabled": "false", "spark.driver.extraJavaOptions": "-XX:+UseParallelGC", "spark.driver.memory": "4g", "spark.sql.files.maxPartitionBytes": "32m"}'
for i in $(seq 1 "${1:-6}"); do
  SPARK_GRAFT_EXTRA_CONF="$CONF" python BENCH/run_scaling.py --pin --simultaneous --reps 1 --cores 1,4 --parts-mult 8 --conf-tag pgc32m --wait-idle 5 --input "$IN"
  SPARK_GRAFT_EXTRA_CONF="$CONF" python BENCH/run_scaling.py --pin --reps 1 --cores 1,4 --parts-mult 8 --conf-tag pgc32m --wait-idle 5 --input "$IN"
done

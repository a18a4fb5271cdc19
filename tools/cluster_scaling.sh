#!/bin/bash
# N vs 4N scaling legs on a standalone master: the north rule's
# submission shape (spark-submit --py-files on a multi-executor
# cluster), running tools/cluster_scaling.py.
#
# Topology: the executor COUNT is held at 2 and the CORES scale 4x.
# Extra executor JVMs on one machine fight over the same GC/JIT/Netty
# pools and page cache (BENCH.md round 4: 8x2 executors ran 6x slower
# than 2x8 at equal cores), a cost separate nodes do not pay; holding
# the JVM count fixed measures what the criterion asks — does 4x the
# compute give ~4x the throughput.
#
#   N  leg: 1 worker x  4 cores -> 2 executors x 2 cores  (4 cores)
#   4N leg: 1 worker x 16 cores -> 2 executors x 8 cores (16 cores)
#
# Each leg is its own invocation (a large leg runs for minutes; one
# process per leg bounds its wall clock and lets it be retried alone):
#
#   bash tools/cluster_scaling.sh N   [sf_dir] [replicas] [crawl|ops]
#   bash tools/cluster_scaling.sh 4N  [sf_dir] [replicas] [crawl|ops]
#   bash tools/cluster_scaling.sh eff
#
# Leg JSON lines accumulate in $CLUSTER_SCALING_OUT; `eff` prints one
# efficiency line per mode from the last N and 4N line of that mode.
set -u
USAGE="usage: cluster_scaling.sh N|4N|eff [sf_dir] [replicas] [crawl|ops]"
LEG=${1:?$USAGE}
case "$LEG" in
  N) CORES=4 ;;
  4N) CORES=16 ;;
  eff) ;;
  *) echo "$USAGE" >&2; exit 2 ;;
esac
SF_DIR=${2:-/root/testdata/sf0.1}
REPLICAS=${3:-128}
MODE=${4:-crawl}
SPARK_HOME=${SPARK_HOME:-/opt/spark}
REPO=$(cd "$(dirname "$0")/.." && pwd)
OUT=${CLUSTER_SCALING_OUT:-/tmp/cluster_scaling_result.txt}

if [ "$LEG" = "eff" ]; then
  python - "$OUT" <<'EOF'
import json, sys
legs = {}
for line in open(sys.argv[1]):
    if line.strip():
        row = json.loads(line)
        legs[row["mode"], row["label"]] = row   # the last line of each wins
for mode in ("crawl", "ops"):
    a, b = legs.get((mode, "N")), legs.get((mode, "4N"))
    if a and b:
        eff = (b["per_sec"] / a["per_sec"]) / (b["total_cores"] / a["total_cores"])
        print(json.dumps({"metric": f"cluster_{mode}_scaling_efficiency_N_to_4N",
                          "value": round(eff, 3), "n_leg": a, "fourn_leg": b}))
EOF
  exit 0
fi

MASTER_URL=spark://127.0.0.1:7077
export SPARK_LOCAL_IP=127.0.0.1
export SPARK_MASTER_HOST=127.0.0.1
export PYSPARK_PYTHON=$(which python)
export PYSPARK_DRIVER_PYTHON=$(which python)
export SPARK_WORKER_DIR=/tmp/c4as_workers
export SPARK_LOG_DIR=/tmp/c4as_spark_logs

# shuffle partitions are sized by DATA, not cores, and match on both
# legs (a 4x-larger task on the small leg would be a spill handicap the
# big leg does not face). The crawl round's heavy stage is pandas-UDF
# extraction at ~1 ms-core/row: 64 finer tasks smooth straggler
# quantization at 16 cores (BENCH.md round-4 coalescing note).
PARTS=32
if [ "$MODE" = "crawl" ]; then PARTS=64; fi

PKG=/tmp/c4as_pkg.zip
rm -f "$PKG"
(cd "$REPO" && zip -qr "$PKG" crawl4ai_spark bench.py)

# Both legs run 6g executors, which fit the 14g worker.
submit() { # label total_cores exec_cores
  "$SPARK_HOME"/bin/spark-submit \
    --master "$MASTER_URL" \
    --conf spark.cores.max="$2" \
    --conf spark.executor.cores="$3" \
    --conf spark.executor.memory=6g \
    --conf spark.driver.memory=8g \
    --conf "spark.executor.extraJavaOptions=-XX:ActiveProcessorCount=$3" \
    --conf spark.sql.shuffle.partitions="$PARTS" \
    --conf spark.sql.adaptive.enabled=true \
    --conf spark.sql.adaptive.coalescePartitions.enabled=true \
    --conf spark.sql.adaptive.skewJoin.enabled=true \
    --conf spark.sql.execution.arrow.pyspark.enabled=true \
    --conf spark.sql.autoBroadcastJoinThreshold=67108864 \
    --conf spark.sql.session.timeZone=UTC \
    --conf spark.ui.enabled=false \
    --conf spark.locality.wait=0s \
    --py-files "$PKG" \
    "$REPO"/tools/cluster_scaling.py "$MODE" "$SF_DIR" "$REPLICAS" "$1" \
    2>/dev/null | grep '^{'
}

cleanup() {
  "$SPARK_HOME"/sbin/stop-worker.sh >/dev/null 2>&1
  "$SPARK_HOME"/sbin/stop-master.sh >/dev/null 2>&1
  pkill -f org.apache.spark.deploy.worker.Worker 2>/dev/null
  pkill -f org.apache.spark.deploy.master.Master 2>/dev/null
}
trap cleanup EXIT

cleanup; sleep 4
"$SPARK_HOME"/sbin/start-master.sh -h 127.0.0.1 -p 7077 >/dev/null
sleep 4

SPARK_WORKER_CORES=$CORES SPARK_WORKER_MEMORY=14g SPARK_WORKER_INSTANCES=1 \
  "$SPARK_HOME"/sbin/start-worker.sh "$MASTER_URL" >/dev/null
sleep 4
submit "$LEG" "$CORES" $((CORES / 2)) | tee -a "$OUT"

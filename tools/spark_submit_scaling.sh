#!/bin/bash
# One graft.ScalingBench level through spark-submit, on a fresh JVM — the one
# launch path of the scaling evidence (tools/scaling_bench.sh sends every
# probe and every level through here):
#
#   sbt -batch package
#   tools/spark_submit_scaling.sh <cpus> [pages] [roads] [spark-submit options...]
#
# The master is local[cpus]; options given after the roads are passed to
# spark-submit after the defaults, so they win. The multi-executor literal
# (SCALING_r5_cluster.json: 4 executor JVMs of 2 cores) is
#
#   tools/spark_submit_scaling.sh 8 6400000 256000 \
#     --master 'local-cluster[4,2,16384]' --driver-memory 16g \
#     --conf spark.executor.memory=14336m \
#     --conf spark.driver.extraJavaOptions='-XX:+AlwaysPreTouch -XX:ActiveProcessorCount=4' \
#     --conf spark.executor.extraJavaOptions='-XX:+AlwaysPreTouch -Xms14336m -XX:ActiveProcessorCount=2'
#
# and ScalingBench then runs its warm-up inside the measured session. The
# driver heap is SPARK_DRIVER_MEM, by default half the host's memory clamped
# to 2-8g. Prints the level's JSON line on stdout. spark-submit comes from
# $SPARK_HOME. A local-cluster level's executors leave app-* dirs under
# $SPARK_HOME/work; the ones this run created are removed when it ends.
set -eu
cd "$(dirname "$0")/.."
CPUS=${1:?usage: tools/spark_submit_scaling.sh <cpus> [pages] [roads] [spark-submit options...]}
PAGES=${2:-400000}; ROADS=${3:-16000}
shift $(($# < 3 ? $# : 3))
JAR=target/scala-2.13/npmrdsosmconflationspark_2.13-0.1.0.jar
if [ ! -f "$JAR" ]; then
  echo "no $JAR: run 'sbt -batch package' first" >&2
  exit 1
fi
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
SPARK=${SPARK_HOME:?set SPARK_HOME to the Spark install}
WORK=$SPARK/work
HAD_WORK=$([ -d "$WORK" ] && echo 1 || true)
BEFORE=$(ls -d "$WORK"/app-* 2>/dev/null || true)
cleanup() {
  for d in "$WORK"/app-*; do
    if [ -d "$d" ] && ! grep -qxF "$d" <<< "$BEFORE"; then rm -rf "$d"; fi
  done
  # a work dir this run created goes too, but only while it is empty
  if [ -z "$HAD_WORK" ]; then rmdir "$WORK" 2>/dev/null || true; fi
}
trap cleanup EXIT
"$SPARK"/bin/spark-submit --master "local[$CPUS]" --driver-memory "$MEM" \
  --conf spark.driver.extraJavaOptions=-XX:+AlwaysPreTouch \
  "$@" --class graft.ScalingBench "$JAR" "$CPUS" "$PAGES" "$ROADS"

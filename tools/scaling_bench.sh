#!/bin/bash
# N -> 4N scaling evidence (BASELINE.md): the same conflation job on the same
# input at local[n] and local[4n], every level a fresh JVM through
# tools/spark_submit_scaling.sh, under the round-5 certificate's protocol:
#
#  - a probe is the certificate's: the job at 400000 pages / 16000 roads on
#    every host core; it is healthy at <= +8% of the median of 3 start-up
#    probes
#  - each level runs between a healthy pre-probe and a healthy post-probe,
#    else it is retried, at most 4 times, 2 minutes apart
#  - the level order alternates from bracket to bracket
#  - the shuffle directory (SPARK_LOCAL_DIRS, on tmpfs) is wiped before
#    every run
#  - segments and tiles must be equal across every run, else the script fails
#
#   bash tools/scaling_bench.sh [pages] [roads] [n] [brackets]
#
# Defaults are the certificate's: 6400000 256000 2 3. The JSON artifact,
# with the efficiency of medians and of each bracket, goes to stdout;
# progress goes to stderr and Spark's logs to target/scaling_bench.log.
set -eu
cd "$(dirname "$0")/.."
PAGES=${1:-6400000}; ROADS=${2:-256000}; N=${3:-2}; BRACKETS=${4:-3}
export SPARK_LOCAL_DIRS=/dev/shm/graft-scaling
LOG=target/scaling_bench.log
say() { echo "[scaling] $(date +%H:%M:%S) $*" >&2; }

sbt -batch package >"$LOG" 2>&1 || { say "sbt package failed, see $LOG"; exit 1; }

level() { # <cpus> <pages> <roads> -> the level's JSON line, empty if it failed
  rm -rf "$SPARK_LOCAL_DIRS"; mkdir -p "$SPARK_LOCAL_DIRS"
  tools/spark_submit_scaling.sh "$@" 2>>"$LOG" | grep -oE '\{"cpus".*\}' | tail -1
}
probe() { # -> seconds; a failed probe reads 1e9 and so is never healthy
  level "$(nproc)" 400000 16000 \
    | python3 -c 'import json, sys; print(json.loads(sys.stdin.read() or "{\"sec\": 1e9}")["sec"])'
}
healthy() { awk -v p="$1" -v b="$BASE" 'BEGIN { exit !(p <= b * 1.08) }'; }

BOOT=$(for i in 1 2 3; do probe; done | sort -g | tr '\n' ' ')
BASE=$(echo "$BOOT" | cut -d' ' -f2)
say "start-up probes $BOOT-> healthy at <= $BASE s x 1.08"

gated() { # <cpus> -> the level's JSON line with its probe bracket
  local attempt pre post run
  for attempt in 1 2 3 4; do
    pre=$(probe); post=-; run=-
    if healthy "$pre"; then
      run=$(level "$1" "$PAGES" "$ROADS")
      post=$(probe)
      if [ -n "$run" ] && healthy "$post"; then
        echo "${run%\}},\"pre_probe_sec\":$pre,\"post_probe_sec\":$post}"
        return 0
      fi
    fi
    say "local[$1] attempt $attempt unclean: pre-probe $pre s, run ${run:-failed}, post-probe $post s"
    if [ "$attempt" -lt 4 ]; then sleep 120; fi
  done
  say "local[$1]: no clean window in 4 attempts"
  return 1
}

RUNS=()
for b in $(seq 1 "$BRACKETS"); do
  ORDER="$N $((4 * N))"
  if [ $((b % 2)) = 0 ]; then ORDER="$((4 * N)) $N"; fi
  for c in $ORDER; do
    R=$(gated "$c") || exit 1
    say "bracket $b local[$c]: $R"
    RUNS+=("$b $R")
  done
done

python3 - "$PAGES" "$ROADS" "$N" "$BOOT" "$BASE" "${RUNS[@]}" <<'PY'
import json, statistics, sys
pages, roads, n, boot, base = sys.argv[1:6]
runs = [(int(r.split(" ", 1)[0]), json.loads(r.split(" ", 1)[1])) for r in sys.argv[6:]]
counts = {(r["segments"], r["tiles"]) for _, r in runs}
if len(counts) != 1:
    sys.exit(f"nondeterministic output: (segments, tiles) = {sorted(counts)}")
eff = lambda t_n, t_4n: round(t_n / t_4n / 4, 3)
lo, hi = int(n), 4 * int(n)
brackets = []
for b in sorted({b for b, _ in runs}):
    levels = [r for bb, r in runs if bb == b]
    by = {r["cpus"]: r for r in levels}
    brackets.append({"order": [r["cpus"] for r in levels], "N": by[lo], "4N": by[hi],
                     "efficiency": eff(by[lo]["sec"], by[hi]["sec"])})
med = {k: statistics.median(br[k]["sec"] for br in brackets) for k in ("N", "4N")}
segments, tiles = counts.pop()
print(json.dumps({
    "scale": {"pages": int(pages), "roads": int(roads)},
    "levels": {"N": f"local[{lo}]", "4N": f"local[{hi}]"},
    "segments": segments, "tiles": tiles,
    "protocol": "spark-submit per level; each level between healthy pre/post probes "
                "(the job at 400000 pages / 16000 roads on every host core, healthy "
                "<= median of 3 start-up probes +8%); level order alternated per "
                "bracket; shuffle dir wiped before every run",
    "boot_probes_sec": [float(x) for x in boot.split()],
    "boot_baseline_sec": float(base),
    "brackets": brackets,
    "median_sec": med,
    "efficiency_per_bracket": [br["efficiency"] for br in brackets],
    "efficiency_of_medians": eff(med["N"], med["4N"]),
}, indent=1))
PY

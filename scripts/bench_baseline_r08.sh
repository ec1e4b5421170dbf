#!/bin/bash
# Round-8 per-leg baseline: replays the frozen bench.py sequence leg by
# leg via bench.py's own CLI entry points, logging wall seconds per leg.
# bench.py itself is not modified.  Usage: bash bench_baseline_r08.sh <logfile>
set -u
LOG="${1:-/tmp/bench_r08_baseline.log}"
cd /root/repo
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
export SPARK_DRIVER_MEM=32g

stamp() { echo "$(date +%s.%N) $*" >> "$LOG"; }
leg() {
  local name="$1"; shift
  local t0=$(date +%s.%N)
  "$@" > "/tmp/bench_leg_${name}.json" 2> "/tmp/bench_leg_${name}.err"
  local rc=$?
  local t1=$(date +%s.%N)
  echo "LEG $name rc=$rc wall=$(echo "$t1 - $t0" | bc)" >> "$LOG"
}

: > "$LOG"
stamp START

leg queries python3 -c "
import json, bench
print(json.dumps(bench.query_bench('$SPARK_GRAFT_SF_DIR', $SPARK_GRAFT_CPUS)))
"
leg crawl   python3 bench.py --crawl-leg "local[$SPARK_GRAFT_CPUS]" "$SPARK_GRAFT_CPUS"
leg image   python3 bench.py --image-leg "$SPARK_GRAFT_CPUS"
leg ann     python3 bench.py --ann-leg "$SPARK_GRAFT_CPUS"

leg f_mor_640k    python3 bench.py --frontier-leg "$SPARK_GRAFT_CPUS" mor 10000
leg f_full_640k   python3 bench.py --frontier-leg "$SPARK_GRAFT_CPUS" full 10000
leg f_mor_160k    python3 bench.py --frontier-leg "$SPARK_GRAFT_CPUS" mor 2500
leg f_auto_4m2    python3 bench.py --frontier-leg "$SPARK_GRAFT_CPUS" auto 65600 5
leg f_full_4m2    python3 bench.py --frontier-leg "$SPARK_GRAFT_CPUS" full 65600 5
leg f_mor_chain   python3 bench.py --frontier-leg "$SPARK_GRAFT_CPUS" mor 10000 13 4

CP=/dev/shm/bench_r08_scale_corpus/corpus
rm -rf /dev/shm/bench_r08_scale_corpus; mkdir -p /dev/shm/bench_r08_scale_corpus
leg s_gencorpus python3 bench.py --gen-corpus "$CP"
leg s_lo2       python3 bench.py --crawl-leg 'local[2]' 2 --scale "$CP"
leg s_hi8       python3 bench.py --crawl-leg 'local[8]' 8 --scale "$CP"
leg s_bloom_ab  python3 bench.py --bloom-ab-leg 8 "$CP"
rm -rf /dev/shm/bench_r08_scale_corpus

stamp END

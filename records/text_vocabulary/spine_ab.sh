#!/bin/bash
# Alternating parent/change spinebench pairs; one build run per side first.
# Usage: spine_ab.sh <dir holding clean checkouts parent/ and change/> <first seed> <last seed>
set -u
top=$1
cd "$top"
run() { # side workload seed out
  echo "$(date +%T) $1 $2 seed $3" >> progress.txt
  (cd "$top/$1" && timeout 1200 python3 spinebench/run.py --workload $2 --seed $3 --seconds 15 --trace 0) >> $4 2>> $1.err
}
if [ ! -s build_parent.txt ]; then
  run parent etl 1 build_parent.txt
  run change etl 1 build_change.txt
fi
for seed in $(seq $2 $3); do
  for w in etl search; do
    if [ $((seed % 2)) -eq 1 ]; then run parent $w $seed spine_parent.txt; run change $w $seed spine_change.txt
    else run change $w $seed spine_change.txt; run parent $w $seed spine_parent.txt; fi
  done
done
echo "$(date +%T) done" >> progress.txt

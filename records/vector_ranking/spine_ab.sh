#!/bin/bash
# Alternating parent/change spinebench pairs; one build run per side first.
cd <scratch>/bench
run() { # side workload seed out
  local root=<scratch>/$1
  echo "$(date +%T) $1 $2 seed $3" >> progress.txt
  (cd $root && timeout 1200 python3 spinebench/run.py --workload $2 --seed $3 --seconds 15 --trace 0) >> $4 2>> $1.err
}
run parent etl 1 build_parent.txt
run change etl 1 build_change.txt
for seed in 31 32 33 34 35 36; do
  for w in etl search; do
    if [ $((seed % 2)) -eq 1 ]; then run parent $w $seed spine_parent.txt; run change $w $seed spine_change.txt
    else run change $w $seed spine_change.txt; run parent $w $seed spine_parent.txt; fi
  done
done
echo "$(date +%T) done" >> progress.txt

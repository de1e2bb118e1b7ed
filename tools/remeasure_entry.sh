#!/bin/bash
# Re-measure ONE entry (or a regex of entries) at the three bench scales and
# splice the fresh pooled minima into the committed artifacts — for when a
# single operator's plan changed and a full rebaseline of every entry
# would waste an hour re-timing 177 unchanged entries.
#
# Usage: tools/remeasure_entry.sh '^dd_span_scrub$'
# Requires: the rebaseline's pooled files (/tmp/bs01_pooled.json etc.) and
# scale tiles (${SF1TILE:-/tmp/sf1_r10}, ${SF10TILE:-/tmp/sf10_r10}) from the same code round.
# Run with NO other sbt/spark process alive.
set -e
cd /root/repo
REG=${1:?usage: remeasure_entry.sh '<nameRegex>' [tag]}
# optional second arg: short tag for the per-run files — a many-entry
# regex collapses to a TAG longer than NAME_MAX and every rm/write fails
TAG=${2:-$(echo "$REG" | tr -cd 'a-z0-9_' | cut -c1-120)}
# TAG is lossy (two regexes can collapse to one TAG), and a previous
# invocation that died mid-run under set -e can leave per-run files the
# brace-expansion pool step would silently re-splice — always start clean
rm -f /tmp/${TAG}01_*.json /tmp/${TAG}1_*.json /tmp/${TAG}10_*.json

for i in 1 2 3; do
  sbt -batch "runMain graft.BenchScale /root/testdata/sf0.1 2 /tmp/${TAG}01_$i.json \"$REG\""
done
for i in 1 2; do
  SPARK_DRIVER_MEM=64g SPARK_GRAFT_SHUFFLE=256 \
    sbt -batch "runMain graft.BenchScale ${SF1TILE:-/tmp/sf1_r10} 2 /tmp/${TAG}1_$i.json \"$REG\""
done
for i in 1 2 3; do
  SPARK_DRIVER_MEM=64g SPARK_GRAFT_SHUFFLE=256 \
    sbt -batch "runMain graft.BenchScale ${SF10TILE:-/tmp/sf10_r10} 2 /tmp/${TAG}10_$i.json \"$REG\""
done
python3 tools/pool_mins.py /tmp/${TAG}01_pooled.json /tmp/${TAG}01_{1,2,3}.json
python3 tools/pool_mins.py /tmp/${TAG}1_pooled.json /tmp/${TAG}1_{1,2}.json
python3 tools/pool_mins.py /tmp/${TAG}10_pooled.json /tmp/${TAG}10_{1,2,3}.json

python3 tools/splice_entry.py /tmp/bs01_pooled.json /tmp/${TAG}01_pooled.json
python3 tools/splice_entry.py /tmp/bs1_pooled.json /tmp/${TAG}1_pooled.json
python3 tools/splice_entry.py /tmp/bs10_pooled.json /tmp/${TAG}10_pooled.json

python3 tools/mk_bench_sf1.py /tmp/bs01_pooled.json /tmp/bs1_pooled.json BENCH_sf1.json
python3 tools/mk_bench_sf10.py /tmp/bs01_pooled.json /tmp/bs10_pooled.json BENCH_sf10.json
python3 tools/mk_bench_all.py BENCH_ALL.json \
  sf0.1=/tmp/bs01_pooled.json sf1=/tmp/bs1_pooled.json sf10=/tmp/bs10_pooled.json
echo "REMEASURE_SPLICE_DONE $REG"

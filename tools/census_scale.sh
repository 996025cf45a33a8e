#!/bin/bash
# Census scale rung: times a raw CensusSource collect against
# Normalize.censusPipeline into the noop sink at 1k, 10k and 85k tracts
# (85k: every US tract, the reference's 2023 pull), for one or more
# engine checkouts, and prints the per-tract slope between sizes.
#
#   tools/census_scale.sh <data-dir> [checkout ...]
#
# Inputs are generated once into <data-dir>/t<N>/ by repobench/gen.py
# (seed 1); 85k tracts take about 50 s and 51 MB per vintage. Each
# checkout (default: this one) is compiled with sbt if it has no
# target/scala-2.13/classes, then probed in spark-shell with the
# benchmark's session shape: local[3], 3 GB heap, shuffle width 3,
# graft.GraftExtensions. Each measure is the median of 4 timed reps
# after one discarded rep. spark-shell comes from SPARK_HOME if set,
# else from PATH.
# A development rung, not a benchmark workload.
set -euo pipefail
here="$(cd "$(dirname "$0")/.." && pwd)"
data="${1:?usage: tools/census_scale.sh <data-dir> [checkout ...]}"
shift
checkouts=("$@")
[ ${#checkouts[@]} -eq 0 ] && checkouts=("$here")
shell="${SPARK_HOME:+$SPARK_HOME/bin/}spark-shell"
sizes="1000 10000 85000"
export CENSUS_SCALE_DIR="$data" CENSUS_SCALE_TRACTS="$sizes"

for n in $sizes; do
  if [ ! -f "$data/t$n/truth.json" ]; then
    echo "generating $n tracts into $data/t$n" >&2
    python3 -c "import sys; sys.path.insert(0, '$here/repobench'); import gen; gen.census('$data/t$n', 1, $n)"
  fi
done

for ck in "${checkouts[@]}"; do
  ck="$(cd "$ck" && pwd)"
  if [ ! -d "$ck/target/scala-2.13/classes/graft" ]; then
    (cd "$ck" && sbt --batch -Dsbt.log.noformat=true compile >&2)
  fi
  CENSUS_SCALE_LABEL="$(basename "$ck")" "$shell" \
    --master 'local[3]' --driver-memory 3g \
    --driver-class-path "$ck/target/scala-2.13/classes" \
    --conf spark.sql.extensions=graft.GraftExtensions \
    --conf spark.sql.shuffle.partitions=3 \
    --conf spark.sql.session.timeZone=UTC \
    --conf spark.ui.enabled=false \
    -i "$here/tools/census_scale.scala" 2>/dev/null | grep '^census_scale '
done

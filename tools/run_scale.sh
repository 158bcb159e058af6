#!/bin/bash
# Scale-stress sweep for one query family: times the named queries with
# graft.Bench at x1 (Bench's default data dir, sf0.1), x3 and x10 (the
# GenScale duplicate-and-reseed dirs under target/scale), merges the three
# windows into BENCH_SCALE_<FAMILY>.json with scale_report.py, and
# refreshes SCALE_INDEX.json. One family at a time, one factor at a time, on an
# otherwise quiet machine — a contended window flags the per-factor
# canaries and scale_report exits 2 (indeterminate).
#
# usage: tools/run_scale.sh FAMILY QUERY [QUERY ...]
#   e.g. tools/run_scale.sh R15D q_sql_widen q_table_changes q_sql_clone
set -euo pipefail
cd "$(dirname "$0")/.."

if [ $# -lt 2 ]; then
  echo "usage: $0 FAMILY QUERY [QUERY ...]" >&2
  exit 64
fi
fam=$1
shift

CP="target/scala-2.13/classes:$(ls "${SPARK_HOME:?set SPARK_HOME}"/jars/*.jar | tr '\n' ':')"
OPENS=$(for p in java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do echo --add-opens=$p=ALL-UNNAMED; done)

declare -A DIRS=([x3]="target/scale/x3" [x10]="target/scale/x10")

args=""
for f in x1 x3 x10; do
  out="/tmp/bench_${fam}_${f}.json"
  echo ">>> $fam @ $f (${DIRS[$f]:-Bench default})"
  env ${DIRS[$f]:+"SPARK_GRAFT_SF_DIR=${DIRS[$f]}"} SPARK_GRAFT_CPUS=32 \
      SPARK_GRAFT_ONLY="$*" SPARK_GRAFT_BENCH_OUT="$out" \
    java $OPENS -Xmx8g -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC -cp "$CP" graft.Bench \
      2>/dev/null | tail -1 || true # a failed query still writes the
      # artifact; scale_report's provenance gate judges it below
  args="$args $f:$out"
done
python3 tools/scale_report.py "BENCH_SCALE_${fam}.json" $args \
  && echo "$fam: clean" || echo "$fam: exit $? (2=indeterminate window, 1=superlinear)"
python3 tools/scale_index.py

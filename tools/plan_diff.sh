#!/usr/bin/env bash
# Plan-identity check for a refactor of the lazy builders listed in
# tools/PlanDump.scala (the user-graph edge builders, the Dedup near-dup
# operators, the lazy KG pipeline and four graph operators on the user
# graph): dumps their formatted physical plans
# in a base checkout and in a changed one, normalizes expression, plan and
# RDD ids, and diffs. Exit status 0 and no diff output means the plans are
# identical.
#
# usage: tools/plan_diff.sh <baseCheckout> <changedCheckout> <sfDir> <workDir>
# e.g.   mkdir -p /tmp/base && git archive <parent> | tar -x -C /tmp/base
#        tools/plan_diff.sh /tmp/base . <testdata>/sf0.01 /tmp/plans
# sbt runs with the caller's COURSIER_MODE/SBT_OPTS (offline settings).
set -euo pipefail
mkdir -p "$4"
base=$(cd "$1" && pwd); change=$(cd "$2" && pwd); sf=$3; work=$(cd "$4" && pwd)
dump=$(cd "$(dirname "$0")" && pwd)/PlanDump.scala
for side in base change; do
  dir=${!side}
  (cd "$dir" && sbt --batch -Dsbt.log.noformat=true \
    "set Test / unmanagedSources += file(\"$dump\")" \
    "Test/runMain graft.PlanDump $sf $work/$side.raw" >"$work/$side.log" 2>&1) \
    || { echo "PlanDump failed in $dir; see $work/$side.log" >&2; exit 2; }
  # ids: expression #12, [plan_id=3], [id=#7], RDD ids like ExistingRDD[5],
  # the source line of an RDD's call site ("at map at Dedup.scala:266"),
  # and the JVM identity of a typed operator's function object
  # ("KgPipeline$$$Lambda$4589/0x00007f4e393207b0@664c6bbc")
  sed -E -e 's/#[0-9]+/#N/g' -e 's/plan_id=[0-9]+/plan_id=N/g' \
    -e 's/RDD\[[0-9]+\]/RDD[N]/g' -e 's/(\.scala):[0-9]+/\1:N/g' \
    -e 's/Lambda(\$[0-9]+)?\/0x[0-9a-f]+@[0-9a-f]+/Lambda/g' \
    "$work/$side.raw" >"$work/$side.txt"
done
diff -u "$work/base.txt" "$work/change.txt"

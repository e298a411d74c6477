#!/usr/bin/env bash
# Plans-at-scale audit: dump the formatted plans of the heaviest
# queries and assert the runtime branch gates (q17 adaptive cosine,
# q87 adjacency broadcast) chose the DOCUMENTED branch in BOTH
# regimes: sf0.1 (dense + broadcast) and sf10 (postings + broadcast at
# the pinned 80g bench heap).
# Committed artifacts: PLANS_SF01.md, PLANS_SF10.md.
set -euo pipefail
cd "$(dirname "$0")/.."

CPUS=${SPARK_GRAFT_CPUS:-16}
# Frozen-jar classpath: a long-running gate JVM loads classes lazily, so
# running `sbt compile` mid-gate would swap class files under it. The jar
# is written once by `sbt package` and untouched by later compiles.
JAR=$(ls target/scala-2.13/*_2.13-*.jar 2>/dev/null | head -1)
CP="$JAR:/opt/spark/jars/*"
JOPTS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io \
    java.net java.nio java.util java.util.concurrent \
    java.util.concurrent.atomic; do
  printf -- "--add-opens=java.base/%s=ALL-UNNAMED " "$p"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  printf -- "--add-opens=java.base/%s=ALL-UNNAMED " "$p"
done)

sbt -batch package
JAR=$(ls target/scala-2.13/*_2.13-*.jar | head -1); CP="$JAR:/opt/spark/jars/*"

echo "== plan audit at sf0.1 (documented: dense + broadcast) =="
SPARK_GRAFT_CPUS=$CPUS java $JOPTS -Xmx16g -cp "$CP" \
  graft.GateAudit /root/testdata/sf0.1 PLANS_SF01.md dense broadcast

# r13: the q87 adjacency budget is heap-derived (Graph.
# defaultMaxBroadcastEdges), so the audit must run at the SAME heap the
# sf10 bench uses (run_sf10_bench.sh: 80g) to document the branch the
# bench actually exercises: at 80g the 119.6M-edge sf10 graph fits the
# ~156M-edge budget and the endpoint join broadcasts. The small-heap
# shuffle fallback stays spec-proven (PlanQualitySpec, budget=0).
# The heap is PINNED here (SPARK_GRAFT_XMX deliberately ignored for
# this step, ADVICE r13): the "broadcast" expectation below is only
# true at the bench heap — an override under ~62g flips the derived
# budget below sf10's 119.6M edges and would fail the gate with a
# confusing mismatch rather than auditing anything.
echo "== plan audit at sf10 (documented: postings + broadcast at the 80g bench heap) =="
[ -f testdata/sf10/_GRAFT_COMPLETE ] || python3 tools/gen_sf1.py /root/testdata/sf0.1 testdata/sf10 100
SPARK_GRAFT_CPUS=$CPUS java $JOPTS -Xmx80g -cp "$CP" \
  graft.GateAudit "$PWD/testdata/sf10" PLANS_SF10.md postings broadcast

if [ -f testdata/sf100/_GRAFT_COMPLETE ]; then
  # sf100's ~1.2B-edge graph is past the budget at ANY heap (256M cap):
  # the shuffled equi-joins remain the documented branch there.
  echo "== plan audit at sf100 (documented: postings + shuffle) =="
  SPARK_GRAFT_CPUS=$CPUS java $JOPTS -Xmx${SPARK_GRAFT_XMX:-80g} -cp "$CP" \
    graft.GateAudit "$PWD/testdata/sf100" PLANS_SF100.md postings shuffle
  echo "plan audit complete: PLANS_SF01.md PLANS_SF10.md PLANS_SF100.md"
else
  echo "plan audit complete: PLANS_SF01.md PLANS_SF10.md (sf100 corpus absent)"
fi

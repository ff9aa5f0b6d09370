#!/usr/bin/env bash
# Job C (MinHash near-dup end-to-end) CORPUS-SIZE sweep at a FIXED 32
# pinned cores — the falsifiable test of the round-4 DRAM-ceiling claim
# (VERDICT r4 next #5): the pipeline's work is linear in the corpus
# (disjoint-shingle replicas, see BenchData.ensureTextCorpus), so if the
# plan is sound, docs/sec at 32 cores holds FLAT as the corpus doubles
# and quadruples; a super-linear falloff would instead indict the plan
# (quadratic pairing, driver serialization), not memory bandwidth.
#
#   REPS=2 LEVELS="400 800 1600" scripts/scaling-jobc-sweep.sh
#
# Pre-generate the corpora first (unpinned, 32 cores):
#   sbt -batch "runMain graft.BenchData text400 text800 text1600"
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch compile >/dev/null 2>&1

CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
SYSPROPS="-Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Dspark.sql.optimizer.excludedRules=org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate -XX:ReservedCodeCacheSize=1g"

REPS="${REPS:-2}"
LEVELS="${LEVELS:-400 800 1600}"
RESULTS=""
for i in $(seq "$REPS"); do
  for lvl in $LEVELS; do
    R=$(SPARK_GRAFT_SCALE_JOB=minhash SPARK_GRAFT_MINHASH_REPLICAS="$lvl" \
      taskset -c 0-31 java -Xms64g -Xmx64g $SYSPROPS $OPENS -cp "$CP" \
      graft.ScalingOne 32 2>/dev/null | grep '"cpus"')
    echo "replicas=$lvl $R"
    RESULTS="$RESULTS $lvl:$R"
  done
done
python3 - $RESULTS <<'PY'
import json, sys
best = {}
for a in sys.argv[1:]:
    lvl, payload = a.split(":", 1)
    r = json.loads(payload)
    if lvl not in best or r["sec"] < best[lvl]["sec"]:
        best[lvl] = r
rows = sorted(best.items(), key=lambda kv: int(kv[0]))
base = rows[0][1]["docs_per_sec"]
print(json.dumps({"metric": "Job C docs/sec vs corpus size at 32 pinned cores (min-of-reps)",
  "levels": [{"replicas": int(l), "docs": r["docs"], "sec": r["sec"],
              "docs_per_sec": r["docs_per_sec"],
              "vs_smallest": round(r["docs_per_sec"] / base, 4)}
             for l, r in rows]}))
PY

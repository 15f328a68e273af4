#!/usr/bin/env bash
# Two-cluster-size scaling protocol (BASELINE.md): the same pipeline
# job via spark-submit at N=1 and 4N=4 executors (2 cores each), one
# fresh submit per level, identical parquet spans-table input,
# min-of-reps, and the output checksum from the same session.
# Prints the per-level JSONs and the efficiency.
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
JAR=target/scala-2.13/strephitspark_2.13-0.1.0.jar
# always rebuild: a jar left from an earlier checkout would measure old code
sbt -batch package
SUBMIT=/opt/spark/bin/spark-submit
run() { # nExec coresPerExec
  SPARK_GRAFT_SCALE_REPL="${SPARK_GRAFT_SCALE_REPL:-100}" \
  SPARK_GRAFT_SF_DIR="$SF_DIR" \
  "$SUBMIT" --master "local-cluster[$1,$2,4096]" --driver-memory 8g \
    --class graft.tools.Scaling "$JAR" "$1" "$2" 2>/dev/null | grep '"metric"'
}
L1=$(run 1 2); echo "$L1"
L4=$(run 4 2); echo "$L4"
python3 - "$L1" "$L4" <<'EOF'
import json, sys
l1, l4 = (json.loads(a) for a in sys.argv[1:3])
tp1, tp4 = l1["docs_per_sec"], l4["docs_per_sec"]
eff = tp4 / (4.0 * tp1)
print(json.dumps({
  "metric": "scaling_efficiency", "value": round(eff, 3), "unit": "ratio",
  "docs": l1["docs"], "triples": l1["triples"],
  "docs_per_sec_1x2": tp1, "docs_per_sec_4x2": tp4,
  "sec_1x2": l1["sec"], "sec_4x2": l4["sec"],
  "identical_outputs": (l1["triples"] == l4["triples"]
                        and l1["checksum"] == l4["checksum"])}))
EOF

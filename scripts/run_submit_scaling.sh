#!/usr/bin/env bash
# north_rule evidence: the job runs via `spark-submit --py-files` at two
# parallelism levels (N and 4N cores) on the same input. Packages the
# engine as a zip (no repo checkout on the "cluster"), submits the
# streaming curate job at local[2] and local[8], prints both JSON
# summaries (curated_rows must match across levels — the parity check).
#
# Usage: scripts/run_submit_scaling.sh [source_dir]
#   source_dir  prepared replay layout (default: tiny smoke fixture;
#               build a throughput-sized one with
#               `python bench.py --prepare-src 4000000 /tmp/dhs_submit_src_big`)
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SRC="${1:-/tmp/dhs_submit_src}"
PKG=/tmp/dhs_pkg.zip

if [ ! -d "$SRC" ]; then
  python - <<EOF
import sys; sys.path.insert(0, "$REPO")
from data_harvesting_spark.generator import write_batches
write_batches("$SRC", n_convs=400, seed=11, n_batches=8)
EOF
fi

rm -f "$PKG"
(cd "$REPO" && zip -qr "$PKG" data_harvesting_spark -x '*__pycache__*')

for CORES in 2 8; do
  WD="/tmp/dhs_submit_run_${CORES}"
  rm -rf "$WD"
  spark-submit --master "local[$CORES]" \
    --conf spark.sql.shuffle.partitions=8 \
    --conf spark.sql.session.timeZone=UTC \
    --conf spark.ui.enabled=false \
    --conf spark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider \
    --py-files "$PKG" \
    "$REPO/scripts/submit_curate.py" \
    --source "$SRC" --workdir "$WD" --stream 2>/dev/null | tail -1
done

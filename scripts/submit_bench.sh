#!/usr/bin/env bash
# Run the benchmark via spark-submit --py-files (the cluster-shaped launch
# path per BASELINE.json): package the engine as a zip, submit bench.py.
# Usage: scripts/submit_bench.sh [--scaling | --plans OUT_DIR [query ...]]
# (the arguments go to bench.py, which refuses any others)
set -euo pipefail
cd "$(dirname "$0")/.."

ZIP=/tmp/datavec_spark_pkg.zip
rm -f "$ZIP"
python - <<'EOF'
import os, zipfile
with zipfile.ZipFile("/tmp/datavec_spark_pkg.zip", "w") as z:
    for root, _, files in os.walk("datavec_spark"):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                z.write(p, p)
    z.write("__spark_entry__.py", "__spark_entry__.py")
EOF

# defaults sized from the host, as bench.py does; set variables win
CPUS="${SPARK_GRAFT_CPUS:-$(python -c 'from perfbench.common import host_cores; print(host_cores())')}"
MEM="${SPARK_GRAFT_DRIVER_MEM:-$(python -c 'from perfbench.common import heap_gb; print(heap_gb())')g}"
MASTER="${SPARK_GRAFT_MASTER:-local[$CPUS]}"
exec spark-submit \
  --master "$MASTER" \
  --driver-memory "$MEM" \
  --py-files "$ZIP" \
  bench.py "$@"

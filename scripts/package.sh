#!/bin/sh
# Build dist/timberline_spark.zip for `spark-submit --py-files`.
#
#   spark-submit --py-files dist/timberline_spark.zip \
#       run_pipeline.py --sf-dir ... --out ... --run-id ...
#
# The zip is reproducible: entries are sorted and carry a fixed timestamp
# and fixed permissions, so the same sources always give the same bytes.
set -e
cd "$(dirname "$0")/.."
mkdir -p dist
python - <<'EOF'
import zipfile, pathlib
root = pathlib.Path(".")
with zipfile.ZipFile("dist/timberline_spark.zip", "w", zipfile.ZIP_DEFLATED) as z:
    for p in sorted((root / "timberline_spark").rglob("*.py")):
        info = zipfile.ZipInfo(p.as_posix(), date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        info.external_attr = 0o644 << 16
        z.writestr(info, p.read_bytes())
print("wrote dist/timberline_spark.zip")
EOF

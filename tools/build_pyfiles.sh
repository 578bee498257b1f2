#!/usr/bin/env bash
# Build the spark-submit --py-files artifact (north_star packaging).
# Deterministic: the same sources give a byte-identical zip (sorted
# entries, fixed entry mtimes and modes, no extra fields).
set -euo pipefail
cd "$(dirname "$0")/.."
export TZ=UTC LC_ALL=C
stage="$(mktemp -d)"
trap 'rm -rf "$stage"' EXIT
mkdir "$stage/sparklink"
cp sparklink/*.py "$stage/sparklink/"
cp models/transcript_model.json "$stage/"
chmod 644 "$stage"/sparklink/*.py "$stage/transcript_model.json"
touch -d "1980-01-01 00:00:00" "$stage"/sparklink/*.py "$stage/transcript_model.json"
mkdir -p dist
rm -f dist/sparklink.zip
out="$(pwd)/dist/sparklink.zip"
(cd "$stage" && printf '%s\n' sparklink/*.py transcript_model.json | zip -qX "$out" -@)
echo "dist/sparklink.zip:"
unzip -l dist/sparklink.zip | tail -3

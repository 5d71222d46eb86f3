#!/usr/bin/env bash
# One oracle run for one scale factor: every SparkEntry query through
# graft.Verify, then the DuckDB compare of tools/check.py, then the
# per-query report copied to CORRECTNESS_local.json at the repo root.
#
# Usage: tools/oracle.sh <sf> [outdir]
#   <sf>      a scale-factor directory listed in TESTDATA.md (e.g. sf0.01)
#   [outdir]  where Verify writes its parquet results
#             (default: target/oracle_<sf>); it is DELETED first, so a
#             given outdir that exists must be an earlier Verify output
#             (one that holds oracle_sql.json), else the script refuses
# Exits non-zero when Verify fails or any query FAILs the compare; a
# compare with FAILs still copies its report, so the failure is recorded.
set -euo pipefail

sf="${1:?usage: tools/oracle.sh <sf> [outdir]}"
root="$(cd "$(dirname "$0")/.." && pwd)"
data="/root/testdata/$sf"
out="${2:-$root/target/oracle_$sf}"
case "$out" in /*) ;; *) out="$PWD/$out" ;; esac
[ -d "$data" ] || { echo "no test data at $data" >&2; exit 2; }

if [ -n "${2:-}" ] && [ -e "$out" ] && [ ! -f "$out/oracle_sql.json" ]; then
  echo "refusing to delete $out: not an earlier Verify output (no oracle_sql.json)" >&2
  exit 2
fi

cd "$root"
rm -rf "$out"
sbt -batch "runMain graft.Verify $data $out"
status=0
python3 tools/check.py "$data" "$out" || status=$?
cp "$out/correctness.json" CORRECTNESS_local.json
exit "$status"

#!/bin/bash
# Correctness gate at two core counts. Runs graft.Verify and the DuckDB
# oracle compare (scripts/check.py) at SPARK_GRAFT_CPUS=2 and at nproc,
# then byte-compares the two runs' Spark outputs in canonical form
# (columns sorted by name, rows sorted), so no result may depend on the
# partition layout.
#
# Usage: scripts/gate.sh [sfDir]          (default: the sf0.01 test data)
# Prints "gate <cores> cores: <passed>/<queries>" per run; exits non-zero
# if a query fails in Verify or in the compare, or the outputs differ.
set -uo pipefail
cd "$(dirname "$0")/.."
sf="${1:-/root/testdata/sf0.01}"
work="$(mktemp -d)"
trap 'rm -rf "$work"' EXIT
status=0
runs=()
for cpus in 2 "$(nproc)"; do
  run="$work/c$cpus"
  runs+=("$run")
  SPARK_GRAFT_CPUS="$cpus" sbt -batch "runMain graft.Verify $sf $run/out" \
    >"$run.log" 2>&1 || { tail -20 "$run.log"; status=1; }
  python3 scripts/check.py "$sf" "$run/out" >"$run.check" || status=1
  grep -v '\[PASS' "$run.check"
  # canonical dump: one CSV per query, sorted columns and rows
  python3 - "$run" <<'PY' || status=1
import glob, os, sys
import duckdb
run = sys.argv[1]
os.makedirs(f"{run}/canon")
con = duckdb.connect()
for d in sorted(glob.glob(f"{run}/out/*/")):
    name = os.path.basename(d.rstrip("/"))
    rel = con.sql(f"SELECT * FROM '{d}*.parquet'")
    cols = ", ".join(f'"{c}"' for c in sorted(rel.columns))
    con.sql(f"COPY (SELECT {cols} FROM '{d}*.parquet' ORDER BY ALL) "
            f"TO '{run}/canon/{name}.csv' (HEADER)")
PY
  failed=$(grep -c '\[verify\] .* failed' "$run.log")
  passed=$(grep -cE '\[PASS|\[rows-only\].* OK$' "$run.check")
  dumped=$(ls "$run/canon" | wc -l)
  echo "gate $cpus cores: $passed/$((dumped + failed))"
  [ "$failed" -eq 0 ] && [ "$passed" -eq "$dumped" ] || status=1
done
if diff -r "${runs[0]}/canon" "${runs[1]}/canon" >"$work/diff"; then
  echo "outputs byte-identical at both core counts"
else
  head -20 "$work/diff"
  echo "outputs DIFFER between core counts"
  status=1
fi
exit $status

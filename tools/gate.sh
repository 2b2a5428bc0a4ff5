#!/bin/sh
# One-command oracle gate: dump every gate query with graft.Verify, then
# compare each against its DuckDB oracle with tools/check.py. Exits 0
# only when all 162 queries hash-match.
#
# Usage: tools/gate.sh <sfDir>     e.g. tools/gate.sh <testdata>/sf0.001
# Runs from anywhere inside the repo; sbt settings (SBT_OPTS,
# SPARK_DRIVER_MEM, SPARK_GRAFT_CPUS) come from the environment.
set -eu
[ $# -eq 1 ] || { echo "usage: $0 <sfDir>" >&2; exit 2; }
expected=162
sf=$(cd "$1" && pwd)
repo=$(git rev-parse --show-toplevel)
out=$(mktemp -d "${TMPDIR:-/tmp}/graft-gate.XXXXXX")
trap 'rm -rf "$out"' EXIT
cd "$repo"
# train the quantizers with the code under test: the stored centroids
# and PQ codebooks are keyed by the corpus alone, so the default store
# would serve floats an earlier build trained
sbt --batch "set javaOptions ++= Seq(\"-Dspark.graft.centroids.dir=$out/centroids\", \"-Dspark.graft.pq.dir=$out/pq\")" \
  "runMain graft.Verify $sf $out/dump" >"$out/verify.log" 2>&1 || {
  tail -n 40 "$out/verify.log" >&2
  echo "gate: graft.Verify failed" >&2
  exit 1
}
grep '\[verify\].*failed' "$out/verify.log" >&2 || true
python3 tools/check.py "$sf" "$out/dump" | tee "$out/check.log" |
  grep -v '^PASS ' || true
# report only: exchanges PLANS.txt shows planned twice (never fails the gate)
python3 tools/dup_exchanges.py PLANS.txt || true
summary=$(tail -n 1 "$out/check.log")
case "$summary" in
  "== $expected pass / 0 fail ==")
    echo "gate: $expected/$expected hash-equal" ;;
  *) echo "gate: FAILED ($summary; want $expected pass / 0 fail)" >&2
     exit 1 ;;
esac

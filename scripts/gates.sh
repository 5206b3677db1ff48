#!/usr/bin/env bash
# One-command gate runner (r8-verdict #7): the full ScalaTest battery,
# both runtime probes — ScaleProbe (per-class growth bounds + the
# no-cartesian assert at 5x, exit 1 on violation) and SpillProbe
# (spill engages under a tight memory budget with bit-identical
# results) — the DuckDB oracle over every declared query at sf0.01
# (Verify, then scripts/oracle_check.py, which exits 1 on any bad key)
# and one untimed perfbench run per workload, which must
# build, run and end with "correct": true. Each stage's exit code is
# printed and the script exits non-zero if ANY stage failed, so
# "bash scripts/gates.sh" is the whole CI-style verdict.
#
# Usage: bash scripts/gates.sh [sfDir]   (default /root/testdata/sf0.1)
set -u
SF="${1:-/root/testdata/sf0.1}"
declare -A codes

run() { # name, command...
  local name="$1"; shift
  echo "== gate: $name =="
  "$@"
  codes[$name]=$?
  echo "== gate: $name exit ${codes[$name]} =="
}

export SPARK_GRAFT_SF_DIR="$SF"
run battery sbt -batch test
run scaleprobe sbt -batch "runMain graft.ScaleProbe"
run spillprobe sbt -batch "runMain graft.SpillProbe"

# every declared query against its DuckDB oracle, at sf0.01 (the
# fixture next to the probes' one)
oracle() {
  local sf out rc
  sf="$(dirname "$SF")/sf0.01"
  out="$(mktemp -d)"
  sbt -batch "runMain graft.Verify $sf $out" &&
    python3 scripts/oracle_check.py "$sf" "$out"
  rc=$?
  rm -rf "$out"
  return $rc
}
run oracle oracle

# perfbench compiles against GraftSession.local/install, SparkEntry and
# Tables: a run that fails to build, throws, or checks an output wrong
# fails the stage. The verdict is the last stdout line's "correct".
perfbench() {
  local w last rc=0
  for w in analytics lakehouse_dml; do
    last="$(python3 perfbench/run.py --workload "$w" --seed 1 --seconds 0 --trace 0 | tail -n 1)"
    echo "$w: $last"
    case "$last" in *'"correct": true'*) ;; *) rc=1 ;; esac
  done
  return $rc
}
run perfbench perfbench

fail=0
echo "== gate summary =="
for k in battery scaleprobe spillprobe oracle perfbench; do
  echo "$k: exit ${codes[$k]}"
  [ "${codes[$k]}" -ne 0 ] && fail=1
done
exit $fail

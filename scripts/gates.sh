#!/usr/bin/env bash
# One-command gate runner (r8-verdict #7): the full ScalaTest battery,
# both runtime probes — ScaleProbe (per-class growth bounds + the
# no-cartesian assert at 5x, exit 1 on violation) and SpillProbe
# (spill engages under a tight memory budget with bit-identical
# results) — the DuckDB oracle over every declared query at sf0.01
# (Verify, then scripts/oracle_check.py, which exits 1 on any bad key)
# and one untimed perfbench run per workload, which must
# build, run, end with "correct": true and keep its JIT code cache
# under 90% full. Each stage's exit code is
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

# The engine's JIT code cache must keep headroom over its compiled
# working set: near full, the sweeper flushes compiled methods that
# later passes compile again, and when full the JVM stops compiling.
# Reads the JVM's -XX:+PrintCodeCache exit report from a run's log and
# fails when a heap's max_used reaches 90% of its size.
codecache() { # log
  local lines
  if grep -q 'CodeCache is full' "$1"; then echo "$1: CodeCache is full"; return 1; fi
  lines="$(grep -E 'size=[0-9]+Kb .*max_used=[0-9]+Kb' "$1")" ||
    { echo "$1: no code cache report"; return 1; }
  echo "$lines"
  awk '{ for (i = 1; i <= NF; i++) { split($i, kv, "="); v[kv[1]] = kv[2] + 0 }
         if (v["max_used"] >= 0.9 * v["size"]) bad = 1 }
       END { exit bad }' <<<"$lines"
}

# perfbench compiles against GraftSession.local/install, SparkEntry and
# Tables: a run that fails to build, throws, or checks an output wrong
# fails the stage. The verdict is the last stdout line's "correct",
# and then the code cache's headroom in the run's log.
perfbench() {
  local w last rc=0
  for w in analytics lakehouse_dml; do
    last="$(JAVA_TOOL_OPTIONS=-XX:+PrintCodeCache python3 perfbench/run.py \
      --workload "$w" --seed 1 --seconds 0 --trace 0 | tail -n 1)"
    echo "$w: $last"
    case "$last" in *'"correct": true'*) ;; *) rc=1 ;; esac
    codecache "perfbench/work/runs/$w-s1-t0.log" || rc=1
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

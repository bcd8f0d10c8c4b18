#!/usr/bin/env bash
# Fresh-JVM per-query bench (r15 verdict #7): the 88-query bench session
# accumulates JVM/session state that taxes late shuffle-heavy queries, so
# an apparent per-query regression in a long capture must be adjudicated
# against a FRESH-JVM re-run of just that query (the r15 RECHECK pattern,
# now a tool). Each query prefix gets its own sbt runMain graft.Bench
# invocation (own JVM, own canary stamp) via SPARK_GRAFT_BENCH_ONLY; the
# compact JSON line of each run is appended to the output file, so every
# sample is canary-stamped and independently warm-medianed. sbt's stderr
# goes to a per-group log next to the output; a run whose last stdout
# line is not a JSON object fails the script, naming that log.
#
# Usage:
#   tools/bench_fresh.sh OUT.jsonl q18,dd06 [more,groups ...]
# Env (same contract as Bench): SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
# SPARK_GRAFT_BENCH_STRICT.
set -euo pipefail
out="$1"; shift
: > "$out"
for group in "$@"; do
  echo "[bench_fresh] $group" >&2
  log="${out%.jsonl}.$group.log"
  line=$(SPARK_GRAFT_BENCH_ONLY="$group" \
    SPARK_GRAFT_BENCH_VERBOSE_PATH="${out%.jsonl}.$group.verbose.json" \
    sbt -batch "runMain graft.Bench" 2> >(tee "$log" >&2) | tail -1) || true
  if ! printf '%s' "$line" | python3 -c \
      'import json, sys; assert isinstance(json.load(sys.stdin), dict)' \
      2>/dev/null; then
    echo "[bench_fresh] $group: last output line is not JSON; see $log" >&2
    exit 1
  fi
  printf '%s\n' "$line" >> "$out"
  echo "$line" >&2
done

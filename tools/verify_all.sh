#!/usr/bin/env bash
# One-command round-end correctness ritual: dump every SparkEntry query
# at BOTH gate scales (sf0.001 + sf0.01, one sbt invocation) and compare
# each against the DuckDB oracle, printing one summary line per scale.
# Each scale's per-query digests (tools/check.py --digests) land in
# /tmp/verify_all_<scale>.digests; `diff` two commits' files to compare
# their outputs.
# Usage: tools/verify_all.sh [extra-scale-dir ...]
#   tools/verify_all.sh                      # the two gate scales
#   tools/verify_all.sh /root/testdata/sf0.1 # gates + the bench scale
set -u
cd "$(dirname "$0")/.."
scales=(/root/testdata/sf0.001 /root/testdata/sf0.01 "$@")
cmds=()
outs=()
for sf in "${scales[@]}"; do
  out="/tmp/verify_all_$(basename "$sf")"
  outs+=("$out")
  cmds+=("runMain graft.Verify $sf $out")
done
log=/tmp/verify_all_sbt.log
sbt -batch "${cmds[@]}" >"$log" 2>&1
rc=$?
if [ $rc -ne 0 ]; then
  echo "verify_all: sbt FAILED (rc=$rc) — see $log"
  tail -5 "$log"
  exit $rc
fi
status=0
summary=""
for i in "${!scales[@]}"; do
  line=$(python3 tools/check.py "${scales[$i]}" "${outs[$i]}" \
    --digests "${outs[$i]}.digests" | tail -1)
  case "$line" in *" BAD=0") ;; *) status=1 ;; esac
  summary+="$(basename "${scales[$i]}"): $line | "
done
echo "verify_all: ${summary%??}(log $log)"
exit $status

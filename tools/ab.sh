#!/usr/bin/env bash
# Interleaved A/B — the bench-regression triage ritual as a
# tool. Three rounds in a row (r15 s8, r16 st11, the r16 verdict's
# st8/st17) burned hours hand-deriving "ambient scheduling band, not
# code": identical code swung 3-4x across invocations minutes apart on
# this box. This script settles any claimed regression mechanically:
# export the reference ref, run the SAME query list
# through graft.Bench in A,B,A,B interleaved legs (so both sides
# sample the same ambient), and print the per-leg table. If the A and
# B bands overlap, the delta is environment; only a separation that
# survives every interleaved leg is a code signal.
#
# The A side is exported with `git archive` into a fresh directory
# under $TMPDIR (default /tmp), removed on exit with the leg results.
#
# Usage: tools/ab.sh <ref> <query[,query,...]> [pairs] [sfdir]
#   ref      git ref for the A side (B side is the current worktree)
#   queries  comma-separated SPARK_GRAFT_ONLY list of full query names
#            (st8_stream_join, not st8); a leg that ran no query stops
#            the script
#   pairs    number of A,B leg pairs (default 2)
#   sfdir    data dir (default $SPARK_GRAFT_SF_DIR or testdata/sf0.1)
#
# Each leg is an ISOLATED JVM (own sbt runMain) with best-of-2 inside
# graft.Bench, exactly like the driver's sweep. Expect ~1 min of sbt
# compile of the A copy.
set -euo pipefail

REF="${1:?usage: tools/ab.sh <ref> <queries> [pairs] [sfdir]}"
QUERIES="${2:?usage: tools/ab.sh <ref> <queries> [pairs] [sfdir]}"
PAIRS="${3:-2}"
SFDIR="${4:-${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}}"

ROOT="$(git rev-parse --show-toplevel)"
SHORT="$(git rev-parse --short "$REF")"
WT="$(mktemp -d "${TMPDIR:-/tmp}/graft-ab-$SHORT.XXXXXX")"
# graft.Bench rewrites the tracked BENCH_DETAIL.json in the directory
# it runs in, and the B legs run in this checkout: keep its copy and
# put it back on exit
SAVED_DETAIL="$WT.BENCH_DETAIL.json"
if [ -f "$ROOT/BENCH_DETAIL.json" ]; then
  cp "$ROOT/BENCH_DETAIL.json" "$SAVED_DETAIL"
fi
trap 'if [ -f "$SAVED_DETAIL" ]; then mv "$SAVED_DETAIL" "$ROOT/BENCH_DETAIL.json"; fi; rm -rf "$WT"' EXIT
git -C "$ROOT" archive "$REF" | tar -x -C "$WT"

run_leg() { # $1 = dir, $2 = label, $3 = outfile
  ( cd "$1" && SPARK_GRAFT_SF_DIR="$SFDIR" SPARK_GRAFT_ONLY="$QUERIES" \
      sbt -batch "runMain graft.Bench" 2>/dev/null \
    | grep '"metric"' | tail -1 | sed 's/^.*{"metric"/{"metric"/' ) \
    > "$3" || true
  echo "  [$2] $(cat "$3")"
  if grep -q '"n_queries":0,' "$3"; then
    echo "ab.sh: no query matched $QUERIES" >&2
    exit 1
  fi
}

# pre-compile both sides OUTSIDE the timed legs
echo "compiling A=$SHORT and B=HEAD ..."
( cd "$WT" && sbt -batch compile >/dev/null 2>&1 )
( cd "$ROOT" && sbt -batch compile >/dev/null 2>&1 )

TMP="$WT/legs"
mkdir -p "$TMP"
for i in $(seq 1 "$PAIRS"); do
  echo "leg pair $i/$PAIRS (A=$SHORT, B=HEAD, interleaved):"
  run_leg "$WT"   "A$i" "$TMP/a$i.json"
  run_leg "$ROOT" "B$i" "$TMP/b$i.json"
done

python3 - "$QUERIES" "$PAIRS" "$TMP" "$SHORT" <<'EOF'
import json, sys
queries, pairs, tmp, short = sys.argv[1].split(","), int(sys.argv[2]), sys.argv[3], sys.argv[4]
def load(p):
    try:
        with open(p) as f: return json.load(f).get("queries", {})
    except Exception: return {}
legs = [(f"A{i}", load(f"{tmp}/a{i}.json")) for i in range(1, pairs+1)] + \
       [(f"B{i}", load(f"{tmp}/b{i}.json")) for i in range(1, pairs+1)]
legs.sort(key=lambda kv: (kv[0][1:], kv[0][0]))  # A1 B1 A2 B2
hdr = ["query"] + [k for k, _ in legs]
rows = [[q] + [f"{v[q]:.2f}" if q in v else "-" for _, v in legs] for q in queries]
w = [max(len(r[i]) for r in [hdr]+rows) for i in range(len(hdr))]
for r in [hdr]+rows:
    print("  ".join(c.ljust(w[i]) for i, c in enumerate(r)))
print(f"\nA = {short}, B = HEAD. Overlapping A/B bands on a query ⇒ ambient, not code.")
EOF

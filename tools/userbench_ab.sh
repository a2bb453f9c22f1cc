#!/usr/bin/env bash
# Interleaved A/B of the repository benchmark (userbench/run.py) on one
# workload: A = <ref>, B = HEAD. Both sides are exported with
# `git archive` into fresh directories and built there, as a benchmark
# run on a clean checkout would be, so uncommitted changes are NOT
# measured — commit first. Each side gets one discarded warm-up run
# (it records the side's class-data-sharing archive, whose recording
# run is slow to start), then every seed runs on both sides, back to
# back, alternating which side goes first so drift of a shared host
# falls on both. Prints per-seed setup_s, step_ms and cycle_s, then per
# metric each side's median and quartiles, the median difference in
# units of A's interquartile range, and how many seeds B won.
#
# Usage: tools/userbench_ab.sh <ref> <workload> <seeds> [seconds]
#   ref       git ref for the A side (B is HEAD)
#   workload  odm_publish | qc_edit | corpus_ingest
#   seeds     comma-separated list and/or ranges, e.g. 31-35 or 1,4,7-9
#   seconds   --seconds per run (default 5, as BENCHMARK.json)
#
# Runs are sequential: one benchmark JVM (3 GB heap) at a time. Work
# directories go under $TMPDIR (default /tmp) and are removed on exit.
set -euo pipefail

USAGE="usage: tools/userbench_ab.sh <ref> <workload> <seeds> [seconds]"
REF="${1:?$USAGE}"
WORKLOAD="${2:?$USAGE}"
SEEDS_ARG="${3:?$USAGE}"
SECONDS_PER_RUN="${4:-5}"

ROOT="$(git rev-parse --show-toplevel)"
A_SHORT="$(git -C "$ROOT" rev-parse --short "$REF")"
B_SHORT="$(git -C "$ROOT" rev-parse --short HEAD)"

SEEDS=()
IFS=',' read -ra PARTS <<< "$SEEDS_ARG"
for p in "${PARTS[@]}"; do
  if [[ "$p" == *-* ]]; then
    for s in $(seq "${p%-*}" "${p#*-}"); do SEEDS+=("$s"); done
  else
    SEEDS+=("$p")
  fi
done

WORK="$(mktemp -d "${TMPDIR:-/tmp}/userbench-ab.XXXXXX")"
trap 'rm -rf "$WORK"' EXIT
for side in a b; do mkdir -p "$WORK/$side"; done
git -C "$ROOT" archive "$REF" | tar -x -C "$WORK/a"
git -C "$ROOT" archive HEAD | tar -x -C "$WORK/b"

run() { # $1 = side dir, $2 = seed, $3 = result file
  ( cd "$1" && python3 userbench/run.py --workload "$WORKLOAD" \
      --seed "$2" --seconds "$SECONDS_PER_RUN" --trace 0 ) \
    2>"$3.err" | tail -1 > "$3" || true
}

echo "building A=$A_SHORT and B=$B_SHORT, one warm-up run each ..."
for side in a b; do
  ( cd "$WORK/$side" && python3 userbench/build.py >/dev/null )
  run "$WORK/$side" 0 "$WORK/$side/warmup.json"
done

i=0
for s in "${SEEDS[@]}"; do
  if (( i % 2 == 0 )); then order="a b"; else order="b a"; fi
  for side in $order; do
    run "$WORK/$side" "$s" "$WORK/$side/seed$s.json"
    echo "  seed $s ${side^^}: $(cat "$WORK/$side/seed$s.json")"
  done
  i=$((i + 1))
done

python3 - "$WORK" "$A_SHORT" "$B_SHORT" "${SEEDS[@]}" <<'EOF'
import json, statistics, sys
work, a_ref, b_ref, seeds = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]
names = ("setup_s", "step_ms", "cycle_s")

def load(side, seed):
    try:
        with open(f"{work}/{side}/seed{seed}.json") as f:
            res = json.load(f)
    except (OSError, ValueError):
        return None
    if not res.get("correct"):
        return None
    return {n: res["metrics"][n]["value"] for n in names}

rows = [(s, load("a", s), load("b", s)) for s in seeds]
hdr = ["seed"] + [f"{n} {side}" for n in names for side in ("A", "B")]
table = [hdr]
for s, a, b in rows:
    cell = lambda r, n: "fail" if r is None else f"{r[n]:.4g}"
    table.append([s] + [cell(r, n) for n in names for r in (a, b)])
ok = [(a, b) for _, a, b in rows if a and b]
if ok:
    med = ["median"]
    for n in names:
        med += [f"{statistics.median(a[n] for a, _ in ok):.4g}",
                f"{statistics.median(b[n] for _, b in ok):.4g}"]
    table.append(med)
w = [max(len(r[i]) for r in table) for i in range(len(hdr))]
for r in table:
    print("  ".join(c.rjust(w[i]) for i, c in enumerate(r)))
print(f"\nA = {a_ref}, B = {b_ref}; {len(ok)}/{len(rows)} seeds correct on both sides.")
for n in names:
    if len(ok) < 2:
        break
    a1, am, a3 = statistics.quantiles([a[n] for a, _ in ok], n=4,
                                      method="inclusive")
    b1, bm, b3 = statistics.quantiles([b[n] for _, b in ok], n=4,
                                      method="inclusive")
    wins = sum(b[n] < a[n] for a, b in ok)
    print(f"{n}: A {am:.4g} [{a1:.4g}, {a3:.4g}], B {bm:.4g} "
          f"[{b1:.4g}, {b3:.4g}]; B/A = {bm / am:.3f}; |B-A| = "
          f"{abs(bm - am) / (a3 - a1) if a3 > a1 else float('inf'):.2f}"
          f" x A's IQR; B lower on {wins}/{len(ok)} seeds")
EOF

#!/usr/bin/env bash
# Count Spark's Janino compiles in one benchmark run, per benchmark phase.
#
# Runs `python3 userbench/run.py --workload <w> --seed <s> --seconds 5
# --trace 0` with Log4j2 configured by tools/codegen-log4j2.properties,
# which logs every codegen cache miss (the generated source at DEBUG,
# then "Code generated in <ms> ms"). From the run's log it prints, per
# interval between two `[bench]` phase lines (set-up, warm-up, each
# timed cycle, checks), the compiles, their summed compile ms, how many
# compiled a source first seen in the run (new) and how many compiled
# a source that was already compiled once (again); then the run's
# unique and duplicate totals, and the compiles of each streaming query
# run (a run spans the log lines of its `stream execution thread`).
# Compile ms are measured with the source logged, so they read a little
# higher than in an unlogged run; the counts do not change.
#
# Usage: tools/codegen_count.sh <workload> <seed>
#   workload  odm_publish | qc_edit | corpus_ingest
#   seed      benchmark seed
# Run from the root of the checkout to measure. Extra JVM options can
# be passed in JAVA_TOOL_OPTIONS (kept, the Log4j2 option is appended),
# e.g. a `-Dspark.…` conf that the session builder does not set.
# Edits nothing; the log stays in
# .bench_build/userbench/logs/<workload>-seed<seed>-trace0.log.
set -euo pipefail

USAGE="usage: tools/codegen_count.sh <workload> <seed>"
WORKLOAD="${1:?$USAGE}"
SEED="${2:?$USAGE}"
HERE="$(cd "$(dirname "$0")" && pwd)"
LOG=".bench_build/userbench/logs/$WORKLOAD-seed$SEED-trace0.log"

JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:+$JAVA_TOOL_OPTIONS }-Dlog4j2.configurationFile=$HERE/codegen-log4j2.properties" \
  python3 userbench/run.py --workload "$WORKLOAD" --seed "$SEED" \
    --seconds 5 --trace 0 | tail -1

python3 - "$LOG" <<'EOF'
import hashlib, re, sys

header = re.compile(r"^\d\d:\d\d:\d\d\.\d{3} (\w+) \[(.*?)\] (\S+): ?(.*)$")
bench = re.compile(r"^\[bench\] [\d.]+ s: (.*)$")
done = re.compile(r"Code generated in ([\d.]+) ms")
stream = re.compile(r"^stream execution thread for .*runId = ([0-9a-f-]+)")

phases = [["start", 0, 0.0, 0, 0]]  # label, compiles, ms, new, again
pending = {}      # thread -> source lines of its last logged source
seen = set()
runs = {}         # runId -> [first line, last line, phase index]
compiles = []     # (line no, ms, first compile of its source)
cur = None        # (thread, source lines) while reading a source
with open(sys.argv[1], errors="replace") as f:
    for no, line in enumerate(f):
        line = line.rstrip("\n")
        m = header.match(line)
        b = None if m else bench.match(line)
        if cur is not None and (m or b or not line.startswith("/*")):
            pending[cur[0]] = cur[1]
            cur = None
        if b:
            phases[-1][0] = b.group(1)
            phases.append(["after the last phase line", 0, 0.0, 0, 0])
            continue
        if not m:
            if cur is not None:
                cur[1].append(line)
            continue
        level, thread, logger, msg = m.groups()
        s = stream.match(thread)
        if s:
            r = runs.setdefault(s.group(1), [no, no, len(phases) - 1])
            r[1] = no
        if logger != "CodeGenerator":
            continue
        if level == "DEBUG" and msg == "":
            cur = (thread, [])
            continue
        d = done.search(msg)
        if not d:
            continue
        ms = float(d.group(1))
        key = hashlib.sha1("\n".join(pending.pop(thread, [])).encode()).digest()
        p = phases[-1]
        p[1] += 1
        p[2] += ms
        new = key not in seen
        p[3 if new else 4] += 1
        seen.add(key)
        compiles.append((no, ms, new))

# a phase line names the interval that ends with it
print(f"{'interval ending at':<28}{'compiles':>9}{'ms':>9}{'new':>6}{'again':>7}")
for label, n, ms, new, again in phases:
    if n or label != "after the last phase line":
        print(f"{label:<28}{n:>9}{ms:>9.0f}{new:>6}{again:>7}")
total = sum(p[1] for p in phases)
print(f"{'total':<28}{total:>9}{sum(p[2] for p in phases):>9.0f}"
      f"{len(seen):>6}{total - len(seen):>7}")
print(f"unique classes {len(seen)}, duplicate compiles {total - len(seen)}")
for i, (lo, hi, at) in enumerate(sorted(runs.values()), 1):
    inside = [(ms, new) for no, ms, new in compiles if lo <= no <= hi]
    print(f"streaming run {i} (interval ending at {phases[at][0]}): "
          f"{len(inside)} compiles ({sum(n for _, n in inside)} new), "
          f"{sum(ms for ms, _ in inside):.0f} ms")
EOF

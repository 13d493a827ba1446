#!/bin/bash
# Regression guard for the driver's bench-parsing contract: the LAST line
# of `sbt "runMain graft.Bench"` stdout must be the bare metric JSON.
# Three rounds (r9-r11) of BENCH parsed:null came from sbt decoration —
# the forked JVM's stdout was re-logged with an "[info] " prefix and sbt
# appended "[success] Total time: ..." after main returned. build.sbt now
# sets `run / outputStrategy := Some(OutputStrategy.StdoutOutput)` and
# `Global / showSuccess := false`; this script asserts the end-to-end
# contract so a build.sbt edit can't silently regress it.
#
# Runs the full suite at sf0.001 (scale legs off, 1 run/query): ~8 min.
# Bench writes its artifact, standing indexes and streaming work dirs
# under SPARK_GRAFT_REPO_DIR; the check points that at a temp dir,
# removed on exit, so the checkout is left as it was. It also reads the
# artifact back: its n_queries must equal the stdout line's printed
# queries plus `omitted`.
# Usage: scripts/check_bench_stdout.sh
set -e
cd "$(dirname "$0")/.."
WORK=$(mktemp -d /tmp/bench_stdout_check.XXXXXX)
trap 'rm -rf "$WORK"' EXIT
SPARK_GRAFT_REPO_DIR="$WORK" \
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
SPARK_GRAFT_SCALE_BENCH=0 \
SPARK_GRAFT_BENCH_RUNS=1 \
SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-8g} \
  sbt -batch "runMain graft.Bench" > "$WORK/stdout" 2>/dev/null
tail -1 "$WORK/stdout" | python3 -c '
import sys, json, os, re
line = sys.stdin.read().strip()
d = json.loads(line)  # raises -> nonzero exit if decorated/truncated
assert d.get("metric") == "total" and "queries" in d and "value" in d, d.keys()
val = d["value"]; nq = len(d["queries"])
work = sys.argv[1]
arts = [f for f in os.listdir(work) if re.fullmatch(r"bench_full_r\d+\.json", f)]
assert len(arts) == 1, f"expected one artifact in {work}, found {arts}"
with open(os.path.join(work, arts[0])) as f:
    art = json.load(f)
printed = nq + d.get("omitted", 0)
assert art["n_queries"] == printed, (art["n_queries"], printed)
print(f"OK: last stdout line is the bare metric JSON (value={val}s, {nq}+ queries)")
print(f"OK: {arts[0]} parses; n_queries={printed} = printed + omitted")
' "$WORK"

#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes (a few minutes).

    python3 perfbench/smoke.py

Checks that the harness's sortedness checker rejects an unsorted
partition and that a seed always gives the same inputs (the JVM
self-test), that every workload prints every metric named in
BENCHMARK.json with its unit, untraced and traced, and that a corrupted
output is counted as a failed operation.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

failures = []


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seed", "3",
                        "--seconds", "2", "--size", "tiny", *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        return p.returncode, lines, None
    return p.returncode, lines, json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run.build()

    work = os.path.join(run.OUT, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    st = subprocess.run(["java", *[a for p in run.ADD_OPENS for a in ("--add-opens", p)],
                         "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
                         "-cp", f"{run.CLASSES}:{run.SPARK_JARS}/*", "udabench.Main",
                         "--selftest", "--work", work],
                        capture_output=True, text=True, timeout=300)
    shutil.rmtree(work, ignore_errors=True)
    print("\n".join(l for l in st.stdout.splitlines() if l[:5] in ("ok   ", "FAIL ")))
    expect(st.returncode == 0, "JVM self-test: sortedness checker and seeded inputs")

    for w in run.WORKLOADS:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            rc, lines, res = bench("--workload", w, "--trace", str(trace))
            want = {m["name"]: m["unit"] for m in spec[group]}
            got = {} if res is None else {k: v["unit"] for k, v in res["metrics"].items()}
            expect(rc == 0 and res["correct"] and res["failed"] == 0,
                   f"{w} trace {trace}: runs and its outputs check")
            expect(got == want, f"{w} trace {trace}: prints every {group} metric with its unit")
            expect(all(isinstance(v["value"], (int, float)) for v in (res or {}).get("metrics", {}).values()),
                   f"{w} trace {trace}: every value is a number")
            if trace == 0:
                expect(any(l.split()[:1] == ["error_rate"] for l in lines),
                       f"{w}: prints error_rate")
        rc, lines, res = bench("--workload", w, "--trace", "0", "--fault")
        expect(res is not None and not res["correct"] and res["failed"] > 0,
               f"{w}: a corrupted output counts as a failed operation")

    if failures:
        print(f"{len(failures)} smoke check(s) failed")
        sys.exit(1)
    print("smoke test passed")


if __name__ == "__main__":
    main()

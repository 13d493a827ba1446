#!/usr/bin/env python3
"""udaspark benchmark: run one workload with one seed in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the harness and the program from
source on first use (sbt, offline), then launches one JVM directly
(not through `sbt run`). With --trace 0 the last stdout line is a JSON
object with every end-to-end metric; with --trace 1 it holds every
per-layer metric. The lines before it repeat the metrics with units,
plus error_rate, the query latency percentiles (query_mix) and the
host-health record. The full record of a run, spans included, is kept
under perfbench/out/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
WORKLOADS = ("kv_sort_merge", "dedup_pipeline", "query_mix")
# a run must end within 180 s of its start, not counting a first build
RUN_DEADLINE_S = 165
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no program sources at src/main/scala: run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        die("no Spark install: set SPARK_HOME")
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile / products"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        die(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def calib_s():
    """A fixed single-thread loop: its time tells a stalled host apart
    from a slow program. Recorded, never folded into a metric."""
    t = time.perf_counter()
    x = 1
    for _ in range(1_000_000):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return time.perf_counter() - t


def run_jvm(args, work, out_json, extra, deadline):
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", p)],
           # a fixed-size heap and the throughput collector keep GC
           # timing alike from run to run
           "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", f"{CLASSES}:{SPARK_JARS}/*", "udabench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--out", out_json, *extra]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out_json):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"workload JVM failed ({rc})")
    with open(out_json) as f:
        return json.load(f)


def rows_equal(a, b):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        for u, v in zip(x, y):
            if u != v and not (isinstance(u, float) and isinstance(v, float)
                               and math.isnan(u) and math.isnan(v)):
                return False
    return True


def oracle_check(rec):
    """Cross-checks each query's reference result (the warm-up pass,
    which pins every later pass by digest) against DuckDB running the
    query's oracle SQL on the same fixture: columns by name, rows
    sorted, exact values. Returns {query: failure}."""
    import duckdb
    wr = rec["workload_record"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in wr["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{wr['fixture_dir']}/{t}.parquet/*.parquet')")

    def canon(cur):
        names = [d[0] for d in cur.description]
        order = sorted(range(len(names)), key=lambda i: names[i])
        rows = [tuple(r[i] for i in order) for r in cur.fetchall()]
        key = lambda r: tuple((v is None, "" if v is None else str(type(v)), v) for v in r)
        return [names[i] for i in order], sorted(rows, key=key)

    bad = {}
    for q, sql in wr["oracle_sql"].items():
        try:
            exp_cols, exp = canon(con.execute(sql))
            got_cols, got = canon(con.execute(
                f"SELECT * FROM read_parquet('{wr['results_dir']}/{q}/*.parquet')"))
        except Exception as e:  # an oracle or result that cannot be read fails the query
            bad[q] = f"oracle error: {e}"
            continue
        if exp_cols != got_cols:
            bad[q] = f"columns {got_cols} != oracle {exp_cols}"
        elif not rows_equal(exp, got):
            bad[q] = f"{len(got)} rows differ from the oracle's {len(exp)}"
    return bad


def tail(xs):
    """The highest percentile with at least 10 samples beyond it, capped
    at p90: (percentile, value), or None when there are too few samples."""
    n = len(xs)
    r = min(n - 10, math.ceil(0.9 * n))
    if r < 1:
        return None
    return 100.0 * r / n, sorted(xs)[r - 1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: smoke-test input sizes")
    ap.add_argument("--fault", action="store_true",
                    help="corrupt one operation's output before the checks")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build()
    deadline = time.monotonic() + RUN_DEADLINE_S
    os.makedirs(OUT, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}"
    work = os.path.join(OUT, "work-" + tag)
    os.makedirs(work)
    try:
        host = {"load1_start": os.getloadavg()[0], "calib_s_before": calib_s()}
        extra = ["--size", args.size] + (["--fault", "1"] if args.fault else [])
        rec = run_jvm(args, work, os.path.join(work, "result.json"), extra, deadline)
        ops = rec["ops"]
        # a seed whose result digest is pinned must reproduce it
        wr = rec["workload_record"]
        with open(os.path.join(HERE, "pins.json")) as f:
            pin = json.load(f).get(args.workload, {}).get(str(wr.get("docs")), {}).get(str(args.seed))
        if pin and wr["result_digest"] != pin:
            for o in ops:
                o["failure"] = o["failure"] or f"result digest {wr['result_digest']} != pinned {pin}"
        if args.workload == "query_mix":
            bad = oracle_check(rec)
            rec["oracle_failures"] = bad
            for o in ops:
                if o["name"] in bad and not o["failure"]:
                    o["failure"] = "oracle: " + bad[o["name"]]
        host.update(calib_s_after=calib_s(), load1_end=os.getloadavg()[0])
        spans = rec.get("spans")
        if spans and os.path.exists(spans):
            rec["spans"] = os.path.join(OUT, tag + ".spans.jsonl")
            shutil.move(spans, rec["spans"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = [o for o in ops if o["failure"]]
    bad_passes = {o["pass"] for o in failed}
    untraced = [p for p in rec["passes"] if p["phase"] == "untraced"]
    good = [p for p in untraced if p["pass"] not in bad_passes] or untraced
    lat = [o["wall_s"] for o in ops if not o["failure"]
           and any(p["pass"] == o["pass"] for p in untraced)]
    e2e = {"setup_s": rec["setup"]["setup_s"],
           "wall_s": statistics.median(p["wall_s"] for p in good),
           "cpu_s": statistics.median(p["cpu_s"] for p in good)}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    lines = [f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
             f"cores {rec['cores']}  size {rec['size']}"]
    s = rec["setup"]
    lines.append(f"  setup_s      {e2e['setup_s']:.4f} s  (boot {s['boot_s']:.2f} + median of "
                 f"{len(s['generate_s'])} input generations {statistics.median(s['generate_s']):.2f} + "
                 f"{s['warm_passes']} warm-up passes {s['warm_s']:.2f})")
    lines.append(f"  wall_s       {e2e['wall_s']:.4f} s  (median of {len(good)} untraced passes)")
    lines.append(f"  cpu_s        {e2e['cpu_s']:.4f} s  (median process CPU per pass)")
    lines.append(f"  error_rate   {len(failed) / len(ops):.4f} 1  ({len(failed)}/{len(ops)} operations failed)")
    if args.workload == "query_mix" and lat:
        lines.append(f"  query_p50_s  {statistics.median(lat):.4f} s  (n={len(lat)} queries)")
        t = tail(lat)
        lines.append(f"  query_p90_s  {t[1]:.4f} s  (p{t[0]:.0f} of n={len(lat)}: 10+ samples beyond it)"
                     if t else f"  query_p90_s  n/a  (n={len(lat)}: fewer than 11 samples)")
    for o in failed[:5]:
        lines.append(f"  FAILED pass {o['pass']} {o['name']}: {o['failure']}")
    lines.append(f"  host: load1 {host['load1_start']:.2f} -> {host['load1_end']:.2f}, "
                 f"calib_s {host['calib_s_before']:.4f} -> {host['calib_s_after']:.4f}")

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: rec["layers"][n] for n in names}
        lines.append("  per-layer (median per traced pass unless noted):")
        lines += [f"    {n:24s} {metrics[n]:.6g} {units[n]}" for n in names]
        lines.append(f"  spans: {os.path.relpath(rec['spans'], ROOT)}")
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = {n: e2e[n] for n in names}

    rec.update(host=host, end_to_end=e2e, error_rate=len(failed) / len(ops))
    artifact = os.path.join(OUT, tag + ".json")
    with open(artifact, "w") as f:
        json.dump(rec, f, indent=1)
    lines.append(f"  artifact: {os.path.relpath(artifact, ROOT)}")
    print("\n".join(lines))
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names}}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark launcher: builds the engine and the harness from source,
generates the workload's seeded inputs, runs one measured JVM, checks the
analytics outputs against their DuckDB oracles, and prints every metric by
name and unit. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload uploads --seed 1 --seconds 10 --trace 0

Run from the repository root. Exits non-zero when an output check fails,
and without a result when the engine sources are not there.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
STAMP = os.path.join(HERE, "target", "bench-build.stamp")
WORKLOADS = ("uploads", "backfill", "analytics")
# The whole run, build excluded, has to end within this many seconds.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine with the harness (sbt) unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as c:
                    return c.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    t0 = time.monotonic()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed")
    cp = [l for l in proc.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if not cp:
        die("build printed no classpath")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP, "w") as f:
        f.write(stamp)
    print(f"built in {time.monotonic() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def oracle_failures(work):
    """Compares each analytics query output with its DuckDB oracle; returns
    {query: reason} for every mismatch."""
    import duckdb
    out = os.path.join(work, "outputs")
    con = duckdb.connect()
    data = os.path.join(work, "data")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name, sql in oracle.items():
        try:
            got = con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            want = con.execute(sql)
            wcols = [d[0] for d in want.description]
            wrows = want.fetchall()
        except Exception as e:  # a missing output or a failing oracle is a failed check
            bad[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        if sorted(gcols) != sorted(wcols):
            bad[name] = f"columns {sorted(gcols)} != {sorted(wcols)}"
            continue
        gi = [gcols.index(c) for c in sorted(gcols)]
        wi = [wcols.index(c) for c in sorted(wcols)]
        g = [tuple(r[i] for i in gi) for r in grows]
        w = [tuple(r[i] for i in wi) for r in wrows]
        if g != w:
            diff = next((k for k, (a, b) in enumerate(zip(g, w)) if a != b), min(len(g), len(w)))
            bad[name] = f"{len(g)} rows vs oracle {len(w)}; first difference at row {diff}"
    for name in sorted(oracle):
        print(f"oracle {name}: {'FAIL ' + bad[name] if name in bad else 'ok'}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    classpath = build()
    run_start = time.monotonic()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    extra = []
    if args.workload == "analytics":
        sys.path.insert(0, HERE)
        import analytics_data
        data = os.path.join(work, "data")
        manifest = analytics_data.write(args.seed, data)
        with open(os.path.join(data, "manifest.tsv"), "w") as f:
            for name in sorted(manifest):
                f.write(f"{name}\t{manifest[name][0]}\t{manifest[name][1]}\n")
        extra = ["--data", data]

    # A fixed heap size and young generation, so G1 does not resize either
    # by its pause-time heuristics; pages are touched only as the run
    # allocates, so peak_rss_mb follows the heap the run uses.
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn256m", "-XX:+UseG1GC", "-XX:-UsePerfData"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--digests", os.path.join(WORK, "digests")] + extra)
    print(f"launching the JVM at {time.monotonic() - START:.1f} s", file=sys.stderr)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    jvm = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL, start_new_session=True)

    def stop_jvm(*_):
        os.killpg(jvm.pid, signal.SIGKILL)
        jvm.wait()
        die("stopped")
    signal.signal(signal.SIGTERM, stop_jvm)
    signal.signal(signal.SIGINT, stop_jvm)
    try:
        rc = jvm.wait(timeout=max(10, RUN_LIMIT_S - (time.monotonic() - run_start)))
    except subprocess.TimeoutExpired:
        os.killpg(jvm.pid, signal.SIGKILL)
        jvm.wait()
        die("the run exceeded its time limit")
    if rc != 0:
        die(f"the benchmark JVM exited with {rc}")
    print(f"JVM done at {time.monotonic() - START:.1f} s", file=sys.stderr)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    failed = res["failed"]
    attempted = res["attempted"]
    if args.workload == "analytics":
        bad = oracle_failures(work)
        failed += len(bad)

    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None:
            die(f"the run did not report {m['name']}")
        if got["unit"] != m["unit"]:
            die(f"{m['name']} is in {got['unit']}, BENCHMARK.json says {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(f"workload {args.workload}, seed {args.seed}, trace {args.trace}: "
          f"{res['passes']} timed pass(es) of {res['ops_per_pass']} ops; machine {res['machine']}")
    for name, v in res["metrics"].items():
        print(f"  {name:34s} {v['value']:>16.6g} {v['unit']}")
    print(f"  {'failure_rate':34s} {failed / attempted:>16.6g} ratio ({failed} of {attempted} ops)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

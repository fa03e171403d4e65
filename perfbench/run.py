#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, one local[4] JVM.

Run from the repository root:

    python3 perfbench/run.py --workload graph-hub --seed 1 --seconds 10 --trace 0

The first run builds the engine and the benchmark with sbt (perfbench/build.sbt
compiles the root build as a source dependency) and records a launcher; later
runs start the JVM directly. The last line of stdout is the result record:
{"correct", "attempted", "failed", "metrics"}. The line before it carries the
workload detail (phase times, per-layer figures, input sizes).

Extra options for the self-test: --scale tiny (small inputs) and
--plant rank,label,triangle (corrupt those outputs before they are checked).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ["graph-hub", "query-sweep"]
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
LAUNCHER = os.path.join(HERE, "target", "launcher.txt")
STAMP = os.path.join(HERE, "target", "launcher.stamp")
DATA = os.path.join(HERE, "data", "sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# heap of the benchmark JVM; the root build reads it when sbt loads
DRIVER_MEM = "3g"
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    for f in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"not a checkout of the engine: {f} is missing at {ROOT}")
    stamp = source_stamp()
    if os.path.exists(LAUNCHER) and os.path.exists(STAMP) \
            and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=DRIVER_MEM)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
                       " -XX:-UsePerfData -Djava.io.tmpdir=" + tmp)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "writeLauncher"], cwd=HERE, env=env,
                             stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(LAUNCHER):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_jvm(args, work):
    cp, opts = None, []
    for line in open(LAUNCHER).read().splitlines():
        if line.startswith("CP "):
            cp = line[3:]
        elif line.startswith("OPT "):
            opts.append(line[4:])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file outside the checkout
    cmd = (["java"] + opts + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-cp", cp,
                              "perfbench.Main",
                              "--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds),
                              "--trace", str(args.trace),
                              "--scale", args.scale, "--plant", args.plant,
                              "--work", work, "--data", DATA])
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"))
    os.makedirs(env["SPARK_GRAFT_SCRATCH_DIR"], exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             stderr=err, stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        # a benchmark stopped from outside stops its JVM too
        signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop()
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
        except KeyboardInterrupt:
            stop()
            raise
    shutil.copy(log, os.path.join(WORK, "last-jvm.log"))
    if p.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"benchmark JVM exited {p.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def oracle_check(work):
    """Compare every sweep pass's query outputs with the DuckDB oracle SQL on
    the same tables. Returns (compared, mismatched, notes)."""
    import duckdb
    sweep = os.path.join(work, "sweep")
    oracle = json.load(open(os.path.join(sweep, "oracle_sql.json")))
    queries = json.load(open(os.path.join(sweep, "queries.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    expected = {}
    compared, bad, notes = 0, 0, []

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        rows = sorted(df.astype(str).apply(lambda r: "|".join(r.values), axis=1)) \
            if len(df) else []
        return list(df.columns), rows

    for d in sorted(glob.glob(os.path.join(sweep, "pass*"))):
        for q in queries:
            compared += 1
            files = glob.glob(os.path.join(d, q, "*.parquet"))
            if not files:
                bad += 1
                notes.append(f"{os.path.basename(d)}/{q}: no output")
                continue
            got = canon(con.execute(f"SELECT * FROM read_parquet({files})").df())
            if q not in oracle:
                # no oracle by design: the result must at least be non-empty
                if not got[1]:
                    bad += 1
                    notes.append(f"{q}: empty result")
                continue
            if q not in expected:
                try:
                    expected[q] = canon(con.execute(oracle[q]).df())
                except duckdb.Error as e:
                    expected[q] = f"oracle SQL failed: {e}"
            if got != expected[q]:
                bad += 1
                notes.append(f"{os.path.basename(d)}/{q}: differs from oracle")
    return compared, bad, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", choices=["bench", "tiny"], default="bench")
    ap.add_argument("--plant", default="",
                    help="comma-separated subset of rank,label,triangle")
    args = ap.parse_args()

    build()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(args, work)
        attempted, failed = res["attempted"], res["failed"]
        detail = res["detail"]
        if args.workload == "query-sweep":
            n, bad, notes = oracle_check(work)
            attempted, failed = attempted + n, failed + bad
            detail["oracle"] = {"compared": n, "mismatched": bad, "notes": notes[:20]}
        if args.trace:
            spans = glob.glob(os.path.join(work, "spans-*.json"))
            for s in spans:
                shutil.copy(s, WORK)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail["error_rate"] = failed / attempted
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()

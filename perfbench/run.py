#!/usr/bin/env python3
"""Run one benchmark workload against the engine in the parent directory.

    python3 perfbench/run.py --workload tsdb_daemon --seed 1 --seconds 20 --trace 0

Run it from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build until a
source file changes. The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Context fields that are reported but never gated go to standard error.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch")
WORKLOADS = ("tsdb_daemon", "layouts")
HEAP = "2g"
JVM_TIMEOUT_S = 170
ORACLE_TABLES = ("region nation customer supplier part orders lineitem "
                 "events documents embeddings").split()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source():
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for base, dirs, files in os.walk(d):
            dirs[:] = [x for x in dirs if x not in ("target", "project")
                       or base == ROOT]
            paths += [os.path.join(base, f) for f in files
                      if f.endswith((".scala", ".sbt", ".properties"))]
    return max(os.path.getmtime(p) for p in paths if os.path.exists(p))


def build():
    stamp = os.path.join(LAUNCH, "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_source():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the engine and the harness with sbt")
    t0 = time.time()
    tmp = os.path.join(ROOT, ".bench_run", "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                        "-J-XX:-UsePerfData", "writeLaunch"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(stamp):
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    log(f"build took {time.time() - t0:.1f} s")


def crosscheck(fixture, verify, work):
    """Compare each row's first output with the DuckDB oracle, using
    tools/crosscheck.py unchanged. The layout rows read only documents and
    embeddings; the tool opens every fixture table, so the others are empty
    placeholders. Returns the number of failing rows."""
    sfdir = os.path.join(work, "oracle-fixture")
    os.makedirs(sfdir, exist_ok=True)
    import duckdb
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        dst = os.path.join(sfdir, f"{t}.parquet")
        src = os.path.join(fixture, f"{t}.parquet")
        if os.path.exists(src):
            shutil.copyfile(src, dst)
        else:
            con.execute(f"COPY (SELECT 1 AS unused WHERE false) TO '{dst}' "
                        "(FORMAT PARQUET)")
    con.close()
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "crosscheck.py"),
                        sfdir, verify], capture_output=True, text=True)
    for line in r.stdout.splitlines():
        if not line.endswith("rows)"):
            log(f"crosscheck: {line}")
    fails = [l for l in r.stdout.splitlines() if l.startswith("FAILURES:")]
    if not fails:
        log(f"crosscheck did not finish: {r.stderr[-2000:]}")
        return 1
    return int(fails[-1].split()[1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        sys.exit("perfbench: the engine's sources are not beside perfbench/")
    build()
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(LAUNCH, "javaopts.txt")) as f:
        jopts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]

    work = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    fixture = os.path.join(HERE, "fixture")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + jopts + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                      "--seed", str(a.seed), "--seconds", str(a.seconds),
                      "--trace", str(a.trace), "--work", work, "--fixture", fixture])
    t0 = time.time()
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: {a.workload} did not finish in {JVM_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: {a.workload} failed (exit {proc.returncode})")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    if a.workload == "layouts":
        bad = crosscheck(fixture, res["context"]["verify_dir"], work)
        res["attempted"] += len(json.load(open(os.path.join(
            res["context"]["verify_dir"], "oracle_sql.json"))))
        res["failed"] += bad
    res["correct"] = res["failed"] == 0
    ctx = dict(res.pop("context"), wall_s=f"{time.time() - t0:.1f}",
               failed_ratio=f"{res['failed'] / max(1, res['attempted']):.6f}")
    log("context " + json.dumps(ctx, sort_keys=True))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()

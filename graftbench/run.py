#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the benchmark (the engine's sources plus graftbench/src) with sbt
when the sources changed since the last build, runs one JVM (set-up,
warm-up, then ceil(S / the workload's nominal cycle op time) whole
measured cycles), checks the
outputs (olap_read results against the DuckDB oracles here, everything
else inside the JVM), and prints as its last stdout line one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with --trace 0, the per-layer ones with
--trace 1. The full artifact of the run is kept under
.bench_build/graftbench/. See graftbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
WORKLOADS = ("olap_read", "vt_churn", "ml_curate")
DEADLINE_S = 170
BUILD_DEADLINE_S = 840
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "log4j2.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def run_bounded(cmd, cwd, env, log_path, deadline_s):
    """Runs cmd in its own process group and waits for it; kills the group
    on timeout or when this launcher is terminated."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            return p.wait(timeout=deadline_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
                signal.signal(sig, signal.SIG_DFL)


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def jvm_cmd(home, jar, extra):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jars = sorted(os.path.join(home, "jars", j)
                  for j in os.listdir(os.path.join(home, "jars")) if j.endswith(".jar"))
    return (["java", "-Xmx3g", "-XX:+UseG1GC",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] +
            extra + opens + ["-cp", os.pathsep.join([jar] + jars), "graftbench.Main"])


def build(home):
    """Packages the benchmark jar with sbt and records a class-data-sharing
    archive from one ml_curate set-up and warm-up (class loading from ~300
    jars otherwise dominates every cold start), unless the source digest
    matches the last build."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    jar = os.path.join(HERE, "target", "scala-2.13", "graftbench_2.13-0.1.0-SNAPSHOT.jar")
    jsa = os.path.join(OUT, "graftbench.jsa")
    stamp = os.path.join(OUT, "build.stamp")
    if os.path.exists(jar) and os.path.exists(jsa) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return jar, jsa
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false").strip()
    log = os.path.join(OUT, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                     HERE, env, log, BUILD_DEADLINE_S)
    if rc != 0 or not os.path.exists(jar):
        sys.stderr.write(tail(log))
        fail(f"build failed (rc={rc})")
    train = os.path.join(OUT, "train")
    shutil.rmtree(train, ignore_errors=True)
    if os.path.exists(jsa):
        os.remove(jsa)
    cmd = jvm_cmd(home, jar, [f"-XX:ArchiveClassesAtExit={jsa}"]) + [
        "--workload", "ml_curate", "--seed", "0", "--seconds", "0",
        "--work", train, "--out", os.path.join(train, "artifact.json")]
    rc = run_bounded(cmd, ROOT, env, os.path.join(OUT, "train.log"), BUILD_DEADLINE_S)
    shutil.rmtree(train, ignore_errors=True)
    if rc != 0 or not os.path.exists(jsa):
        sys.stderr.write(tail(os.path.join(OUT, "train.log")))
        fail(f"class-data-sharing training run failed (rc={rc})")
    with open(stamp, "w") as f:
        f.write(digest)
    return jar, jsa


def frame(con, sql):
    """Columns and rows of a DuckDB query, through pandas as the engine's
    oracle checks do (scripts/check_oracle.py)."""
    df = con.execute(sql).df()
    return list(df.columns), list(df.itertuples(index=False, name=None))


def norm_cell(v):
    import numpy as np
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or (isinstance(v, float) and v != v):
        return "NULL" if v is None else "NaN"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def oracle_check(art, perturb):
    """Names of olap_read queries whose first result differs from DuckDB."""
    import duckdb
    det = art["workload_detail"]
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    tables = det["tables_dir"]
    for t in sorted(os.listdir(tables)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{tables}/{t}/*.parquet')")
    with open(os.path.join(det["results_dir"], "oracles.json")) as f:
        oracles = json.load(f)
    bad = []
    for i, (name, sql) in enumerate(sorted(oracles.items())):
        if perturb and i == 0:
            sql = f"SELECT * FROM ({sql}) LIMIT 1"  # the self-test's broken oracle
        got = frame(con, f"SELECT * FROM read_parquet("
                         f"'{det['results_dir']}/{name}/*.parquet')")
        exp = frame(con, sql)
        if sorted(got[0]) != sorted(exp[0]) or \
                frame_hash(*got) != frame_hash(*exp):
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", action="store_true",
                    help="break one reference (self-test only)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the engine's sources (src/main/scala) are not beside graftbench/")
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    os.makedirs(OUT, exist_ok=True)
    home = spark_home()
    jar, jsa = build(home)
    t_start = time.time()  # the run's deadline excludes the build

    work = os.path.join(OUT, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    art_path = os.path.join(work, "artifact.json")
    cmd = jvm_cmd(home, jar, [f"-XX:SharedArchiveFile={jsa}",
                              f"-Djava.io.tmpdir={work}/tmp"]) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", art_path,
        "--perturb", "1" if a.perturb else "0"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    jvm_log = os.path.join(OUT, f"jvm-{a.workload}-trace{a.trace}.log")
    rc = run_bounded(cmd, ROOT, env, jvm_log,
                     max(10, DEADLINE_S - (time.time() - t_start)))
    if rc != 0 or not os.path.exists(art_path):
        sys.stderr.write(tail(jvm_log))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM failed (rc={rc}); log: {jvm_log}")
    art = json.load(open(art_path))

    attempted, failed = art["attempted"], art["failed"]
    if a.workload == "olap_read":
        bad = oracle_check(art, a.perturb)
        art["oracle_mismatch"] = bad
        for name in bad:
            c = art["counts_per_kind"].get(name, {"attempted": 0, "failed": 0})
            failed += c["attempted"] - c["failed"]
    names = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in names if n not in art["metrics"]]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(OUT, f"spans-{a.workload}.jsonl"))
    art["failed_total"] = failed
    with open(os.path.join(OUT, f"artifact-{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {n: art["metrics"][n] for n in names}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()

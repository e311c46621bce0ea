#!/usr/bin/env python3
"""Benchmark entry point: builds the harness if its sources changed, runs
one workload in its own JVM, checks the outputs, and prints the result.

Usage, from the repository root:

    python3 perfbench/run.py --workload ngram_top100|pretrain_ladder|gate_stream \
        --seed N --seconds S --trace 0|1

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The line before it is the full report (profile, inputs, failed_ratio,
samples). Everything the run writes stays under perfbench/work/.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_TIMEOUT_S = 500
ARCHIVE_TIMEOUT_S = 300
RUN_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the harness build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.isdir(r):
            fail(f"missing source directory {os.path.relpath(r, ROOT)}")
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java"))]
    return files


def spark_home():
    """The Spark installation whose jars the harness compiles and runs with."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def java_cmd(classpath, work, extra=()):
    """The harness JVM: heap cap, scratch under `work`, the module opens
    Spark needs on Java 17, then `extra` flags."""
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", *extra]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{classpath}:{spark_home()}/jars/*", "graft.perfbench.Harness"]


def launch(cmd, work, budget, what):
    """Runs `cmd` in `work` with its log there; kills it on timeout or on
    SIGTERM/SIGINT and waits until it has ended."""
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # SPARK_LOCAL_DIRS would override spark.local.dir and put shuffle
        # files outside the checkout
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, env=env)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            fail(f"stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            return proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{what} did not finish within {budget:.0f} s")


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def build():
    """Compiles engine + harness with sbt, packs the classes into a jar and
    records a class-data archive, unless the sources are unchanged.

    The archive (AppCDS) holds the JDK, Scala, Spark and engine classes a
    run of every workload loads, already parsed and verified, so each
    benchmark JVM maps them instead of loading them from the jars. It is
    recorded by one untimed pass of the three workloads."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    target = os.path.join(HERE, "target")
    jar, archive = os.path.join(target, "perfbench.jar"), os.path.join(target, "perfbench.jsa")
    stamp = os.path.join(target, "perfbench.stamp")
    if all(map(os.path.exists, [jar, archive, stamp])) and open(stamp).read() == digest:
        return jar, archive
    for f in (stamp, jar, archive):
        if os.path.exists(f):
            os.remove(f)
    log = os.path.join(target, "build.log")
    os.makedirs(target, exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                            stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S,
                            env=dict(os.environ, SPARK_HOME=spark_home())).returncode
    if rc != 0:
        fail(f"build failed (see {os.path.relpath(log, ROOT)})")
    classes = os.path.join(target, "scala-2.13", "classes")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    os.replace(jar + ".tmp", jar)
    work = fresh_dir(os.path.join(HERE, "work", "archive"))
    cmd = java_cmd(jar, work, [f"-XX:ArchiveClassesAtExit={archive}"]) + [
        "--workload", "archive", "--seed", "0", "--seconds", "0", "--trace", "0",
        "--work", work, "--result", os.path.join(work, "result.json"),
        "--launch-ms", str(int(time.time() * 1000))]
    if launch(cmd, work, ARCHIVE_TIMEOUT_S, "the class-data pass") != 0 or not os.path.exists(archive):
        fail(f"class-data pass failed (see {os.path.relpath(work, ROOT)}/jvm.log)")
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return jar, archive


def oracle_check(workload, result):
    """The last checked run's output against the engine's DuckDB mirror of
    the job over the same inputs: the row sets must be equal."""
    import duckdb
    with open(result["oracle_sql"]) as fh:
        sql = fh.read()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    got = set()
    if workload == "ngram_top100":
        # the SQL reads the corpus shards itself
        want = {(r[0], int(r[1]), f"{r[2]} {r[3]}", float(r[4])) for r in con.sql(sql).fetchall()}
        out = result["checked_output"]
        for name in sorted(os.listdir(out)):
            if name.startswith("part-"):
                with open(os.path.join(out, name), encoding="utf-8") as fh:
                    for line in fh:
                        lang, decade, bigram, llr = line.rstrip("\n").split("\t")
                        got.add((lang, int(decade), bigram, float(llr)))
    else:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{result['oracle_documents']}/*.parquet'")
        want = {(int(r[0]), r[1], int(r[2]), int(r[3])) for r in
                con.sql(f"SELECT doc_id, source, n_chars, bin FROM ({sql})").fetchall()}
        with open(result["checked_output"], encoding="utf-8") as fh:
            for line in fh:
                doc_id, source, n_chars, b = line.rstrip("\n").split("\t")
                got.add((int(doc_id), source, int(n_chars), int(b)))
    con.close()
    return want == got, len(want), len(got)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ngram_top100", "pretrain_ladder", "gate_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    jar, archive = build()
    phases = {"build": time.time() - start}
    # a run that builds may take longer; the run itself gets RUN_TIMEOUT_S
    start = time.time()

    work = fresh_dir(os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}"))
    result_file = os.path.join(work, "result.json")
    cmd = java_cmd(jar, work, [f"-XX:SharedArchiveFile={archive}"]) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--result", result_file,
        "--launch-ms", str(int(time.time() * 1000))]
    rc = launch(cmd, work, max(10, RUN_TIMEOUT_S - (time.time() - start)), a.workload)
    if rc != 0 or not os.path.exists(result_file):
        fail(f"{a.workload} exited with {rc} (see {os.path.relpath(work, ROOT)}/jvm.log)")
    phases["jvm"] = time.time() - start + phases["build"]
    with open(result_file) as fh:
        r = json.load(fh)

    attempted, failed = r.get("attempted", 0), r.get("failed", 0)
    if attempted < 1:
        fail("no run was attempted")
    if a.workload in ("ngram_top100", "pretrain_ladder"):
        ok, n_want, n_got = oracle_check(a.workload, r)
        r["oracle"] = {"match": ok, "oracle_rows": n_want, "spark_rows": n_got}
        if not ok:
            failed = attempted  # every run produced the digest of the checked output
    r["failed_ratio"] = failed / attempted
    phases["checked"] = time.time() - start + phases["build"]
    r["phases_s"] = phases

    if a.trace:
        values = dict(r.get("layers", {}))
        values["trace.overhead_ratio"] = r.get("trace.overhead_ratio", 0.0)
        # layers the workload does not load did no work: 0 by construction
        spec = bench["per_layer"]
    else:
        values = r
        spec = bench["end_to_end"]
    metrics = {}
    for m in spec:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    # keep the logs, result, trace and oracle SQL; drop inputs and outputs
    for name in os.listdir(work):
        if os.path.isdir(os.path.join(work, name)):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    print(json.dumps({"report": r}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

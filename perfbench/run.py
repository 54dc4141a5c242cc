#!/usr/bin/env python3
"""Benchmark command: build the engine from source, generate one
workload's inputs from the seed, run it in one JVM, check its outputs and
print one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run it from the root of a checkout. The engine (src/main) and the
benchmark (perfbench/src) compile together with the Scala compiler that
ships in Spark's jars ($SPARK_HOME/jars, else the pyspark package's), into
.bench_build/; later runs reuse that build while the sources are
unchanged. Each run works in .bench_work/<run>/ and removes it at the end.
See perfbench/NOTES.md for the workloads and metrics.
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
import time
import zipfile

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
JVM_DEADLINE_S = 160  # a run ends within 180 s of its build check

# inputs per workload: scale factor of the generated tables, or the feed
WORKLOADS = {
    "lambda_batch": {"sf": 0.01},
    "dedup_ann": {"sf": 0.01, "copies": 2},
    "speed_layer": {"files": 16, "rows": 2000, "warm_files": 6},
}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, HERE)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    import pyspark
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        raise SystemExit("no engine sources under src/main/scala")
    return files + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    """Compile engine + benchmark into one jar, unless these sources are
    already built; returns the build directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, h.hexdigest())
    if os.path.isfile(os.path.join(out, "app.jar")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    log(f"compiling {len(srcs)} sources")
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("build failed")
    # a jar, not a directory: class-data sharing archives only jar classes
    with zipfile.ZipFile(os.path.join(tmp, "app.jar"), "w") as z:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    for old in glob.glob(os.path.join(BUILD, "*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


def stage_inputs(workload, seed, inputs):
    import gen
    w = WORKLOADS[workload]
    if workload == "speed_layer":
        gen.feed(os.path.join(inputs, "feed"), seed, w["files"], w["rows"])
        gen.feed(os.path.join(inputs, "warm"), seed + 1_000_003,
                 w["warm_files"], w["rows"])
    else:
        gen.generate(inputs, w["sf"], seed, w.get("copies", 1))


def run_jvm(build_dir, args, run_dir):
    # Class-data sharing: the first run after a build dumps the classes it
    # loaded; later runs map them instead of loading and verifying them
    # again, which takes ~6 s off every JVM start-up.
    jsa = os.path.join(build_dir, "app.jsa")
    cmd = ["java", "-Xshare:auto"]
    if os.path.isfile(jsa):
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={jsa}.tmp")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation: no sizing decisions to make peak
    # RSS vary from run to run
    cmd += ["-Xms2g", "-Xmx2g", "-Xmn512m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.path.join(build_dir, "app.jar") + os.pathsep
            + os.path.join(spark_jars(), "*"),
            "perfbench.Main"] + args
    logf = os.path.join(run_dir, "jvm.log")
    with open(logf, "wb") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    shutil.copy(logf, os.path.join(WORK, f"jvm_{args[1]}.log"))
    with open(logf, "rb") as fh:  # the benchmark's own progress lines
        for line in fh.read().decode(errors="replace").splitlines():
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
    if rc == 0 and os.path.isfile(jsa + ".tmp"):
        os.rename(jsa + ".tmp", jsa)
    if rc != 0:
        with open(logf, "rb") as fh:
            sys.stderr.write(fh.read().decode(errors="replace")[-4000:])
        raise SystemExit(f"benchmark JVM failed: {rc}")


def oracle_check(inputs, oracle_dir):
    """Each set-up result against its DuckDB oracle, in the normal form of
    the repository's oracle gate; returns (entries checked, failures)."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import canon
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(inputs, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    failures = {}
    for name, sql in sorted(oracle.items()):
        try:
            want = canon(con.execute(sql).df())
            got = canon(con.execute(
                "SELECT * FROM read_parquet('"
                + os.path.join(oracle_dir, name, "*.parquet") + "')").df())
            if list(got.columns) != list(want.columns):
                failures[name] = f"columns {list(got.columns)}"
            elif len(got) != len(want):
                failures[name] = f"rows {len(got)} vs oracle {len(want)}"
            elif (got != want).any().any():
                failures[name] = "values differ from oracle"
        except Exception as e:  # an oracle error is a failed check
            failures[name] = f"oracle error: {e}"[:300]
    return len(oracle), failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build_dir = build()
    setup_start = time.time()
    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(out)
    try:
        stage_inputs(a.workload, a.seed, inputs)
        run_jvm(build_dir, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds),
                          "--trace", str(a.trace), "--inputs", inputs,
                          "--work", run_dir, "--out", out,
                          "--start-ms", str(int(setup_start * 1000))], run_dir)
        with open(os.path.join(out, "result.json")) as fh:
            res = json.load(fh)
        attempted, failed = res["attempted"], res["failed"]
        if a.workload != "speed_layer":
            t0 = time.time()
            n, bad = oracle_check(inputs, os.path.join(out, "oracle"))
            log(f"oracle check of {n} entries: {time.time() - t0:.1f} s")
            attempted += n
            failed += len(bad)
            res["failures"].update({f"{k}/oracle": v for k, v in bad.items()})
        for k, v in res["failures"].items():
            log(f"FAILED {k}: {v}")
        if a.trace:
            shutil.copy(os.path.join(out, "trace_spans.jsonl"),
                        os.path.join(WORK, f"trace_spans_{a.workload}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": res["metrics"].get(m["name"], 0.0),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

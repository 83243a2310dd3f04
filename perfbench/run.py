#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload pig_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout compiles the
engine's sources together with the harness (perfbench/build.sbt, output
under .bench_build/); later runs reuse that build. Each run generates
its inputs from the seed under .perfbench/, runs the workload in one
JVM (perfbench/src/main/scala/perfbench/Main.scala), checks the
results, prints the full result record as one JSON line, and prints the
summary line last. Records and traced spans are kept
under .perfbench/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pig_etl", "lake_churn", "fed_pigout", "ann_serve")

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input to the build, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per checkout; return the runtime classpath."""
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    with open(log_path) as log:
        lines = [ln.strip() for ln in log if ln.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed, see {log_path}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def oracle_check(work):
    """Compare each script's first (setup) result with its DuckDB oracle,
    using the engine's own compare (tools/validate.py)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import validate
    data = os.path.join(work, "data")
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "part", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(work, "oracle", "oracle_sql.json")) as f:
        oracles = json.load(f)
    bad = []
    for name, sql in sorted(oracles.items()):
        s_cols, s_rows = validate.fetch(con.sql(f"SELECT * FROM '{work}/oracle/{name}/*.parquet'"))
        o_cols, o_rows = validate.fetch(con.sql(sql))
        if sorted(s_cols) != sorted(o_cols) or validate.row_hash(
                validate.canon_rows(s_cols, s_rows)) != validate.row_hash(validate.canon_rows(o_cols, o_rows)):
            bad.append(name)
    return len(oracles), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    sys.path.insert(0, HERE)
    import datagen

    cp = build()
    load_start = loadavg()
    nproc = len(os.sched_getaffinity(0))
    cpus = min(4, nproc)
    work = os.path.join(ROOT, ".perfbench", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    try:
        t0 = time.time()
        inputs = datagen.generate(a.workload, a.seed, os.path.join(work, "data"))
        gen_s = time.time() - t0
        result_path = os.path.join(work, "result.json")
        # A fixed, pre-touched heap: peak RSS then tracks off-heap and
        # metaspace growth instead of when G1 chose to grow the heap.
        cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss16m", "-XX:+UseG1GC",
               f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC"]
        cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", os.path.join(work, "data"), "--work", work,
                "--cpus", str(cpus), "--result", result_path]
        with open(os.path.join(work, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=170)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        tag = f"{a.workload}-{a.seed}-trace{a.trace}"
        shutil.copy(os.path.join(work, "jvm.log"), os.path.join(results, f"{tag}.log"))
        if rc != 0 or not os.path.exists(result_path):
            with open(os.path.join(work, "jvm.log")) as log:
                sys.stderr.write(log.read()[-4000:])
            fail(f"workload JVM exited with {rc}")
        with open(result_path) as f:
            rec = json.load(f)

        checks = dict(rec["checks"])
        if a.workload == "pig_etl":
            n, bad = oracle_check(work)
            checks["duckdb_oracle"] = not bad
            rec["oracle"] = {"scripts": n, "mismatched": bad}
        rec["checks"] = checks
        rec["context"].update({
            "loadavg_start": load_start, "loadavg_end": loadavg(), "nproc": nproc,
            "spark_cpus": cpus, "seed": a.seed, "inputs": inputs, "datagen_s": gen_s})

        metrics = {}
        if a.trace:
            # workload-specific end-to-end numbers ride along as layer
            # metrics; 0 marks a layer the workload bypasses
            found = dict(rec["per_layer"])
            found.update({k: v["value"] for k, v in rec["end_to_end"].items()})
            for m in spec["per_layer"]:
                v = found.get(m["name"])
                metrics[m["name"]] = {"value": v if v is not None else 0.0, "unit": m["unit"]}
        else:
            for m in spec["end_to_end"]:
                metrics[m["name"]] = {"value": rec["end_to_end"][m["name"]]["value"], "unit": m["unit"]}
        correct = all(checks.values())
        line = {"correct": correct, "attempted": rec["attempted"], "failed": rec["failed"],
                "metrics": metrics}
        with open(os.path.join(results, f"{tag}.json"), "w") as f:
            json.dump(rec, f, indent=1)
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.move(os.path.join(work, "spans.jsonl"), os.path.join(results, f"{tag}-spans.jsonl"))
        print(json.dumps(rec))
        print(json.dumps(line))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

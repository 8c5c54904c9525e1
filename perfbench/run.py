#!/usr/bin/env python3
"""IoT pipeline and query-registry benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload live|registry \
        --seed N --seconds S --trace 0|1

The first run in a checkout compiles the library and the benchmark with
sbt (perfbench/build.sbt); later runs reuse the build in .bench_build/.
Each run starts one JVM (perfbench.Main), which writes a run record; this
script adds the DuckDB row-count checks for the registry workload, keeps
the record under .bench_build/records/, prints it, and prints as the last
stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path("perfbench")
BUILD = Path(".bench_build")
RUN_LIMIT_S = 170  # the whole run, build excluded
BUILD_LIMIT_S = 800
# the module opens Spark needs on JDK 17, as in the root build's javaOptions
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DUCKDB_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [Path("build.sbt"), Path("project/build.properties"),
              BENCH / "build.sbt", BENCH / "project/build.properties"]
    for top in (Path("src/main"), BENCH / "src"):
        inputs += sorted(p for p in top.rglob("*") if p.is_file())
    for p in inputs:
        st = p.stat()
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile once per checkout; returns the runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    tmp = (BUILD / "sbt-tmp").resolve()
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Djava.io.tmpdir={tmp}", "compile",
           "export perfbench/Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True,
                       text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 1)
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def run_jvm(cp, args, deadline):
    cmd = ["java"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    tmp = Path(args[4]) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed heap: no resizing that differs from run to run
    cmd += ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={(BENCH / 'log4j2.properties').resolve()}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args
    # the run uses the library's defaults and keeps its files in the work
    # dir, whatever the caller's environment says
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(Path(args[4]) / "spark-local")
    log = open(Path(args[4]) / "jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    finally:
        log.close()
    if code != 0:
        tail = (Path(args[4]) / "jvm.log").read_text(errors="replace")[-6000:]
        sys.stderr.write(tail)
        fail("benchmark JVM timed out" if code is None
             else f"benchmark JVM exited with {code}", 1)


def registry_checks(record, data_dir):
    """Each query's row count against DuckDB running the query's oracle
    SQL over the same parquet; a query without an oracle, or with no rows,
    fails."""
    import duckdb
    con = duckdb.connect()
    for t in DUCKDB_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    oracle = record["detail"]["oracle_sql"]
    checks = []
    for q in record["detail"]["queries"]:
        name, got = q["name"], q["rows"]
        want = -1
        if name in oracle:
            sql = oracle[name].strip().rstrip(";")
            want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        checks.append({"name": f"oracle_rows:{name}", "expected": want,
                       "got": got, "failed": 0 if want == got > 0 else 1})
    con.close()
    return checks


def trace_overhead(workload, record, records_dir):
    """Traced against untraced runs of this checkout: the relative cost of
    tracing on the workload's median latency; 0 when no untraced run exists
    yet."""
    key = "latency_p50_s"
    past = []
    for f in records_dir.glob(f"{workload}-*-trace0-*.json"):
        try:
            past.append(json.loads(f.read_text())["e2e"][key])
        except (ValueError, KeyError):
            pass
    if not past:
        return 0.0
    return record["e2e"][key] / statistics.median(past) - 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["live", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    # the benchmark builds the library from the checkout it runs in
    for need in ("build.sbt", "src/main/scala", "BENCHMARK.json",
                 "perfbench/build.sbt", "perfbench/registry.json"):
        if not Path(need).exists():
            fail(f"{need} not found; run from the root of a full checkout")
    spec = json.loads(Path("BENCHMARK.json").read_text())
    cp = build()
    start = time.time()

    work = (BUILD / "work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}").resolve()
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    records = BUILD / "records"
    records.mkdir(parents=True, exist_ok=True)
    try:
        reg = json.loads((BENCH / "registry.json").read_text())
        data = (BENCH / "data" / "sf0.01").resolve()
        names = work / "queries.txt"
        names.write_text("\n".join(reg["queries"]) + "\n")
        warmup = work / "warmup.txt"
        warmup.write_text("\n".join(reg["warmup"]) + "\n")
        out = work / "record.json"
        run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                     str(work), str(out), str(data), str(names),
                     str(warmup)],
                start + RUN_LIMIT_S)
        record = json.loads(out.read_text())
        if a.workload == "registry":
            record["checks"] += registry_checks(record, data)
        failed = min(int(record["attempted"]),
                     sum(c["failed"] for c in record["checks"]))
        stamp = time.strftime("%Y%m%dT%H%M%S")
        base = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}"
        if a.trace:
            layers = record["layers"]
            layers["trace.overhead_share"] = trace_overhead(
                a.workload, record, records)
            metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                                   "unit": m["unit"]}
                       for m in spec["per_layer"]}
            if (work / "spans.jsonl").exists():
                shutil.copy(work / "spans.jsonl", records / f"{base}.spans.jsonl")
        else:
            metrics = {m["name"]: {"value": float(record["e2e"][m["name"]]),
                                   "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        (records / f"{base}.json").write_text(json.dumps(record))
        bad = [c for c in record["checks"] if c["failed"]]
        print(json.dumps({"record": f"{records}/{base}.json",
                          "external_cpu_share": record["external_cpu_share"],
                          "setup_samples_s": record["setup_samples_s"],
                          "failed_checks": bad}))
        print(json.dumps({"correct": failed == 0,
                          "attempted": int(record["attempted"]),
                          "failed": int(failed), "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Lakehouse benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload <bi_insights|transcript_ingest|hybrid_search>
        --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark (and the program it measures) with sbt on first use,
runs the workload in one JVM with Spark as local[<cpus>], checks every output,
prints every metric by name with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones (the listener and span
recorder are on only then). Exits 1 when a correctness check fails, 2 when the
program's sources are missing, 3 when the build, the inputs or the run break.
See perfbench/README.md for the workloads and the layer map.
"""
import argparse
import decimal
import hashlib
import json
import math
import os
import shutil
import signal
import struct
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bi_insights", "transcript_ingest", "hybrid_search")
# Copies of the program's seed-42 test tables at sf 0.01 (see README.md), read only:
# bi_insights reads lineitem/orders/part, hybrid_search documents/embeddings.
DATA = os.path.join(HERE, "data", "sf0.01")
E2E = ("setup_s", "op_p50_ms", "ops_per_s")
PER_LAYER = ("spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
             "spark.task_cpu_ms_per_op", "spark.driver_ms_per_op",
             "spark.shuffle_bytes_per_op", "spark.input_records_per_op",
             "spark.output_bytes_per_op", "trace.op_p50_ms")
# The JVM's share of the 180 s a run may take after the build; the rest is
# the oracle check and cleanup.
JVM_LIMIT_S = 150
# Class-data-sharing archive of the classes a run loads at start: the build
# writes it with one throwaway JVM, so every measured run maps the same
# archive. A stale or unusable archive only disables sharing (-Xshare:auto).
CDS_ARCHIVE = os.path.join(HERE, "target", "classes.jsa")
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for base, dirs, files in os.walk(d):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(base, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """sbt build of the benchmark and the program; skipped when unchanged."""
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    log("perfbench: building (first run in this checkout)")
    rc = run_bounded(["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                     HERE, env, 850, sys.stderr)
    if rc != 0 or not os.path.exists(cp_file):
        log(f"perfbench: build failed (exit {rc})")
        sys.exit(3)
    with open(cp_file) as f:
        classpath = f.read().strip()
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    tmp = os.path.join(target, "cds-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(os.path.join(target, "cds.log"), "w") as clog:
        rc = run_bounded(jvm(tmp, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"]) +
                         ["-cp", classpath, "perfbench.Main", "--load-classes"],
                         HERE, dict(os.environ, SPARK_LOCAL_IP="127.0.0.1"), 120, clog)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 and os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def jvm(tmp, extra):
    """The java command line every JVM of the benchmark starts with."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # -UsePerfData: no hsperfdata file in the system temp directory
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + extra
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd


def check_inputs():
    """The input tables are the ones their checksums name."""
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        for line in f:
            want, name = line.split()
            with open(os.path.join(DATA, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != want:
                    log(f"perfbench: input {name} does not match its checksum")
                    sys.exit(3)


def run_bounded(cmd, cwd, env, limit_s, out):
    """Run `cmd` in its own process group; kill the group after `limit_s`."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=out,
                         start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"perfbench: {cmd[0]} exceeded {limit_s:.0f} s and was stopped")
        return -9


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cell(v):
    """The canonical cell rendering of perfbench.Digest."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:" + ("true" if v else "false")
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (float, decimal.Decimal)):
        x = float(v)
        if math.isnan(x):
            return "f:nan"
        return "f:%d" % struct.unpack("<q", struct.pack("<d", 0.0 if x == 0.0 else x))[0]
    if isinstance(v, str):
        return "s:" + v
    return f"o:{v}"


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256("\u0001".join(columns[i] for i in order).encode())
    for r in rows:
        h.update(b"\n")
        h.update("\u0001".join(cell(r[i]) for i in order).encode())
    return h.hexdigest()


def oracle_check(result):
    """DuckDB runs each query's SQL oracle on the same parquet; returns the
    queries whose reference-round result differs."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    data = result["data_dir"]
    for t in sorted(os.listdir(data)):
        if t.endswith(".parquet"):
            path = os.path.join(data, t).replace("'", "''")
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{path}')")
    bad = []
    for name, ref in sorted(result["reference"].items()):
        try:
            cur = con.execute(ref["sql"])
            rows = cur.fetchall()
            cols = [d[0] for d in cur.description]
            ok = len(rows) == ref["rows"] and digest(cols, rows) == ref["digest"]
        except Exception as e:  # an oracle that cannot run is a failed check
            log(f"perfbench: oracle {name}: {e}")
            ok = False
        if not ok:
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("perfbench: the program's sources (build.sbt, src/main/scala) are not "
            "beside this directory; nothing to measure")
        sys.exit(2)
    check_inputs()
    classpath = build()
    start = time.time()

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cds = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    cmd = jvm(os.path.join(work, "tmp"), cds) + ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out, "--cpus", str(cpus()), "--data", DATA]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_LOCAL_IP="127.0.0.1")
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        rc = run_bounded(cmd, HERE, env, JVM_LIMIT_S - (time.time() - start), jlog)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            log("".join(f.readlines()[-40:]))
        log(f"perfbench: {a.workload} run failed (exit {rc})")
        sys.exit(3)
    with open(out) as f:
        result = json.load(f)

    failed = result["failed"]
    wrong = []
    if "reference" in result:
        wrong = oracle_check(result)
        failed += sum(result["reference"][q]["ops"] for q in wrong)
        for q in wrong:
            log(f"perfbench: {q}: Spark result differs from the SQL oracle")
    attempted = result["attempted"]
    correct = failed == 0 and not wrong
    for d in ("warehouse", "batches", "lex_index", "ivf_index", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    e2e = {m["name"]: m for m in result["e2e"]}
    e2e["failed_ratio"] = {"name": "failed_ratio", "value": failed / attempted, "unit": "ratio"}
    tail = next(m["value"] for m in result["info"] if m["name"] == "tail_percentile")
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"ops={attempted} failed={failed} (op_tail_ms is p{tail:.1f})")
    for m in result["e2e"] + [e2e["failed_ratio"]] + result["info"]:
        print(f"{a.workload} {m['name']} = {m['value']:.6g} {m['unit']}")
    for m in result["layers"]:
        print(f"{a.workload} {m['name']} = {m['value']:.6g} {m['unit']} -> {m['maps_to']}")
    if a.trace:
        layers = {m["name"]: m for m in result["layers"]}
        metrics = {k: {"value": layers[k]["value"], "unit": layers[k]["unit"]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k]["value"], "unit": e2e[k]["unit"]} for k in E2E}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

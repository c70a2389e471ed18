#!/usr/bin/env python3
"""Benchmark of the graft validation engine. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark program from source (sbt, offline, once per
source state), prepares the workload's inputs from the seed, runs the program in
one JVM at local[4] and checks the outputs. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end-to-end metrics, with --trace 1 its
per-layer metrics; the lines before it name every figure with its unit.
See perfbench/README.md for the workloads and metrics.
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
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")
# class-data-sharing archive of the classes a Spark start loads, written by the
# build; every run maps it (-Xshare:on fails the JVM if it cannot)
CDS_ARCHIVE = os.path.join(WORK, "spark-classes.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# seconds a run may take after the build (a build only happens on the first run)
DEADLINE_S = 170
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false"] + [
    a for p in ("java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
                "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
# curation_ops tables: the measured set and the smaller warm-up set, whose
# paths differ so that SparkEntry's per-directory memos never carry over
CURATION_TABLES = os.path.join(HERE, "data", "sf0.1")
CURATION_WARM_TABLES = os.path.join(HERE, "data", "sf0.01")

def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt once per source state; return the classpath."""
    stamp = tree_hash([ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                       os.path.join(HERE, "project", "build.properties")])
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if all(map(os.path.exists, (cp_file, stamp_file, CDS_ARCHIVE))) and open(stamp_file).read() == stamp:
        return open(cp_file).read().split("\n")
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "-batch", *opts, "compile", "writeClasspath"], HERE, env, out, 840)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc}), see {log}", 3)
    classpath = open(cp_file).read().split("\n")
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    with open(log, "a") as out:
        rc = run_child(java_cmd(classpath, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"], ["--archive"]),
                       ROOT, dict(os.environ, SPARK_GRAFT_TMP=TMP), out, 300)
    if rc != 0 or not os.path.exists(CDS_ARCHIVE):
        fail(f"class-data-sharing archive not written (exit {rc}), see {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def java_cmd(classpath, jvm_opts, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    return [java, *JVM_OPTS, *jvm_opts, f"-Djava.io.tmpdir={TMP}", "-cp", ":".join(classpath),
            "perfbench.Main", *args]


def spark_home():
    """$SPARK_HOME, else the installation that holds spark-submit on the PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("Spark not found: set SPARK_HOME or put spark-submit on the PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def run_child(cmd, cwd, env, out, timeout):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def check_curation(res, tables, out_dir):
    import curation
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    want = curation.cached_oracle(tables, sql, os.path.join(WORK, "oracle"))
    for r in res.get("leaf_results", []):
        w = want[r["leaf"]]
        if (r["rows"], r["digest"]) != (w["rows"], w["digest"]):
            res["failed"] += 1
            res["failures"].append(f"{r['leaf']}: {r['rows']} rows {r['digest'][:12]} != "
                                   f"oracle {w['rows']} rows {w['digest'][:12]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["suite_short_dirty", "scalar_json", "curation_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(TMP, exist_ok=True)
    classpath = build()
    t0 = time.monotonic()

    sys.path.insert(0, HERE)
    # curation_ops runs on fixed tables: the seed selects nothing there
    tables = CURATION_TABLES if a.workload == "curation_ops" else None

    out_dir = os.path.join(WORK, "out", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    result = os.path.join(out_dir, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK, "--out", result]
    if tables:
        args += ["--tables", tables, "--warm-tables", CURATION_WARM_TABLES]
    cmd = java_cmd(classpath, ["-Xshare:on", f"-XX:SharedArchiveFile={CDS_ARCHIVE}"], args)
    env = dict(os.environ, SPARK_GRAFT_TMP=TMP)
    log = os.path.join(out_dir, "jvm.log")
    with open(log, "w") as out:
        rc = run_child(cmd, ROOT, env, out, DEADLINE_S - (time.monotonic() - t0))
    if rc != 0 or not os.path.exists(result):
        fail(f"benchmark JVM failed (exit {rc}), see {log}", 4)
    with open(result) as f:
        res = json.load(f)
    if tables:
        check_curation(res, tables, out_dir)

    for section in ("e2e", "report", "layers"):
        for name, m in res[section].items():
            print(f"{a.workload} {section:6s} {name:44s} {m['value']:16.6f} {m['unit']}")
    attempted, failed = res["attempted"], res["failed"]
    print(f"{a.workload} report failed_ops_ratio {failed / max(1, attempted):.6f} "
          f"({failed} of {attempted} calls)")
    for msg in res["failures"][:20]:
        print(f"{a.workload} FAILED {msg}")

    if a.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        source = res["layers"]
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        source = res["e2e"]
    metrics = {n: {"value": source[n]["value"] if n in source else 0.0, "unit": u} for n, u in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

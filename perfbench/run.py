#!/usr/bin/env python3
"""Store-lifecycle benchmark for graft.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 30 --trace 0

Builds the harness (graft's sources plus perfbench/src) with sbt when the
sources changed since the last build, runs one workload in a fresh JVM and
prints one JSON object as the last line of stdout. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
`--smoke` shrinks every workload to one tiny round (for the tests).

Exit codes: 0 all checks passed; 1 a correctness check failed; 2 the
checkout holds no graft sources or the build failed; 3 the run failed or
timed out.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("ingest", "lifecycle")
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar",
    )
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(HERE, "src"), GRAFT_SRC]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    digest = source_digest()
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == digest and os.path.isdir(CLASSES):
        return
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        timeout=BUILD_TIMEOUT_S, text=True,
    )
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(2, "build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)


def java_cmd(work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail(2, "SPARK_HOME is not set")
    cp = os.pathsep.join([CLASSES, os.path.join(spark_home, "jars", "*")])
    cmd = [java, f"-Xmx{HEAP}", *ADD_OPENS,
           "-Dspark.ui.enabled=false",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={work}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", os.path.join(work, "data"), "--out", OUT]
    return cmd + (["--smoke"] if args.smoke else [])


def cpu_ticks():
    """(steal, all) jiffies summed over CPUs, or None without /proc/stat.

    Steal is time a virtual CPU was ready to run but the host ran something
    else; on a shared host it slows whole runs and explains outliers.
    """
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def check_result(line):
    res = json.loads(line)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    for name, m in res["metrics"].items():
        assert set(m) == {"value", "unit"} and isinstance(m["value"], (int, float)), (name, m)
    return res


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args()

    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(2, f"no graft sources under {os.path.relpath(GRAFT_SRC)}; run from a full checkout")
    build()

    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("spark-local", "tmp", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    log_path = os.path.join(OUT, f"{args.workload}-{args.seed}-trace{args.trace}.log")
    try:
        with open(log_path, "w") as log:
            # a SPARK_LOCAL_DIRS from the environment would override spark.local.dir
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            t0 = cpu_ticks()
            proc = subprocess.Popen(java_cmd(work, args), cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                                    text=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(3, f"run exceeded {RUN_TIMEOUT_S}s (log: {os.path.relpath(log_path, ROOT)})")
            t1 = cpu_ticks()
            if t0 and t1 and t1[1] > t0[1]:
                print(f"perfbench: host steal {(t1[0] - t0[0]) / (t1[1] - t0[1]):.1%} of CPU time during the run",
                      file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if proc.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(stdout)
        fail(3, f"run failed with code {proc.returncode} (log: {os.path.relpath(log_path, ROOT)})")
    try:
        res = check_result(lines[-1])
    except (ValueError, AssertionError) as e:
        fail(3, f"malformed result line: {e}")
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(res))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()

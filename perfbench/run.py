#!/usr/bin/env python3
"""Repository benchmark: drives the program through its public functions.

Run from the repository root:

    python3 perfbench/run.py --workload session_stream --seed 1 \
        --seconds 10 --trace 0

Steps:
  1. compile src/main/scala plus perfbench/src with the Scala compiler
     that ships with Spark (cached under .bench_build/ by source digest);
  2. run one workload in a fresh JVM (perfbench.Main) with all of its
     state (warehouse, checkpoints, staging, Spark local dirs) under
     a temporary directory in .bench_build/, removed afterwards;
  3. for query_suite, compare every member's output with DuckDB's answer
     to the member's SparkEntry.oracleSql on the same corpus (stored in
     perfbench/expected.json, see expected.py);
  4. print one detail line (the workload's named figures and the run
     environment) and, last, the result line:
     {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(spans plus Spark listener attribution; spans are kept in
.bench_build/perfbench/spans/). Exit status is non-zero, with no result
line, when the program's sources or the toolchain are missing or a run
fails.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time

WORKLOADS = ("session_stream", "serve", "query_suite")
HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "corpus", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
BUILD = os.path.join(".bench_build", "perfbench")
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars directory, the one holding the Scala compiler:
    $SPARK_HOME/jars, else beside a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark jars with a Scala compiler (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                             recursive=True))
    if not main:
        fail("run from the repository root: src/main/scala has no sources")
    if not bench:
        fail("perfbench/src has no sources")
    return main + bench


def build(jars):
    """Compile the program and the harness once per source digest."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(BUILD, "classes-" + digest)
    if os.path.exists(os.path.join(out, ".complete")):
        return out, digest
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    comp = [os.path.join(jars, "scala-%s-2.13.17.jar" % k)
            for k in ("compiler", "library", "reflect")]
    comp = [c for c in comp if os.path.exists(c)] or \
        glob.glob(os.path.join(jars, "scala-*.jar"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(comp),
         "scala.tools.nsc.Main", "-nowarn", "-classpath",
         os.path.join(jars, "*"), "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    os.remove(argfile)
    os.rename(tmp, out)
    open(os.path.join(out, ".complete"), "w").close()
    print("perfbench: compiled %d sources in %.1f s" % (len(srcs), time.time() - t0),
          file=sys.stderr)
    return out, digest


def java_cmd(classes, jars, jvm_tmp):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    # the heap starts at the same size on any machine and grows on demand
    # up to its ceiling, so the peak resident set follows the program's
    # memory use; few GC and JIT threads leave the four cores to Spark
    # tasks; no hsperfdata file: the run writes only inside the checkout
    return cmd + ["-XX:-UsePerfData", "-Xms256m", "-Xmx2g", "-Xss8m",
                  "-XX:+UseG1GC", "-XX:ParallelGCThreads=2",
                  "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2",
                  "-Djava.io.tmpdir=" + jvm_tmp,
                  "-Dderby.system.home=" + jvm_tmp,
                  "-cp", classes + ":" + os.path.join(jars, "*"),
                  "perfbench.Main"]


def run_jvm(classes, jars, args, work, timeout_s):
    jvm_tmp = os.path.join(work, "tmp")
    os.makedirs(jvm_tmp, exist_ok=True)
    cmd = java_cmd(classes, jars, jvm_tmp) + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    if rc != 0:
        with open(log_path, errors="replace") as f:
            lines = [l for l in f.read().splitlines()
                     if " INFO " not in l and " WARN " not in l]
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        fail("workload JVM %s" % ("timed out" if rc is None else "exited %d" % rc))


def rows_key(cols, rows):
    """Sorted canonical rows, in the form of the repository's parity check
    (tools/check_parity.py)."""
    sys.path.insert(0, "tools")
    try:
        from check_parity import rows_key as key
    finally:
        sys.path.pop(0)
    return key(cols, rows)


def answer_digest(con, sql):
    """(row count, sha256 of the sorted canonical rows) of a DuckDB query."""
    r = con.sql(sql)
    rows = rows_key([c.lower() for c in r.columns], r.fetchall())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def check_suite(res):
    """Each member's rows equal DuckDB's answer to its oracle SQL on the
    corpus. The answers are computed once by perfbench/expected.py and
    kept with the SQL's digest; a member whose SQL changed fails until
    they are recomputed."""
    import duckdb
    with open(EXPECTED) as f:
        expected = json.load(f)
    con = duckdb.connect()
    bad = []
    for name, sql in sorted(res["oracle"].items()):
        want = expected.get(name)
        if want is None or want["sql_sha256"] != sha(sql):
            bad.append("%s: oracle SQL changed; rerun perfbench/expected.py" % name)
            continue
        try:
            got = answer_digest(con, "SELECT * FROM '%s/%s/*.parquet'"
                                % (res["outputs"], name))
        except Exception as e:  # unreadable output is a failed member
            bad.append("%s: %s" % (name, str(e)[:200]))
            continue
        if list(got) != [want["rows"], want["sha256"]]:
            bad.append("%s: %d rows vs oracle %d, or values differ"
                       % (name, got[0], want["rows"]))
    return bad


def sha(text):
    return hashlib.sha256(text.encode()).hexdigest()


def cpu_times():
    """The machine's cumulative CPU times (the first line of /proc/stat),
    or None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(t0, t1):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings: a run with a high share ran on a loaded host."""
    if not t0 or not t1 or len(t0) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return round(d[7] / max(1, sum(d)), 4)


def environment(digest, steal):
    mem = 0
    try:
        with open("/proc/meminfo") as f:
            mem = int(f.readline().split()[1]) // 1024
    except OSError:
        pass
    commit = None
    if os.path.isdir(".git"):
        r = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        commit = r.stdout.strip() or None
    return {"nproc": os.cpu_count(), "mem_mb": mem, "machine": platform.machine(),
            "git_commit": commit, "source_digest": digest,
            "host_steal_share": steal}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if shutil.which("java") is None:
        fail("no java on PATH")
    if not os.path.isdir(CORPUS):
        fail("corpus missing: " + CORPUS)
    with open("BENCHMARK.json") as f:
        declared = json.load(f)
    jars = spark_jars()
    classes, digest = build(jars)
    os.makedirs(BUILD, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    try:
        out = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", os.path.abspath(work),
                "--corpus", os.path.abspath(CORPUS), "--out", out]
        if a.trace:
            args += ["--spans", os.path.abspath(os.path.join(
                BUILD, "spans", "%s-%d.jsonl" % (a.workload, a.seed)))]
        t0 = cpu_times()
        run_jvm(classes, jars, args, work, JVM_TIMEOUT_S)
        steal = steal_share(t0, cpu_times())
        with open(out) as f:
            res = json.load(f)
        problems = list(res["checks_failed"])
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "query_suite":
            bad = check_suite(res)
            problems += bad
            failed += len(bad)
    finally:
        # keep the last JVM log of each workload for diagnosis
        log = os.path.join(work, "jvm.log")
        if os.path.exists(log):
            shutil.move(log, os.path.join(BUILD, "last-%s.log" % a.workload))
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in declared["per_layer" if a.trace else "end_to_end"]:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            fail("metric %s missing or not in %s" % (m["name"], m["unit"]))
        metrics[m["name"]] = got
    # everything else measured goes on the detail line: the tail latency,
    # peak memory, and in a traced run its own end-to-end figures, to set
    # against the untraced run of the same seed
    detail = {k: v for k, v in res["metrics"].items() if k not in metrics}
    detail.update(res["detail"])
    if a.trace == 0:
        detail["error_rate"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "detail": detail, "problems": problems,
                      "env": dict(environment(digest, steal), **res.get("env", {}))}))
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()

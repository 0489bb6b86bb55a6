#!/usr/bin/env python3
"""Repository benchmark: the CDC replication path and the batch operators.

Usage, from the repository root:

    python3 perfbench/run.py --workload catchup_drain|analytics \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --workload catchup_drain ... --inject state
    python3 perfbench/run.py --workload analytics ... --inject query

It compiles the program (src/main) and the harness (perfbench/src) from
source with the Scala compiler that ships with Spark, caching the classes
under .bench_build/ by a hash of the sources. It then runs one workload in a
fresh JVM, checks the outputs (the generator's own fold for the CDC
workloads, the DuckDB oracle through tools/check.py for analytics), prints
every metric by name and unit, and as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 the per_layer
ones (0 for those that belong to the other workload). --inject corrupts one output on purpose, to prove the check fails.
See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# The per-layer metrics each workload produces, by name prefix. A traced run
# fails when one of its own is missing, and writes 0 only for a metric that
# belongs to the other workload.
LAYER_OWNERS = {
    "catchup_drain": ("commit_", "drain_eps", "recon", "streaming.", "spark.", "site.", "sink.",
                      "ops.", "trace.", "failed_frac"),
    "analytics": ("analytics", "q.", "site.Materialize.jobs", "trace.", "failed_frac"),
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(main):
        fail(f"program sources not found under {main}; run from the repository root")
    files = []
    for base in (main, os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build(jars):
    """Compile program + harness once per source hash; return the class dir."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-Xss8m", "-Xmx2g",
                        "-cp", cp, "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    java_srcs = [f for f in srcs if f.endswith(".java")]
    if r.returncode == 0 and java_srcs:
        r = subprocess.run(["javac", "-nowarn", "-d", classes, "-cp", classes + os.pathsep + cp]
                           + java_srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        shutil.rmtree(classes, ignore_errors=True)
        fail("compilation failed")
    open(os.path.join(classes, ".ok"), "w").close()
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(jars, classes, main_class, args, log_path):
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx3g", "-Xss4m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(os.path.dirname(log_path), "tmp"),
            "-Dsun.net.inetaddr.negative.ttl=-1", "-Djava.net.preferIPv4Stack=true",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), main_class] + args)
    os.makedirs(os.path.join(os.path.dirname(log_path), "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)

        def kill(*_):
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
            sys.exit(3)
        signal.signal(signal.SIGTERM, kill)
        signal.signal(signal.SIGINT, kill)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -9
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
    return rc


def log_tail(path, n=60):
    with open(path, errors="replace") as fh:
        lines = [l for l in fh.read().splitlines() if "WARN" not in l]
    return "\n".join(lines[-n:])


def oracle_check(oracle, work):
    """Run tools/check.py over the written results; return failing queries."""
    out = os.path.join(work, "check.json")
    env = dict(os.environ, CHECK_JSON_OUT=out)
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        oracle["fixtures"], oracle["results"]] + oracle["queries"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, env=env)
    if not os.path.exists(out):
        sys.stderr.write(r.stdout[-4000:])
        fail("tools/check.py produced no result")
    with open(out) as fh:
        res = json.load(fh)["queries"]
    for line in r.stdout.splitlines():
        if line.startswith("FAIL"):
            print("perfbench: oracle " + line, file=sys.stderr)
    return [q for q in oracle["queries"] if not str(res.get(q, "")).startswith("pass")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("state", "query"))
    ap.add_argument("--cores", type=int, help="Spark local[N] (default: all cores)")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(bench_json) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in workloads:
        fail(f"--workload must be one of {workloads}")

    jars = spark_jars()
    classes = build(jars)
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(work, "jvm.log")
    try:
        if a.selftest:
            rc = run_jvm(jars, classes, "perfbench.SelfTest", [], log_path)
            print(log_tail(log_path, 200))
            sys.exit(0 if rc == 0 else 1)

        out = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-trace{a.trace}.json")
        if os.path.exists(out):
            os.remove(out)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", out]
        if a.inject:
            args += ["--inject", a.inject]
        if a.cores:
            args += ["--cores", str(a.cores)]
        t_jvm = time.time()
        rc = run_jvm(jars, classes, "perfbench.Main", args, log_path)
        print(f"perfbench: JVM ran {time.time() - t_jvm:.1f} s", file=sys.stderr)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(log_tail(log_path) + "\n")
            fail(f"benchmark JVM exited with {rc}")
        with open(out) as fh:
            res = json.load(fh)

        attempted, failed = res["attempted"], res["failed"]
        if res["oracle"]:
            bad = sorted(set(oracle_check(res["oracle"], work)) | set(res["failed_queries"]))
            failed = len(bad)
            if bad:
                print("perfbench: failed queries: " + " ".join(bad), file=sys.stderr)

        declared = spec["per_layer"] if a.trace else spec["end_to_end"]
        measured = res["layers"] if a.trace else res["metrics"]
        failed_frac = failed / max(attempted, 1)
        if a.trace:
            measured["failed_frac"] = {"value": failed_frac, "unit": "ratio"}
        metrics = {}
        for m in declared:
            got = measured.get(m["name"])
            if got is None:
                owners = [w for w, ps in LAYER_OWNERS.items() if m["name"].startswith(ps)]
                if not a.trace or a.workload in owners or not owners:
                    fail(f"metric {m['name']} was not measured")
            value = got["value"] if got else 0
            if value is None:
                fail(f"metric {m['name']} has no value")
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        extra = set(measured) - {m["name"] for m in declared}
        if extra:
            print("perfbench: measured but not declared: " + " ".join(sorted(extra)),
                  file=sys.stderr)

        print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
        for k, v in res["metrics"].items():
            print(f"  {k:<44} {v['value']:>14.6g} {v['unit']}")
        for k, v, u in res["report"]:
            print(f"  {k:<44} {v if v is not None else float('nan'):>14.6g} {u}")
        print(f"  {'failed_frac':<44} {failed_frac:>14.6g} ratio")
        print(f"  {'attempted':<44} {attempted:>14} count")
        shown = {r[0] for r in res["report"]} | {"failed_frac"}
        for k, v in (res["layers"].items() if a.trace else ()):
            if k not in shown:
                print(f"  {k:<44} {v['value']:>14.6g} {v['unit']}")
        h = res["host"]
        print(f"  host: nproc={h['nproc']} spark=local[{h['spark_cores']}] "
              f"loadavg_start={h['loadavg_start']} "
              f"loadavg_end={h['loadavg_end']}")
        if res.get("spans"):
            print(f"  spans: {os.path.relpath(res['spans'], ROOT)}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

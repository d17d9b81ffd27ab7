#!/usr/bin/env python3
"""Build the engine with the benchmark harness and run one workload.

    python3 perfbench/run.py --workload mcp_interactive --seed 1 --seconds 30 --trace 0

Run from the repository root. The engine sources (src/main/scala) and the
harness (perfbench/src) are compiled together with the Scala compiler
that ships in Spark's jars, into .bench_build/perfbench/ (reused while
the sources are unchanged). The harness then runs in one JVM with the
JVM options the sbt build forks with. The last stdout line is the JSON
summary; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import registry

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else beside spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    return os.path.join(home, "jars")


SPARK_JARS = spark_jars()
RUN_TIMEOUT_S = 170

# build.sbt's forked-JVM options (JDK 17 module opens for Spark, UTF-8
# report text, code cache), with the heap kept small for a shared host
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_options(tmp):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return opts + [
        "-Dfile.encoding=UTF-8",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Xmx4g",
        "-XX:ReservedCodeCacheSize=512m",
        "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
    ]


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile into a directory named by the sources' hash; return it."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(WORK, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = os.path.join(SPARK_JARS, "*")
    argfile = os.path.join(WORK, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compilation failed")
    os.rename(tmp, classes)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        sys.exit("perfbench: no engine sources at src/main/scala; run from a full checkout")
    if not os.path.isdir(SPARK_JARS):
        sys.exit("perfbench: Spark jars not found; set SPARK_HOME")
    classes = build()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm_options(tmp) +
           ["-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", WORK])
    reg = os.path.join(WORK, "registry", "seed%d" % a.seed)
    if a.trace:
        # the traced run also times the registry's logdom queries on
        # tables made from the seed, and checks them against DuckDB
        shutil.rmtree(reg, ignore_errors=True)
        registry.make_tables(a.seed, os.path.join(reg, "tables"))
        cmd += ["--registry", reg]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit("perfbench: run exceeded %d s" % RUN_TIMEOUT_S)
    lines = out.splitlines()
    if p.returncode != 0 or not lines:
        sys.stdout.write(out)
        sys.exit(p.returncode or 1)
    summary = json.loads(lines[-1])
    if a.trace:
        bad = registry.check(os.path.join(reg, "tables"), os.path.join(reg, "out"))
        for name, why in bad.items():
            print("perfbench: registry query %s differs from DuckDB: %s" % (name, why), file=sys.stderr)
        out_dir = os.path.join(reg, "out")
        summary["attempted"] += sum(os.path.isdir(os.path.join(out_dir, d)) for d in os.listdir(out_dir))
        summary["failed"] += len(bad)
        summary["correct"] = summary["correct"] and not bad
    print("\n".join(lines[:-1]))
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload (or the benchmark's self-tests).

  python3 perfbench/run.py --workload rcrag_llm --seed 1 --trace 0
  python3 perfbench/run.py --selftest

--seconds defaults to BENCHMARK.json's run_seconds.

Builds the engine and the benchmark from source (perfbench/build.py), runs
the workload in one JVM on a local[4] Spark session, forwards the
workload's report to stdout and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. Exits non-zero when the
build fails, the workload fails, or an output check fails. Spark's own log
goes to .bench_build/logs/.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["rcrag_engine", "rcrag_llm", "bm25_maintain", "curation_loops"]
# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TIMEOUT_S = 170


def run_seconds():
    """BENCHMARK.json's run_seconds, or None when it cannot be read."""
    try:
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
            return int(json.load(fh)["run_seconds"])
    except (OSError, ValueError, KeyError, TypeError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=run_seconds())
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    if not a.selftest and a.seconds is None:
        ap.error("--seconds is required: BENCHMARK.json gives no run_seconds")

    jar = build.build()
    out = build.build_dir()
    logs = os.path.join(out, "logs")
    os.makedirs(logs, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dsun.net.httpserver.nodelay=true",
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties")]
    for p in ADD_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    # JVM warnings (class data sharing among them) go to stderr, so the
    # JSON line stays the last line of stdout
    jvm += ["-Xlog:disable", "-Xlog:all=warning:stderr"]
    # Class data sharing: the first run of a workload dumps the classes it
    # loaded; later runs map them instead of loading them again. This cuts
    # JVM and Spark start-up only; every timed operation runs after the
    # untimed warm-up either way.
    archive = None if a.selftest else os.path.join(build.cds_dir(), f"{a.workload}.jsa")
    dumping = archive is not None and not os.path.isfile(archive)
    if dumping:
        os.makedirs(build.cds_dir(), exist_ok=True)
        jvm += ["-XX:ArchiveClassesAtExit=" + archive + ".tmp"]
    elif archive is not None:
        jvm += ["-XX:SharedArchiveFile=" + archive]
    jvm += ["-cp", build.classpath(jar)]
    if a.selftest:
        cmd = jvm + ["perfbench.SelfTest", build.ROOT]
        log = os.path.join(logs, "selftest.log")
    else:
        cmd = jvm + ["perfbench.Main", "--workload", a.workload,
                     "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--work-dir", out,
                     "--benchmark", os.path.join(build.ROOT, "BENCHMARK.json")]
        log = os.path.join(logs, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}.log")

    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(out, "spark-local")
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    env.pop("SPARK_GRAFT_MODEL_DIR", None)
    t0 = time.time()
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             cwd=build.ROOT, env=env)
        try:
            stdout, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.stderr.write(f"run: timed out after {TIMEOUT_S} s (log: {log})\n")
            return 3
    sys.stdout.write(stdout)
    sys.stdout.flush()
    if dumping and p.returncode == 0 and os.path.isfile(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)
    if p.returncode != 0:
        with open(log) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.write("".join(tail))
        sys.stderr.write(f"run: exit code {p.returncode} after {time.time() - t0:.1f} s (log: {log})\n")
    return p.returncode


if __name__ == "__main__":
    sys.exit(main())

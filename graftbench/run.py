#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 graftbench/run.py --workload ingest --seed 1 --seconds 6 --trace 0
    python3 graftbench/run.py --workload all          # every workload, one summary

Run from the root of a checkout. The first run builds the library and
the harness from source with sbt (graftbench/build.sbt) and caches the
classpath under .bench_build/; later runs start the JVM directly. The
last line of standard output is the result object:
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["ingest", "analytics_suite"]
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 800

# the same JVM module openings the root build gives forked Spark JVMs
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build compiles, so an edit rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("cannot find the Spark jars (set SPARK_HOME)")
    return jars


def run_bounded(cmd, cwd, env, timeout, capture):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout}s and was stopped")
    return p.returncode, out


def classpath():
    """The harness classpath, building first when the sources changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found: run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    env = dict(os.environ, GRAFTBENCH_SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("graftbench: building (sbt compile)", file=sys.stderr)
    rc, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"],
                          HERE, env, BUILD_TIMEOUT_S, capture=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {rc})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def run_one(workload, seed, seconds, trace, extra=()):
    """Run one workload; returns (exit code, stdout lines)."""
    cp = classpath()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin(), "-Xms4g", "-Xmx4g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Djava.io.tmpdir=" + tmp]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--root", ROOT,
            "--work", os.path.join(BUILD, "work"), "--trace-dir", os.path.join(BUILD, "traces")]
    cmd += list(extra)
    rc, out = run_bounded(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, capture=True)
    return rc, (out or "").splitlines()


def result_line(lines):
    """The result object, if the last line is one."""
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    keys = {"correct", "attempted", "failed", "metrics"}
    return r if isinstance(r, dict) and set(r) == keys and r["attempted"] >= 1 else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true",
                    help="analytics_suite: rewrite the pinned row digests")
    a = ap.parse_args()
    if a.workload != "all":
        rc, lines = run_one(a.workload, a.seed, a.seconds, a.trace,
                            ["--pin", "1"] if a.pin else [])
        res = result_line(lines)
        if rc != 0 or res is None:
            sys.stderr.write("\n".join(lines[-20:]) + "\n")
            fail(f"{a.workload} did not produce a result (exit {rc})")
        print("\n".join(lines))
        return
    summary = []
    for w in WORKLOADS:
        rc, lines = run_one(w, a.seed, a.seconds, a.trace)
        res = result_line(lines)
        if rc != 0 or res is None:
            sys.stderr.write("\n".join(lines[-20:]) + "\n")
            fail(f"{w} did not produce a result (exit {rc})")
        print("\n".join(l for l in lines[:-1]))
        summary.append((w, res, lines))
    print("\n== summary ==")
    for w, res, lines in summary:
        share = res["failed"] / res["attempted"]
        print(f"{w}: failed_share {share:g} ({res['failed']}/{res['attempted']})")
        for k, m in res["metrics"].items():
            print(f"  {k:34s} {m['value']:.6g} {m['unit']}")
        for l in lines:
            for name in ("ingest_events_per_s", "stream_latency_p50_ms", "stream_latency_max_ms",
                         "suite_rounds_wall_s", "suite_compute_wall_s"):
                if l.startswith(f"[graftbench] {name}:"):
                    unit = {"ingest_events_per_s": "events/s"}.get(name, name.rsplit("_", 1)[-1])
                    print(f"  {name:34s} {l.split(':', 1)[1].strip()} {unit}")


if __name__ == "__main__":
    main()

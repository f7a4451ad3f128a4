#!/usr/bin/env python3
"""graft's benchmark: one command builds the harness, runs a workload and
prints one JSON result line.

    python3 perfbench/run.py --workload crawl_to_shards --seed 1 \
        --seconds 10 --trace 0

Run it from the repository root. The harness (perfbench/build.sbt) is
compiled together with graft's main sources, once per source state,
into .bench_build/. The JVM runs in local mode on every core, writes
only under .bench_build/, and its last stdout line is relayed as the
result: exit 0 when every check passed, 3 with `"correct": false` when
one failed, 2 without a result otherwise. See perfbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_to_shards", "store_takedown")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the list
# org.apache.spark.launcher.JavaModuleOptions carries).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env(build_dir):
    """Offline sbt whose global state stays under the build directory."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the sbt script, and every JVM it starts, keep temp files here too
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                                f"-Djna.tmpdir={tmp}")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
            f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
            f"-Dsbt.ivy.home={os.path.join(build_dir, 'ivy')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(build_dir):
    """Compile the harness and graft; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(build_dir, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(build_dir), stdout=subprocess.PIPE, stderr=fh,
            text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        with open(log, "a") as fh:
            fh.write(p.stdout)
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="write the full per-run JSON here")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no graft sources under {ROOT}/src/main/scala; "
             "run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at the Spark distribution")

    build_dir = os.path.join(ROOT, ".bench_build")
    cp = build(build_dir)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    report = a.report or os.path.join(build_dir, "reports", f"{tag}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(build_dir, "logs"), exist_ok=True)
    log = os.path.join(build_dir, "logs", f"{tag}.log")
    cmd = (["java", "-cp", cp, "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work,
              "--report", os.path.abspath(report)])
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True,
                                env=dict(os.environ,
                                         TMPDIR=os.path.join(work, "tmp")))
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log) as fh:
            print(fh.read()[-3000:], file=sys.stderr)
        if not lines:
            fail(f"workload exited {proc.returncode} without a result; log {log}")
        print(lines[-1])
        print(f"[perfbench] checks failed; log {log}", file=sys.stderr)
        sys.exit(proc.returncode or 2)
    print(lines[-1])


if __name__ == "__main__":
    main()

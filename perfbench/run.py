#!/usr/bin/env python3
"""Run the KG-construction benchmark from the root of a checkout.

    python3 perfbench/run.py --workload build|maintain|query --seed N \
        --seconds S --trace 0|1

Builds the program and the benchmark from source (sbt, into perfbench/target)
whenever their sources differ from the last build's, then runs one JVM at
local[4]. The JVM prints a report and, as its last stdout line, the JSON
result; this script passes both through. Everything the run writes lives
under .bench_tmp/ in the checkout and is deleted when the run ends.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The last build's runtime classpath, after a line with the hash of the
# sources it was built from.
CLASSPATH_FILE = os.path.join(HERE, "target", "bench.classpath")
# Everything the build reads from the checkout: the program's sources and
# the benchmark's own.
BUILD_INPUTS = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        # the Spark installation whose spark-submit is on PATH and has jars/
        for d in env.get("PATH", "").split(os.pathsep):
            submit = os.path.join(d, "spark-submit")
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
                env["SPARK_HOME"] = home
                break
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def jvm(cp, run_dir, main_args):
    return (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
            ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={run_dir}/jtmp",
             "-cp", cp, "graftbench.Main", "--dir", run_dir] + main_args)


def new_run_dir():
    run_dir = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "jtmp"))
    return run_dir


def remove_run_dir(run_dir):
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(run_dir))
    except OSError:
        pass


def sources_hash():
    """Hash of the checkout's location and of the relative path and contents
    of every build input."""
    h = hashlib.sha256(ROOT.encode() + b"\0")
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for path in paths:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
            h.update(b"\0")
    return h.hexdigest()


def build():
    """Compile with sbt (incrementally) unless the sources are those of the
    last build; return the runtime classpath."""
    stamp = sources_hash()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            last = f.read().split("\n")
        if len(last) >= 2 and last[0] == stamp:
            return last[1].strip()
        os.remove(CLASSPATH_FILE)
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "graft-perfbench" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as f:
        f.write(f"{stamp}\n{cp}\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["build", "maintain", "query"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    args = ap.parse_args()

    # The program under test is built from this checkout's sources.
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala/graft")
    cp = build()

    run_dir = new_run_dir()
    err_path = os.path.join(run_dir, "jvm.err")
    cmd = jvm(cp, run_dir, ["--workload", args.workload, "--seed", str(args.seed),
                            "--seconds", str(args.seconds), "--trace", args.trace,
                            "--out", os.path.join("perfbench", "out")])
    proc = None
    try:
        with open(err_path, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                    text=True)
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = [l for l in out.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
            with open(err_path) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stdout.write("".join(l + "\n" for l in lines if not l.startswith("{")))
            fail(f"benchmark JVM exited with {proc.returncode}")
        sys.stdout.write("\n".join(lines) + "\n")
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("benchmark JVM timed out")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        remove_run_dir(run_dir)


if __name__ == "__main__":
    main()

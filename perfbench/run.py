#!/usr/bin/env python3
"""ExampleGen job benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload pit_export --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build, fits the models a workload serves once per
build, then runs the workload in a fresh JVM that generates the seeded
inputs and measures. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Everything the benchmark writes stays under perfbench/.work
and perfbench/target; the log of the latest run of each workload is kept
in perfbench/.work/<workload>.log.
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
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
STAMP = os.path.join(HERE, "target", "source-stamp.txt")
WORKLOADS = ["pit_export", "corpus_export", "examples_scan"]
SERVES_MODELS = {"corpus_export"}

BUILD_TIMEOUT_S = 840
RUN_BUDGET_S = 170

# The engine's own forked-JVM settings (root build.sbt): module opens
# Spark needs on JDK 17, and the code-cache / huge-method settings its
# wide generated plans rely on.
JVM_OPTS = [
    # A fixed heap and young generation: with adaptive sizing the heap
    # peak of a run depends on the sizes the collector happened to pick.
    "-Xms3g", "-Xmx3g", "-Xmn1g",
    "-XX:ReservedCodeCacheSize=1g", "-XX:-DontCompileHugeMethods",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [
    arg
    for pkg in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ]
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, log, cwd=None, env=None):
    """Run cmd in its own process group; kill the group on timeout.
    Returns (exit code or None on timeout, stdout text)."""
    with open(log, "ab") as err:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                                stderr=err, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
            return proc.returncode, out.decode("utf-8", "replace")
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return None, ""
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def build():
    """Compile when the sources changed; returns the source stamp."""
    want = stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return want
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          BUILD_TIMEOUT_S, log, cwd=HERE, env=env)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail("build failed (exit %s), see %s" % (code, log), 1)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return want


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    return exe if home and os.path.exists(exe) else "java"


def jvm(phase, args, work, timeout, log):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = [java()] + JVM_OPTS + ["-cp", cp, "graft.perfbench.Main", "--phase", phase,
                                 "--work", work,
                                 "--cores", str(len(os.sched_getaffinity(0))),
                                 "--launch-ms", str(int(time.time() * 1000))] + args
    code, out = run_bounded(cmd, timeout, log)
    lines = [l for l in out.splitlines() if l.strip()]
    if code is None:
        fail("%s phase timed out after %ds, see %s" % (phase, timeout, log), 1)
    if code != 0 or not lines:
        fail("%s phase exited %s, see %s" % (phase, code, log), 1)
    return json.loads(lines[-1])


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true",
                   help="show each workload's output check rejecting corrupted outputs")
    a = p.parse_args()
    if not a.self_test and a.workload is None:
        p.error("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to the benchmark (expected build.sbt and src/main/scala in %s)"
             % ROOT)

    started = time.time()
    source = build()
    # Fitted models depend only on the program, so they are kept per build.
    models_root = os.path.join(WORK, "models")
    models = os.path.join(models_root, source[:16])
    if os.path.isdir(models_root):
        for old in os.listdir(models_root):
            if old != source[:16]:
                shutil.rmtree(os.path.join(models_root, old), ignore_errors=True)
    work = os.path.join(WORK, "run-%d" % os.getpid())
    log = os.path.join(WORK, ("self-test" if a.self_test else a.workload) + ".log")
    os.makedirs(WORK, exist_ok=True)
    open(log, "w").close()
    shutil.rmtree(work, ignore_errors=True)
    ok = False
    try:
        if a.self_test:
            ok = True
            for w in WORKLOADS:
                r = jvm("self-test", ["--workload", w, "--seed", str(a.seed), "--models", models],
                        work, 600, log)
                print(json.dumps(r))
                ok = ok and r.get("ok") is True
                shutil.rmtree(work, ignore_errors=True)
            return 0 if ok else 1
        base = ["--workload", a.workload, "--seed", str(a.seed), "--models", models]
        fitted = os.path.join(models, a.workload + ".fitted")
        if a.workload in SERVES_MODELS and not os.path.exists(fitted):
            jvm("fit", base, work, BUILD_TIMEOUT_S, log)
            open(fitted, "w").close()
        result = jvm("measure", base + ["--seconds", str(a.seconds),
                                        "--trace", str(a.trace),
                                        "--spans", os.path.join(WORK, "spans")],
                     work, RUN_BUDGET_S, log)
        if not {"correct", "attempted", "failed", "metrics"} <= set(result):
            fail("malformed result: %r" % result, 1)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            declared = json.load(fh)["per_layer" if a.trace else "end_to_end"]
        if [m["name"] for m in declared] != list(result["metrics"]):
            fail("metrics differ from BENCHMARK.json: %s" % sorted(
                set(m["name"] for m in declared) ^ set(result["metrics"])), 1)
        print(json.dumps(result))
        ok = result["correct"] is True
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        print("perfbench: %.1fs total%s" % (time.time() - started, "" if ok else ", log in " + log),
              file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())

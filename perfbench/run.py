#!/usr/bin/env python3
"""Build the engine from source and run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles `src/main/scala`
and `perfbench/src` with the Scala compiler that ships in the Spark
distribution (`$SPARK_HOME/jars`, else the `unmanagedBase` jar directory
`build.sbt` names) into the build directory (`$CARGO_TARGET_DIR`, default `.bench_build`); later
runs reuse the classes while the sources are unchanged. Each run gets
fresh working directories under the build directory, removed at exit.

The engine keeps its artifact caches under fixed `/tmp/graft-*-cache`
roots. Where the system allows an unprivileged user and mount namespace
(`unshare`), the JVM runs with a private `/tmp` bound to the run's own
directory, so those caches live and die inside the checkout; elsewhere
the JVM runs as is and deletes the shared roots before each query-suite
pass. Either way every pass is cold.

The last line of standard output is the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The exit code is 0 only when every output check passed.

    python3 perfbench/run.py --selftest

runs the generator self-test and the traced-replay parity check.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile

WORKLOADS = ("ingest_backfill", "report_daily", "query_suite")
UNSHARE = ["unshare", "--user", "--map-root-user", "--mount"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory: `$SPARK_HOME/jars`, else the one build.sbt uses."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("no Spark jars: set SPARK_HOME or run from the repository root")
    return m.group(1)


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, build_dir, jars):
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src/main/scala")) for s in srcs):
        fail("no engine sources under src/main/scala; run from the repository root")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    os.makedirs(build_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", dir=build_dir)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars + "/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", jars + "/*", "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def java_cmd(root, classes, jars, work, main, args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources"), jars + "/*"])
    return (["java"] + opens + ["-Xmx3g", "-XX:MetaspaceSize=256m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-cp", cp, main] + args)


def private_tmp(cmd, tmp):
    """Wrap `cmd` to run with `tmp` mounted on /tmp in a namespace of its
    own, when the system allows it; else return `cmd` unchanged."""
    try:
        ok = subprocess.run(UNSHARE + ["true"], stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL, timeout=20).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        ok = False
    if not ok:
        print("perfbench: no private /tmp; the shared artifact caches are wiped instead",
              file=sys.stderr)
        return cmd
    return UNSHARE + ["sh", "-c", 'mount --bind "$0" /tmp && exec "$@"', tmp] + cmd


def run_jvm(cmd):
    """Run the JVM in its own process group; forward its stdout; kill the
    whole group on timeout. Returns (exit code, stdout lines)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print("perfbench: run timed out", file=sys.stderr)
        return 1, []
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")
    root = os.getcwd()
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        fail(f"no Spark jars at {jars}")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(root, build_dir, jars)
    os.makedirs(os.path.join(build_dir, "runs"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(build_dir, "runs"))
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.selftest:
            code, lines = run_jvm(private_tmp(java_cmd(root, classes, jars, work, "perfbench.SelfTest",
                                                       ["--work", work]), os.path.join(work, "tmp")))
            print("\n".join(lines))
            sys.exit(code)
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work,
                "--trace-file", os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"),
                "--queries", os.path.join(root, "perfbench", "query_suite.tsv"),
                "--data", os.path.join(root, "perfbench", "testdata", "sf0.001")]
        code, lines = run_jvm(private_tmp(java_cmd(root, classes, jars, work, "perfbench.Main", args),
                                          os.path.join(work, "tmp")))
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
            print("\n".join(lines))
            print("perfbench: the run printed no result", file=sys.stderr)
            sys.exit(1)
        print("\n".join(lines))
        sys.exit(0 if code == 0 and result["correct"] else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""End-to-end benchmark of graft: CDC into a lakehouse table, and analytics.

Run from the repository root:

    python3 perfbench/run.py --workload snapshot_load --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Workloads: snapshot_load, change_replay (see BENCHMARK.json and LAYERS.md).
`--seconds` sets how many operations a run times (LAYERS.md), not a deadline.
The first run builds graft's sources (src/main/scala) together with the
harness (perfbench/src) using the Scala compiler shipped in Spark's jars
($SPARK_HOME/jars, or the jars next to `spark-submit` on PATH) into
.bench_build/perfbench, then runs the generator/oracle checks
(perfbench/test). Later runs reuse the build while the sources are unchanged.

The build also records which classes a toy run of every workload loads
into a class-data-sharing archive, which later runs map at JVM start.

One JVM runs one workload. Its last stdout line is the result
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The exit code is 0 only
when every output matched its oracle.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("snapshot_load", "change_replay")
RUN_LIMIT_S = 175      # a run must end within 180 s
BUILD_RUN_LIMIT_S = 890  # the run that builds may take 900 s
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found "
             "(set SPARK_HOME or put spark-submit on PATH)")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(HERE, "src")
    tests = os.path.join(HERE, "test")
    found = {}
    for name, d in (("main", main), ("bench", bench), ("test", tests)):
        files = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
        if not files:
            fail(f"no Scala sources under {os.path.relpath(d, root)}: "
                 "run from the root of a graft checkout")
        found[name] = files
    return found


def java_cmd(build_dir, jars, work, archive_flag):
    """The JVM command line that runs perfbench.Main in `work`."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xlog:all=warning:stderr", archive_flag,
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dderby.system.home=" + work]
            + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([os.path.join(build_dir, "classes.jar"),
                                       os.path.join(jars, "*")]), "perfbench.Main"])


def new_work_dir(build_dir, name):
    work = os.path.join(build_dir, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed", 1)


def source_stamp(root, srcs):
    h = hashlib.sha256()
    for f in srcs["main"] + srcs["bench"] + srcs["test"]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, jars):
    """Compile into .bench_build/perfbench unless the sources are unchanged.
    Returns (build dir, whether this call built)."""
    out = os.path.join(root, ".bench_build", "perfbench")
    srcs = sources(root)
    stamp = source_stamp(root, srcs)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, False
    print("perfbench: building graft and the harness", file=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    spark_cp = os.path.join(jars, "*")
    scalac(jars, spark_cp, classes, srcs["main"] + srcs["bench"])
    test_classes = os.path.join(out, "test-classes")
    scalac(jars, classes + os.pathsep + spark_cp, test_classes, srcs["test"])
    r = subprocess.run(["java", "-cp", os.pathsep.join([test_classes, classes, spark_cp]),
                        "perfbench.GenChecks"], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("generator/oracle checks failed", 1)
    # class-data sharing needs jars, not directories, on the class path
    with zipfile.ZipFile(os.path.join(out, "classes.jar"), "w") as z:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    work = new_work_dir(out, "work-archive")
    archive = os.path.join(out, "classes.jsa")
    r = subprocess.run(java_cmd(out, jars, work, "-XX:ArchiveClassesAtExit=" + archive)
                       + ["--workload", "smoke", "--seed", "1", "--seconds", "0",
                          "--trace", "0", "--work", work], cwd=work,
                       stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        fail("the smoke run failed", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out, True


def declared_metrics(trace):
    spec = json.load(open(os.path.join(HERE, os.pardir, "BENCHMARK.json")))
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(build_dir, jars, args, limit):
    work = new_work_dir(build_dir, f"work-{os.getpid()}")
    cpus = len(os.sched_getaffinity(0))
    cmd = (java_cmd(build_dir, jars, work,
                    "-XX:SharedArchiveFile=" + os.path.join(build_dir, "classes.jsa"))
           + ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cpus", str(cpus)])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {limit:.0f} s", 1)
    return work, proc.returncode, stdout.strip().splitlines()


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="build, run the generator/oracle checks, and exit")
    args = ap.parse_args()
    if not args.self_test and not args.workload:
        ap.error("--workload is required")
    root = os.getcwd()
    jars = spark_jars()
    build_dir, built = build(root, jars)
    if args.self_test:
        if not built:  # the checks run on every build; rerun them on request
            spark_cp = os.path.join(jars, "*")
            r = subprocess.run(["java", "-cp", os.pathsep.join(
                [os.path.join(build_dir, "test-classes"), os.path.join(build_dir, "classes"),
                 spark_cp]), "perfbench.GenChecks"])
            sys.exit(r.returncode)
        return
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t_start)
    work, rc, lines = run_jvm(build_dir, jars, args, limit)
    try:
        if rc != 0 or not lines:
            fail(f"the benchmark JVM exited with code {rc}", 1)
        result = json.loads(lines[-1])
        for line in lines[:-1]:
            print(line)
        declared = declared_metrics(args.trace)
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != declared:
            fail(f"metrics {sorted(set(got) ^ set(declared))} disagree with BENCHMARK.json", 1)
        print(json.dumps(result))
        sys.stdout.flush()
        sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --record            # rewrite the expected_*.tsv
    python3 perfbench/run.py --oracle-dump DIR   # results + oracle SQL

--data DIR runs any mode on another corpus instead of the generated one,
e.g. the project's, to compare stage and task counts (--trace 1); the
output checks then fail, as the recorded values are the generated
corpus's.

Run from the repository root. The first call compiles the project's
sources together with the benchmark's (perfbench/src) with the Scala
compiler that ships in Spark's jars, generates the source corpus
(perfbench/gen_data.py), and records a class-data archive from one ingest
run; all land in .bench_build/ and are reused while their inputs are
unchanged. The benchmark JVM prints its metrics and,
last, one JSON object, which this script checks against BENCHMARK.json
before passing it on.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import zipfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen_data  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def check_checkout():
    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from a checkout of the project: {need} is missing")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home:
        d = os.path.join(home, "jars")
    else:
        sbt = open(os.path.join(ROOT, "build.sbt")).read()
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            fail("SPARK_HOME is unset and build.sbt names no unmanagedBase")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        fail(f"no jars under {d}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    files = []
    for base in (main, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


KEEP = 4  # builds and corpora kept per kind, most recently used first


def prune(prefix, keep):
    """Remove all but the KEEP most recently used `prefix` directories,
    never `keep`: builds are keyed by their inputs' digest, so switching
    between commits in one checkout reuses each commit's build."""
    olds = [d for d in glob.glob(os.path.join(BUILD, prefix + "*")) if d != keep]
    olds.sort(key=os.path.getmtime, reverse=True)
    for old in olds[KEEP - 1:]:
        shutil.rmtree(old, ignore_errors=True)


def run_child(cmd, capture, timeout):
    """Run `cmd` from the repository root; the child never outlives us."""
    proc = subprocess.Popen(cmd, cwd=ROOT, text=True,
                            stdout=subprocess.PIPE if capture else None)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        fail(f"{cmd[-1]} exceeded {timeout} s", 124)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def build(jars):
    """Compile into .bench_build/build-<hash>/graft.jar; returns that
    directory and whether it still needs its class-data archive."""
    srcs = sources()
    out = os.path.join(BUILD, "build-" + digest(srcs, ":".join(jars)))
    if os.path.isfile(os.path.join(out, ".complete")):
        os.utime(out)
        return out, False
    shutil.rmtree(out, ignore_errors=True)
    prune("build-", out)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", ":".join(jars)] + srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    rc, _ = run_child(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
         "scala.tools.nsc.Main", "@" + argfile], capture=False, timeout=None)
    if rc != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compilation failed", rc)
    # a jar, not a directory: the JVM's class-data archive covers jars only
    with zipfile.ZipFile(os.path.join(out, "graft.jar"), "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for name in sorted(files):
                z.write(os.path.join(d, name), os.path.relpath(os.path.join(d, name), classes))
    shutil.rmtree(classes)
    return out, True


def corpus():
    gen = os.path.join(HERE, "gen_data.py")
    out = os.path.join(BUILD, "data-" + digest([gen]))
    if not os.path.isfile(os.path.join(out, ".complete")):
        shutil.rmtree(out, ignore_errors=True)
        prune("data-", out)
        gen_data.generate(out)
        open(os.path.join(out, ".complete"), "w").close()
    os.utime(out)
    return out


def jvm(main, args, build_dir, jars, work, archive_at_exit=False):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jsa = os.path.join(build_dir, "graft.jsa")
    # JVM log lines go to stderr: standard output carries the result
    cmd = ["java", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Xmx3g", "-Xss8m"]
    if archive_at_exit:
        cmd += [f"-XX:ArchiveClassesAtExit={jsa}", "-Xlog:cds*=error:stderr"]
    else:
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        f"-Dperfbench.expected={os.path.join(HERE, 'expected_queries.tsv')}",
        f"-Dperfbench.expected.hashes={os.path.join(HERE, 'expected_row_hashes.tsv')}",
        "-cp", ":".join([os.path.join(build_dir, "graft.jar")] + jars), main] + args
    return run_child(cmd, capture=True, timeout=RUN_TIMEOUT_S)


def archive_classes(build_dir, jars, data, work):
    """Record the classes one ingest run loads into a class-data archive
    that later runs map instead of loading and verifying them again: it
    takes about 7 s off each run's JVM and session start on a 4-core
    host. The build is complete only with its archive, so every measured
    run maps one."""
    rc, _ = jvm("graft.perfbench.Main",
                ["--workload", "ingest", "--seed", "0", "--seconds", "0", "--trace", "0",
                 "--data", data, "--work", os.path.join(work, "archive")],
                build_dir, jars, work, archive_at_exit=True)
    if rc != 0 or not os.path.isfile(os.path.join(build_dir, "graft.jsa")):
        if os.path.exists(os.path.join(build_dir, "graft.jsa")):
            os.remove(os.path.join(build_dir, "graft.jsa"))
        fail(f"the class-data archive run failed (exit {rc})", rc or 1)
    open(os.path.join(build_dir, ".complete"), "w").close()


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--oracle-dump")
    ap.add_argument("--data", help="another corpus directory (<table>.parquet); "
                    "its outputs differ from the recorded ones, so the checks fail")
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    check_checkout()
    jars = spark_jars()
    build_dir, needs_archive = build(jars)
    data = os.path.abspath(a.data) if a.data else corpus()
    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if needs_archive:
            archive_classes(build_dir, jars, data, work)
        if a.selftest:
            rc, out = jvm("graft.perfbench.SelfTest",
                          ["--data", data, "--work", os.path.join(work, "t")],
                          build_dir, jars, work)
            sys.stdout.write(out)
            sys.exit(rc)
        if a.record:
            rc, out = jvm("graft.perfbench.RecordRowHashes",
                          ["--data", data, "--work", os.path.join(work, "h"),
                           "--out", os.path.join(HERE, "expected_row_hashes.tsv")],
                          build_dir, jars, work)
            sys.stdout.write(out)
            if rc != 0:
                sys.exit(rc)
        if a.record or a.oracle_dump:
            args = ["--data", data, "--work", os.path.join(work, "r")]
            if a.record:
                args += ["--out", os.path.join(HERE, "expected_queries.tsv")]
            if a.oracle_dump:
                args += ["--oracle-dump", os.path.abspath(a.oracle_dump)]
            rc, out = jvm("graft.perfbench.RecordQueries", args, build_dir, jars, work)
            sys.stdout.write(out)
            sys.exit(rc)
        if not a.workload:
            fail("--workload is required")
        rc, out = jvm("graft.perfbench.Main",
                      ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--data", data, "--work", os.path.join(work, "w")],
                      build_dir, jars, work)
        lines = out.rstrip("\n").split("\n")
        if rc != 0:
            sys.stderr.write(out)
            fail(f"benchmark JVM exited with {rc}", rc)
        result = json.loads(lines[-1])
        want = declared(a.trace == 1)
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != want:
            fail(f"metrics differ from BENCHMARK.json: reported {sorted(got.items())}, "
                 f"declared {sorted(want.items())}", 3)
        sys.stdout.write("\n".join(lines) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

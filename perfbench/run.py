#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one 4-core Spark context.

Usage (from the root of a graft checkout):

    python3 perfbench/run.py --workload course --seed 1 --seconds 16 --trace 0

Steps:
1. build the library and the benchmark from the checkout's sources with
   sbt (perfbench/build.sbt depends on the library's own build); the
   compiled classes are packed into jars in .bench_build/ and reused
   while no source changes, and the first run after a build writes a
   class-data-sharing archive there that later runs start from;
2. generate the workload's corpus from the seed (corpus.py);
3. run graft.perfbench.Main in a fresh JVM: three set-ups (a session
   start and one untimed warm-up pass each; the first also dumps every
   result for the check, the other two run on copies of the corpus),
   then timed passes for --seconds (see Main.scala for the protocol);
4. compare every query's result with its DuckDB oracle (oracle.py);
5. print the metrics, then, as the last line, one JSON object with
   `correct`, `attempted`, `failed` and `metrics` -- the end-to-end
   metrics with --trace 0, the per-layer metrics with --trace 1.

Each run works in .bench_work/<workload>-s<seed>-t<trace>/ and keeps only
its result.json (and, traced, spans.jsonl and layers.txt) there.
Exit status is 0 when a result was printed, and non-zero (with no
result line) when the checkout cannot be built or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("course", "curate")
# counters that must read the same on every traced pass of a run
EXACT = ["exec.jobs", "exec.tasks", "operators.eager_jobs",
         "shuffle.write_mb", "sources.output_mb", "artifacts.builds"]
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
MAIN_CLASS = "graft/perfbench/Main.class"
# class-data-sharing archive of the classes a run loads, in .bench_build/
CDS_ARCHIVE = "classes.jsa"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"),
            os.path.join(root, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    trees = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [f for f in tops if os.path.isfile(f)]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile the library and the benchmark; return the JVM classpath.

    sbt compiles into class directories; those are packed into jars in
    .bench_build/ because the JVM's class-data-sharing archive (see
    run_jvm) accepts only jars on the classpath."""
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        cp = open(cp_file).read().strip()
        if all(os.path.isfile(e) for e in cp.split(os.pathsep)):
            return cp
    for f in (stamp_file, cp_file, os.path.join(out, CDS_ARCHIVE)):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building library and benchmark with sbt")
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}")
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    entries = []
    for i, e in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(out, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, fs in sorted(os.walk(e)):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f),
                                os.path.relpath(os.path.join(d, f), e))
            e = jar
        entries.append(e)
    if not any(has_main(e) for e in entries if e.endswith(".jar")):
        fail("build produced no benchmark main class")
    cp = os.pathsep.join(entries)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def has_main(jar):
    with zipfile.ZipFile(jar) as z:
        return MAIN_CLASS in z.namelist()


def run_jvm(cp, archive, work, args):
    """Run graft.perfbench.Main in a fresh JVM.

    The first run after a build also writes a class-data-sharing archive
    of every class it loaded (JDK, Scala, Spark, graft); later runs map
    it instead of parsing and verifying those classes again, which takes
    about a quarter off the JVM's cold start. It affects only class
    loading: every figure the benchmark reports is taken after the first
    set-up has loaded the classes either way."""
    fresh = os.path.join(work, CDS_ARCHIVE)
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={fresh}")
    jvm = os.path.join(work, "jvm")
    tmp = os.path.join(work, "tmp")
    os.makedirs(jvm, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the heap starts at 1 GB: grown from the default quarter gigabyte,
    # G1 ran concurrent cycles in some runs and not in others, which moved
    # cpu_s by up to 2x between runs; the compiler threads stay alive, so
    # Main can subtract all of their CPU
    cmd += [cds, "-Xms1g", "-Xmx3g", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main"] + args
    # the JVM's working directory holds the library's persisted
    # artifacts (it writes them under ./target)
    p = subprocess.Popen(cmd, cwd=jvm, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    try:
        text, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("benchmark JVM timed out")
    if p.returncode != 0:
        sys.stderr.write(text[-6000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    if os.path.exists(fresh):
        os.replace(fresh, archive)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the root of a graft checkout (no build.sbt/src here)")
    cp = build(root)

    work = os.path.join(root, ".bench_work",
                        f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "corpus")
    out = os.path.join(work, "out")
    corpus.generate(data, a.seed)
    t0 = time.time()
    run_jvm(cp, os.path.join(root, ".bench_build", CDS_ARCHIVE), work, [
        "--workload", a.workload, "--corpus", data, "--out", out,
        "--seconds", str(a.seconds), "--trace", str(a.trace)])
    res = json.load(open(os.path.join(out, "result.json")))
    names = res["queries"]
    verdict = oracle.compare(data, os.path.join(out, "check"), names)
    log(f"JVM {time.time() - t0:.1f} s")

    # attempted = query executions: set-ups (the first one checked) and
    # timed passes; failed = executions that raised + results the oracle
    # rejects
    passes = int(res["passes"])
    attempted = int(res["executions"])
    problems = list(res["failed"]) + [
        f"{q}: {r}" for q, r in sorted(verdict.items())
        if r and r != oracle.NO_RESULT]
    failed = len(problems)
    for p in problems:
        print(f"FAIL {p}")

    e2e = res["end_to_end"]
    layer = res["per_layer"]
    # failed_frac is 0 on a healthy run, so it is reported with the
    # per-layer metrics (which carry no bound) and printed every run
    layer["failed_frac"] = {"value": failed / attempted, "unit": "fraction"}
    print(f"workload {a.workload}  seed {a.seed}  corpus sf=0.01, {corpus.DOCS} documents"
          f"  queries {len(names)}  timed passes {passes}"
          f"  latency samples {res['latency_samples']}")
    shown = {**e2e, **(layer if a.trace else
                        {"failed_frac": layer["failed_frac"]})}
    for k, v in shown.items():
        val = "n/a" if v["value"] is None else f"{v['value']:.6g}"
        print(f"  {k:<34} {val:>14} {v['unit']}")
    if a.trace:
        traced = [p["layers"] for p in res["per_pass"] if p["traced"] is True]
        for k in EXACT:
            vals = [p[k]["value"] for p in traced]
            same = "repeats" if len(set(vals)) <= 1 else "VARIES"
            print(f"  per-pass {k}: {vals} ({same})")
        print(open(os.path.join(out, "layers.txt")).read().rstrip())

    keep = ["result.json", "spans.jsonl", "layers.txt"]
    for f in os.listdir(work):
        if f != "out":
            shutil.rmtree(os.path.join(work, f), ignore_errors=True)
    for f in os.listdir(out):
        if f not in keep:
            p = os.path.join(out, f)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": layer if a.trace else e2e,
    }))


if __name__ == "__main__":
    main()

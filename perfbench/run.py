#!/usr/bin/env python3
"""The repository benchmark: builds the engine from source, generates the
workload's inputs from the seed, runs the workload in one Spark driver
process, checks every operation's output against the DuckDB oracle, and
prints the metrics.

    python3 perfbench/run.py --workload commissions --seed 1 --seconds 10 --trace 0

Run it from the repository root. Everything it writes goes under
$CARGO_TARGET_DIR (default `.bench_build`): compiled classes, generated
inputs, the oracle cache and one JSON artifact per run in `artifacts/`.
The last line of standard output is the result object; the lines before
it are a human-readable summary. See perfbench/METRICS.md for what each
metric means on each workload.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the source tree
import gen_data  # noqa: E402
import oracle  # noqa: E402
import metrics  # noqa: E402

# Input scale factor per workload (gen_data.py sizes: sf 0.01 = 60,000
# lineitem rows = 60,000 certificate rows into the flagship lineage).
WORKLOADS = {
    "commissions": {"sf": 0.01},
    "query_mix": {"sf": 0.001},
}
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory build.sbt
    declares as `unmanagedBase` (the jars the engine is built against)."""
    home = os.environ.get("SPARK_HOME")
    jar_dir = os.path.join(home, "jars") if home else None
    if not jar_dir and os.path.isfile("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        jar_dir = m and m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir or "", "*.jar")))
    if not jars:
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out_dir, files, log):
    """Compile with the Scala compiler that ships among the Spark jars, so
    the classes match the runtime's scala-library exactly."""
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        fail("no scala-compiler/library/reflect jars among the Spark jars")
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-classpath", os.pathsep.join(classpath)] + files
    with open(log, "w") as fh:
        r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"compilation failed (log: {log})")


def build(build_dir):
    """Compile the engine (src/main/scala) and the harness into build_dir,
    skipping either when its sources are unchanged."""
    prog_src = sources(os.path.join("src", "main", "scala"))
    if not prog_src:
        fail("no engine sources under src/main/scala: run from the repository root")
    jars = spark_jars()
    prog_dir = os.path.join(build_dir, "classes", "program")
    harness_dir = os.path.join(build_dir, "classes", "harness")
    harness_src = sources(os.path.join(HERE, "harness"))
    fp_prog = fingerprint(prog_src)
    fp_all = fingerprint(prog_src + harness_src)
    stamp = os.path.join(build_dir, "classes", "fingerprint.json")
    old = json.load(open(stamp)) if os.path.exists(stamp) else {}
    os.makedirs(os.path.join(build_dir, "classes"), exist_ok=True)
    if old.get("program") != fp_prog or not os.path.isdir(prog_dir):
        old = {}
        scalac(jars, jars, prog_dir, prog_src, os.path.join(build_dir, "build-program.log"))
    if old.get("all") != fp_all or not os.path.isdir(harness_dir):
        scalac(jars, jars + [prog_dir], harness_dir, harness_src,
               os.path.join(build_dir, "build-harness.log"))
    with open(stamp, "w") as fh:
        json.dump({"program": fp_prog, "all": fp_all}, fh)
    return jars, [harness_dir, prog_dir]


def driver_mem():
    """Half the host's memory, clamped to [2, 8] GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(jars, classes, args, run_dir):
    """Run the harness JVM in a private working directory; its scratch
    (Spark local dirs, warehouse, temp files) stays inside run_dir."""
    for sub in ("work", "local", "warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    out = os.path.join(run_dir, "harness.json")
    cores = str(os.cpu_count() or 1)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    env.pop("SPARK_GRAFT_MAT", None)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] +
           # a small fixed young generation: with a 1 GiB one the peak RSS
           # of query_mix swung by 40% between runs, at 256 MiB by ~12%
           [f"-Xmx{driver_mem()}", "-Xmn256m", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dderby.system.home={os.path.join(run_dir, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(classes + jars), "perfbench.Harness"] +
           args + ["--out", out])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=os.path.join(run_dir, "work"), env=env,
                             stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        except BaseException:  # interrupted or terminated: take the JVM down too
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"harness JVM failed ({rc}); log: {log}", 1)
    return json.load(open(out))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", action="append", default=[],
                    help="KIND:OP with KIND throw|mismatch|timeout (self-test hook)")
    a = ap.parse_args()
    t_start = time.time()
    # a SIGTERM unwinds like an exception, so child processes are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile("BENCHMARK.json"):
        fail("run from the repository root (no BENCHMARK.json here)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars, classes = build(build_dir)

    sf = WORKLOADS[a.workload]["sf"]
    gen_tag = fingerprint([os.path.join(HERE, "gen_data.py")])[:10]
    data = os.path.join(build_dir, "data", f"sf{sf}-seed{a.seed}-{gen_tag}")
    gen_data.generate(data, a.seed, sf)

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data]
    args += [x for i in a.inject for x in ("--inject", i)]
    try:
        h = run_jvm(jars, classes, args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    expected = oracle.expected_digests(h["oracle_sql"], data,
                                       os.path.join(build_dir, "oracle-cache"))
    checked = oracle.check_ops(h["ops"], expected)
    result = metrics.summarize(h, checked, a.trace == 1)
    result["wall_s"] = time.time() - t_start

    art_dir = os.path.join(build_dir, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, h["run_id"] + ".json")
    with open(art, "w") as fh:
        json.dump({"harness": h, "checked_ops": checked, "result": result}, fh)

    for line in metrics.report_lines(result):
        print(line)
    print(f"# artifact: {os.path.relpath(art)}")
    print(json.dumps(result["contract"]))


if __name__ == "__main__":
    main()

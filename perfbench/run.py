#!/usr/bin/env python3
"""Benchmark of the graft engine: build it from source, run one workload
in its own Spark session, and print one JSON result line.

    python3 perfbench/run.py --workload board_rows --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The program and the benchmark's client
(perfbench/scala) are compiled together with scalac into a jar in
.bench_build/, next to the JVM's class-data archive of the first run;
each run gets its own directory under .bench_runs/ (warehouse, temp,
Spark local and checkpoint dirs), deleted when the run ends. With
--trace 1 the per-layer metrics are printed instead of the end-to-end
ones, and the span file goes to .bench_out/ (or --spans).

Workloads: board_rows and stream_rows (timed in BENCHMARK.json), and
dbscan_skewed and dbscan_ladder (the base rung plus the 1M-point rung),
which run on demand as reproducers of the space planner's hang.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
WORKLOADS = ["dbscan_skewed", "board_rows", "stream_rows", "dbscan_ladder"]
# Whole-run limits: operations stop being started after OP_DEADLINE_S,
# the JVM is killed after KILL_S (both from JVM launch).
OP_DEADLINE_S = 150
KILL_S = 176

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala; "
                         "run from the root of a full checkout")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"perfbench: Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    return prog + bench


def build():
    """Compile program + client once per source tree into a jar; returns its path."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    jar = os.path.join(base, f"classes-{stamp}.jar")
    if os.path.isfile(jar):
        return jar
    shutil.rmtree(base, ignore_errors=True)
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    t0 = time.time()
    log(f"compiling {len(srcs)} sources")
    cp = os.path.join(SPARK_JARS, "*")
    partial = os.path.join(base, "partial.jar")  # scalac writes a jar for a .jar path
    rc = subprocess.call(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-d", partial, "-classpath", cp, f"@{argfile}"],
        stdout=sys.stderr)
    if rc != 0:
        raise SystemExit(f"perfbench: compilation failed ({rc})")
    os.replace(partial, jar)
    log(f"compiled in {time.time() - t0:.1f} s")
    return jar


def class_data_sharing(jar):
    """JVM flags for an application class-data archive next to the jar.
    The first run of a build writes it when the JVM exits; later runs map
    the classes they load from it instead of parsing them again, which
    takes several seconds off session start and the first operation.
    Returns (flags, path the JVM writes, archive path)."""
    jsa = os.path.splitext(jar)[0] + ".jsa"
    quiet = "-Xlog:cds=error,cds+dynamic=error"  # skipped-class notes
    if os.path.isfile(jsa):
        return [f"-XX:SharedArchiveFile={jsa}", quiet], None, jsa
    partial = f"{jsa}.{os.getpid()}"
    return [f"-XX:ArchiveClassesAtExit={partial}", quiet], partial, jsa


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, no warm-up, shortest loop (the benchmark's own test)")
    ap.add_argument("--spans", help="span file of a traced run")
    a = ap.parse_args()

    jar = build()
    cds, cds_partial, cds_archive = class_data_sharing(jar)
    run_dir = os.path.join(ROOT, ".bench_runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    out = os.path.join(run_dir, "result.json")
    spans = a.spans or (os.path.join(ROOT, ".bench_out", f"spans-{a.workload}-{a.seed}.jsonl")
                        if a.trace else None)
    heap = "6g" if a.workload == "dbscan_ladder" else "4g"
    launch_ms = int(time.time() * 1000)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           cds + [f"-Xmx{heap}", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", f"{jar}:{os.path.join(SPARK_JARS, '*')}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--smoke", "1" if a.smoke else "0",
            "--launch-ms", str(launch_ms), "--deadline-s", str(OP_DEADLINE_S),
            "--run-dir", run_dir, "--cores", str(cores()), "--out", out,
            "--data", os.path.join(HERE, "data"),
            "--expected", os.path.join(HERE, "expected")] +
           (["--spans", spans] if spans else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env, start_new_session=True)
    try:
        proc.wait(timeout=KILL_S - (time.time() * 1000 - launch_ms) / 1000)
    except subprocess.TimeoutExpired:
        log(f"the JVM outlived its {KILL_S} s limit; killing it")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if cds_partial and os.path.isfile(cds_partial):
            if proc.returncode == 0:
                os.replace(cds_partial, cds_archive)
            else:
                os.remove(cds_partial)
    try:
        with open(out) as fh:
            result = json.loads(fh.read())
    except (OSError, ValueError):
        result = None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    if result is None:
        raise SystemExit(f"perfbench: the run produced no result (JVM exit {proc.returncode})")
    for k, m in result["metrics"].items():
        log(f"{k:40s} {m['value']!s:>20} {m['unit']}")
    print(json.dumps(result, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <int> --seconds <int> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source (sbt, offline) and generates the input tables; both are
kept under `.bench_build/` and rebuilt only when a source file changes. Each
run then starts one JVM that sets up the workload, drives its closed loop for
`--seconds` seconds, checks its outputs, and prints one JSON result line last.
See perfbench/README.md for the workloads and metrics.
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
from pathlib import Path

WORKLOADS = ("trend_batch", "view_maintain")
SCALE = "0.1"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
PROGRAM_SOURCES = ROOT / "src" / "main"

# JDK module opens Spark needs outside spark-submit; build.sbt reads the
# same file for the test JVM
ADD_OPENS = (BENCH / "add-opens.txt").read_text().split()


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args(argv)
    if not 1 <= a.seconds <= 600:
        p.error("--seconds must be in 1..600")
    return a


def cpu_count(raw, nproc):
    """SPARK_GRAFT_CPUS as an integer in 1..nproc; default min(4, nproc - 1),
    leaving one core to the driver thread, the JIT and the collector."""
    if raw is None:
        return max(1, min(4, nproc - 1))
    try:
        cpus = int(raw.strip())
    except ValueError:
        die(f"SPARK_GRAFT_CPUS must be an integer, got {raw!r}")
    if not 1 <= cpus <= nproc:
        die(f"SPARK_GRAFT_CPUS must be in 1..{nproc}, got {cpus}")
    return cpus


def source_stamp():
    """Hash of every file the build depends on."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties",
             BENCH / "gen_data.py"]
    for base in (PROGRAM_SOURCES, BENCH / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark, and generate the tables,
    unless the build under .bench_build matches the current sources."""
    stamp = source_stamp()
    stamp_file = BUILD / "build.stamp"
    cp_file = BUILD / "classpath.txt"
    data = BUILD / "data" / f"sf{SCALE}"
    if stamp_file.exists() and stamp_file.read_text() == stamp and cp_file.exists() \
            and (data / "events.parquet").exists():
        return cp_file.read_text().strip(), data
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    (BUILD / "build.log").write_text(out.stdout)
    cps = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not cps:
        die(f"build failed (see {BUILD / 'build.log'})", 3)
    shutil.rmtree(data, ignore_errors=True)
    subprocess.run([sys.executable, str(BENCH / "gen_data.py"), str(data), SCALE], check=True)
    cp_file.write_text(cps[-1].strip())
    stamp_file.write_text(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1].strip(), data


def run_jvm(args, cpus, classpath, data, deadline):
    work = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "spark-local").mkdir()
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
        "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.warehouse.dir=" + str(work / "warehouse"),
        "-cp", classpath, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cpus", str(cpus), "--data", str(data), "--work", str(work),
        "--golden", str(BENCH / "golden" / "trend_batch.tsv")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("run timed out", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    spans = work / f"spans-{args.workload}-{args.seed}.jsonl"
    if spans.exists():
        (BUILD / "results").mkdir(exist_ok=True)
        shutil.move(str(spans), BUILD / "results" / spans.name)
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def main(argv):
    args = parse_args(argv)
    cpus = cpu_count(os.environ.get("SPARK_GRAFT_CPUS"), os.cpu_count() or 1)
    if not (PROGRAM_SOURCES / "scala" / "graft").is_dir():
        die(f"program sources not found under {PROGRAM_SOURCES}", 3)
    classpath, data = build()
    code, out = run_jvm(args, cpus, classpath, data, time.time() + RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        die(f"run produced no result (exit {code})", code or 5)
    result = json.loads(lines[-1])
    print(lines[-2])
    print(json.dumps(result, separators=(",", ":")))
    sys.exit(code)


if __name__ == "__main__":
    main(sys.argv[1:])

#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload nightly|curation \
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine (``sbt package``) and the
benchmark's JVM driver (``perfbench/driver``) when their sources changed,
generates the workload's inputs from the seed, runs the driver in one JVM,
checks the outputs, and prints one JSON object as its last line of standard
output: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``. Everything it writes goes under ``.bench_build/``.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("nightly", "curation")
HEAP = "4g"
SETUP_REPS = 3
# a run must end within 180 s: the driver and the oracle check share it
DRIVER_TIMEOUT_S = 150
ADD_OPENS = [f"java.base/{p}" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sources(root, patterns):
    out = []
    for pat in patterns:
        out += [p for p in glob.glob(os.path.join(root, pat), recursive=True) if os.path.isfile(p)]
    return out


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BenchError("no Spark distribution found (SPARK_HOME or spark-submit on PATH)")
    return jars


def sbt_package(cwd, env, logfile):
    with open(logfile, "ab") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                            cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        raise BenchError(f"sbt package failed in {cwd} (see {logfile})")


def build(root, cache):
    """Engine jar and driver jar, rebuilt only when their sources change."""
    engine_src = sources(root, ["build.sbt", "project/*.sbt", "project/build.properties",
                                "src/main/**/*.scala", "src/main/**/*.java"])
    if not engine_src or not os.path.exists(os.path.join(root, "build.sbt")):
        raise BenchError("no engine sources (build.sbt, src/main) in the current directory")
    driver_root = os.path.join(HERE, "driver")
    driver_src = sources(driver_root, ["build.sbt", "project/build.properties",
                                       "src/main/**/*.scala"])
    eh = tree_hash(engine_src)
    dh = tree_hash(driver_src + [p for p in engine_src])
    jars = os.path.join(cache, "jars")
    os.makedirs(jars, exist_ok=True)
    engine_jar = os.path.join(jars, f"engine-{eh}.jar")
    driver_jar = os.path.join(jars, f"driver-{dh}.jar")
    logfile = os.path.join(cache, "build.log")
    env = dict(os.environ, SPARK_JARS_DIR=spark_jars())
    if not os.path.exists(engine_jar):
        log("building the engine (sbt package)")
        sbt_package(root, env, logfile)
        built = glob.glob(os.path.join(root, "target", "scala-2.13", "*.jar"))
        if len(built) != 1:
            raise BenchError(f"expected one engine jar, found {built}")
        shutil.copyfile(built[0], engine_jar + ".tmp")
        os.replace(engine_jar + ".tmp", engine_jar)
    if not os.path.exists(driver_jar):
        log("building the benchmark driver (sbt package)")
        sbt_package(driver_root, dict(env, GRAFT_JAR=engine_jar), logfile)
        built = glob.glob(os.path.join(driver_root, "target", "scala-2.13", "*.jar"))
        if len(built) != 1:
            raise BenchError(f"expected one driver jar, found {built}")
        shutil.copyfile(built[0], driver_jar + ".tmp")
        os.replace(driver_jar + ".tmp", driver_jar)
    return engine_jar, driver_jar


def run_driver(args, engine_jar, driver_jar, inputs, work):
    out = os.path.join(work, "driver_out.json")
    cp = os.pathsep.join([driver_jar, engine_jar, os.path.join(spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + opens
           + ["-cp", cp, "perfbench.Driver",
              "--workload", args.workload, "--inputs", inputs, "--work", work,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--setup-reps", str(SETUP_REPS), "--out", out])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    logfile = os.path.join(work, "driver.log")
    with open(logfile, "wb") as lf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=DRIVER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError("driver exceeded its time budget")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(logfile, errors="replace") as f:
            tail = f.read()[-4000:]
        raise BenchError(f"driver exited with {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def host_tag(data):
    """What a result is only valid on: cores, heap, JDK and Spark version."""
    mem = 0
    if os.path.exists("/proc/meminfo"):
        with open("/proc/meminfo") as f:
            mem = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    h = data["host"]
    return {"cpus": os.cpu_count(), "spark_cores": int(h["cores"]),
            "heap_gb": round(int(h["heap_max_bytes"]) / 2**30, 1),
            "mem_gb": round(mem / 2**20), "jdk": h["jdk"], "spark": h["spark"]}


def main(argv=None):
    # a terminated run unwinds, so the subprocesses it started are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--save", metavar="FILE",
                    help="also write the result with its host tag (for compare.py)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    cache = os.path.join(root, ".bench_build")
    try:
        engine_jar, driver_jar = build(root, cache)
        inputs, described = gen.ensure(args.workload, args.seed, os.path.join(cache, "inputs"))
        work = os.path.join(cache, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            t0 = time.time()
            data = run_driver(args, engine_jar, driver_jar, inputs, work)
            t1 = time.time()
            verdict = checks.verify(args.workload, data, described, inputs, root, work)
            log(f"driver {t1 - t0:.1f} s (warm-up {data['warmup_s']:.1f} s, timed "
                f"{data['window_s']:.1f} s), checks {time.time() - t1:.1f} s")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except BenchError as e:
        log(f"error: {e}")
        return 2

    for name, value in sorted(verdict["details"].items()):
        log(f"check {name}: {value}")
    result = metrics.report(data, trace=bool(args.trace))
    for name, m in result.items():
        log(f"{name} = {m['value']} {m['unit']}")
    line = {"correct": verdict["correct"] and int(data["failed"]) == 0,
            "attempted": int(data["attempted"]),
            "failed": int(data["failed"]),
            "metrics": result}
    tag = host_tag(data)
    log(f"host {json.dumps(tag, sort_keys=True)}")
    if args.save:
        with open(args.save, "w") as f:
            json.dump({"host": tag, "workload": args.workload, "seed": args.seed,
                       "trace": args.trace, "result": line}, f, indent=1, sort_keys=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

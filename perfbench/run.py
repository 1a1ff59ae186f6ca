#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 10 --trace 0

Builds the program (src/main/scala) and the benchmark's JVM side
(perfbench/src) with the Scala compiler that ships in Spark's jars, generates
the workload's inputs from the seed, runs one JVM, and prints one JSON line
last: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run. The
lines before it name every metric with its unit.

Everything is written inside the checkout: classes under $CARGO_TARGET_DIR
(default .bench_build), inputs and temporary files under .bench_work/<run>
(deleted at exit), span logs under .bench_out.
"""

import argparse
import fcntl
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("corpus_dedup", "migrate_ticks")
# the traced run of this workload also probes the catalog layers
CATALOG_PROBE = "migrate_ticks"
JVM_TIMEOUT_S = 170
# Spark's local[k]: one task thread, see README "Loop and isolation"
CORES = 1
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("build.sbt sets no unmanagedBase")
    return m.group(1)


def compile_scala(name, src_dir, out, classpath):
    """Compiles every .scala file under src_dir into out, unless the stamp
    of a previous build of the same sources is there."""
    files = sorted(glob.glob(os.path.join(src_dir, "**", "*.scala"), recursive=True))
    if not files:
        raise RuntimeError(f"no Scala sources under {src_dir}")
    h = hashlib.sha256(classpath.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = os.path.join(out, ".files")
    with open(args, "w") as fh:
        fh.write("\n".join(files))
    log(f"compiling {name} ({len(files)} files)")
    t = time.time()
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
         "@" + args],
        check=True, stdout=sys.stderr, timeout=600)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    log(f"compiled {name} in {time.time() - t:.1f} s")


def build():
    target = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jars = os.path.join(spark_jars(), "*")
    program = os.path.join(target, "program")
    bench = os.path.join(target, "perfbench")
    os.makedirs(target, exist_ok=True)
    # runs started side by side in one checkout build one at a time
    with open(os.path.join(target, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        compile_scala("program", os.path.join(ROOT, "src", "main", "scala"), program, jars)
        compile_scala("perfbench", os.path.join(HERE, "src"), bench,
                      os.pathsep.join([jars, program]))
    return os.pathsep.join([bench, program, jars])


def cpu_times():
    """Aggregate CPU jiffies of the machine: (steal, total)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def run_jvm(classpath, args, work):
    # a fixed heap; the serial collector and the C1 compiler only, so that
    # one thread does nearly all the work (see README "Loop and isolation")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseSerialGC", "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.PerfBench"] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work, start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {JVM_TIMEOUT_S} s, killing it")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="rewrite perfbench/catalog_digests.txt from this run")
    a = ap.parse_args()
    catalog = a.trace == 1 and a.workload == CATALOG_PROBE
    if a.record_digests and not catalog:
        ap.error(f"--record-digests applies to {CATALOG_PROBE} with --trace 1 only")

    try:
        classpath = build()
    except (RuntimeError, subprocess.SubprocessError, OSError) as e:
        log(f"build failed: {e}")
        return 1

    t0_ms = int(time.time() * 1000)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    try:
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        os.makedirs(out_dir, exist_ok=True)
        data = os.path.join(work, "data")
        cpu0 = time.process_time()
        inputs = gen.generate(a.workload, data, a.seed)
        log(f"inputs for seed {a.seed}: {json.dumps(inputs)}")
        extra = []
        if catalog:
            gen.catalog(os.path.join(data, "catalog"))
            extra = ["--catalog", os.path.join(data, "catalog")]
        gen_cpu = time.process_time() - cpu0
        result = os.path.join(work, "result.json")
        spans = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-spans.json")
        steal0, total0 = cpu_times()
        rc = run_jvm(classpath, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--t0-ms", str(t0_ms),
            "--gen-cpu-s", str(gen_cpu),
            "--cores", str(min(CORES, len(os.sched_getaffinity(0)))),
            "--result", result, "--spans", spans,
            "--digests", os.path.join(HERE, "catalog_digests.txt"),
            "--record", "1" if a.record_digests else "0"] + extra, work)
        steal1, total1 = cpu_times()
        if rc != 0 or not os.path.exists(result):
            log(f"benchmark JVM failed (exit {rc})")
            return 1
        with open(result) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k, v in res["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    for k, v in res["detail"].items():
        print(f"{k} = {v}")
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # run-wide slowdown with a high share here is the host, not the program
    print(f"host_steal_share = {(steal1 - steal0) / max(total1 - total0, 1):.4f}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload suite --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the repository's main
sources and the benchmark harness (sbt, offline; the classpath is kept in
.bench_build/); later runs reuse that build while the sources are unchanged. Each run generates
its inputs from the seed, builds its fixtures with the code under test,
measures, checks every op's output against DuckDB, and prints one JSON
object as the last line of stdout. --trace 1 prints the per-layer metrics
instead of the end-to-end ones.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("suite", "point_scan", "dml_mixed")
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, HERE)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources under src/main/scala: run from the repository root")
    stamp = os.path.join(BUILD, f"classpath-{source_hash()}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT, timeout=600)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if r.returncode != 0 or not cp:
        die(f"build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def heap():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(4, kb // (1024 * 1024) // 4))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(classpath, args, work, timeout):
    cmd = (["java", f"-Xmx{heap()}", "-XX:+UseG1GC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
              f"-Dderby.system.home={work}", "-cp", classpath, "graftbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = -1
        finally:  # also on SIGTERM (raised as SystemExit) or Ctrl-C
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"JVM exited with {rc}")


def run(workload, seed, seconds, trace, sf=None):
    """One benchmark run; returns (result line dict, full JVM result)."""
    import check
    import gen
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    try:
        plan = gen.generate(workload, seed, input_dir, sf)
        out = os.path.join(work, "result.json")
        cpus = len(os.sched_getaffinity(0))
        run_jvm(classpath, ["--workload", workload, "--seconds", str(seconds), "--trace", str(trace),
                            "--input", input_dir, "--work", work, "--out", out, "--cpus", str(cpus)],
                work, JVM_TIMEOUT_S)
        with open(out) as f:
            result = json.load(f)
        ops = check.check(result, workload, plan, input_dir)
        timed = [o for o in ops if o["timed"]]
        failed = sum(1 for o in timed if not o["pass"])
        warm_failed = sum(1 for o in ops if not o["timed"] and not o["pass"])
        for o in ops:
            if not o["pass"]:
                print(f"perfbench: {o['name']} failed {o['err'] or 'wrong output'}", file=sys.stderr)
        group = spec["per_layer"] if trace else spec["end_to_end"]
        metrics = {m["name"]: {"value": float(result["metrics"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in group}
        if trace:
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(trace_dir, f"{workload}-{seed}.json"))
        line = {"correct": failed == 0 and warm_failed == 0, "attempted": len(timed),
                "failed": failed, "metrics": metrics}
        return line, result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="input scale (default: per workload)")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        die("BENCHMARK.json not found next to perfbench/")
    t0 = time.time()
    line, _ = run(a.workload, a.seed, a.seconds, a.trace, a.sf)
    print(f"perfbench: {a.workload} seed {a.seed} done in {time.time() - t0:.1f}s", file=sys.stderr)
    print(json.dumps(line))


if __name__ == "__main__":
    main()

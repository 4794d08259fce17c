#!/usr/bin/env python3
"""Benchmark entry: one command per (workload, seed) run.

    python3 benchmark/run.py --workload warm_search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source into .bench_build/ (sbt, offline); later runs reuse the
build while the sources are unchanged. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics. The full report of a run (every named metric, checks,
host facts, spans) is written to .bench_build/reports/.

    python3 benchmark/run.py --test    # the harness's own unit tests
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
ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
WORKLOADS = ("bulk_build", "warm_search")
RUN_BUDGET_S = 170.0
BUILD_BUDGET_S = 840.0

ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """sha256 over the engine and harness sources and the build file."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_sbt(tasks, log):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, BENCH_BUILD_DIR=BUILD, TMPDIR=tmp)
    with open(log, "w") as out:
        # no boot lock file in the home directory: a run writes only here
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
                              f"-Djava.io.tmpdir={tmp}"] + tasks,
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        return wait(p, BUILD_BUDGET_S)


def ensure_built():
    """Compile engine + harness once per source state; returns the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    if run_sbt(["compile", "writeClasspath"], log) != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("build failed (log: .bench_build/build.log)", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip(), stamp


def wait(p, budget):
    """Wait for a child started in its own session; kill its group on
    timeout. Returns the exit code (negative when killed)."""
    try:
        return p.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def host_facts(cp, stamp):
    cpus = sorted(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        commit = r.stdout.strip() or None
    # STREAM triad at every CPU, measured once per build directory (3 s)
    triad_file = os.path.join(BUILD, "triad.json")
    if not os.path.exists(triad_file):
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graft.BuildBench",
                            "calibrate-bw", str(len(cpus))],
                           capture_output=True, text=True, timeout=60)
        gbps = float(r.stdout.strip().split("=")[1])
        with open(triad_file, "w") as f:
            json.dump({"triad_gbps": gbps, "measured_unix": time.time()}, f)
    with open(triad_file) as f:
        triad = json.load(f)
    return {"nproc": len(cpus), "cpus": cpus, "mem_total_kb": mem_kb,
            "triad_gbps": triad["triad_gbps"], "java": java.splitlines()[0] if java else None,
            "git_commit": commit, "source_sha256": stamp}


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def heap_mb(mem_kb):
    """Child JVM heap from MemTotal: a fifth of RAM, within 1-4 GiB."""
    return max(1024, min(4096, mem_kb // 1024 // 5))


def java(cp, host, mode, flags, work, cpus=None, budget=RUN_BUDGET_S):
    """Run one harness JVM (pinned to `cpus` when given); returns its report."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    report = os.path.join(work, f"{mode}-report.json")
    # temporary files stay in the work directory; no perf-data file in /tmp
    # JIT: the C1 compiler only. A run lasts about a minute, and with C2
    # the compiler threads still spent ~5 CPU seconds per build at the
    # seventh build, so the figures followed how far compilation had got.
    # A fixed set of compiler threads: the harness subtracts their CPU
    # time, which it can only read while they live. A fixed heap and the
    # parallel collector: no heap resizing and no concurrent marking whose
    # timing differs from run to run.
    heap = heap_mb(host['mem_total_kb'])
    cmd = ["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-XX:TieredStopAtLevel=1", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + ADD_OPENS + [
        "-cp", cp, "graftbench.Main", mode, "--work", work, "--report", report]
    for k, v in flags.items():
        cmd += [f"--{k}", str(v)]
    if cpus is not None:
        cmd = ["taskset", "-c", ",".join(map(str, cpus))] + cmd
    log = os.path.join(work, f"{mode}.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait(p, budget)
    if rc != 0 or not os.path.exists(report):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"{mode} JVM exited with {rc}", 1)
    with open(report) as f:
        return json.load(f)


def value(rep, name):
    """A measured metric's value; None when the run has no finite number."""
    m = rep["metrics"].get(name)
    v = None if m is None else m["value"]
    ok = isinstance(v, (int, float)) and v == v and abs(v) != float("inf")
    return v if ok else None


def search_cache(cp, host, work):
    """warm_search's index of a fixed table, built once per engine build
    (part of the first run's build). Traced bulk_build runs search it too."""
    cache = os.path.join(BUILD, "cache", f"search-{host['source_sha256'][:16]}")
    if not os.path.isdir(cache):
        os.makedirs(os.path.dirname(cache), exist_ok=True)
        java(cp, host, "prepare", {"cache": cache, "wide-cpus": ",".join(map(str, host["cpus"]))},
             os.path.join(work, "prepare"), budget=BUILD_BUDGET_S)
    return cache


def run_workload(cp, host, args, work, cache, deadline):
    cpus = host["cpus"]
    # legs: narrow = max(1, nproc/4) cores, wide = nproc cores
    narrow, wide = cpus[:max(1, len(cpus) // 4)], cpus
    if len(wide) > os.cpu_count():
        fail(f"leg of {len(wide)} cores is wider than this host")
    flags = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "cache": cache,
             "wide-cpus": ",".join(map(str, wide)), "narrow-cpus": ",".join(map(str, narrow))}
    return java(cp, host, "run", flags, work, cpus=wide, budget=deadline - time.time())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--test", action="store_true", help="run the harness's unit tests")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("run from the root of a checkout: no engine sources under src/main/scala/graft")
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found in the working directory")
    if args.test:
        os.makedirs(BUILD, exist_ok=True)
        rc = run_sbt(["test"], os.path.join(BUILD, "test.log"))
        with open(os.path.join(BUILD, "test.log")) as f:
            sys.stdout.write("".join(l for l in f if "Tests:" in l or "*** FAIL" in l))
        sys.exit(0 if rc == 0 else 1)
    if args.workload is None:
        fail("--workload is required")
    deadline = time.time() + RUN_BUDGET_S
    cp, stamp = ensure_built()
    host = host_facts(cp, stamp)
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        cache = search_cache(cp, host, work)
        # building and preparing belong to the first run's build time
        deadline = max(deadline, time.time() + RUN_BUDGET_S)
        steal0, total0 = cpu_ticks()
        rep = run_workload(cp, host, args, work, cache, deadline)
        steal1, total1 = cpu_ticks()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # CPU time the hypervisor gave to other guests during the run
    host["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)

    with open(bench_json) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        v = value(rep, m["name"])
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted, failed = max(1, rep["attempted"]), rep["failed"]
    rep["host"] = host
    rep["args"] = vars(args)
    rep["failed_frac"] = failed / attempted
    os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
    with open(os.path.join(BUILD, "reports",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(rep, f, indent=1)

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"nproc={host['nproc']} mem_total_kb={host['mem_total_kb']} "
          f"triad_gbps={host['triad_gbps']:.2f} steal_share={host['steal_share']:.3f} "
          f"java={host['java']!r} "
          f"git_commit={host['git_commit']} source_sha256={host['source_sha256'][:16]}")
    print(f"# input: {json.dumps(rep['info'].get('input'))}")
    for k, m in rep["metrics"].items():
        print(f"# {k} = {m['value']} {m['unit']}")
    print(f"# failed_frac = {failed / attempted:.6g} ({failed} of {attempted})")
    for x in rep["failures"][:20]:
        print(f"# FAILED: {x}")
    correct = failed == 0 and not missing
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if missing:
        print(f"benchmark: metrics not measured: {missing}", file=sys.stderr)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

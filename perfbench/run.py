#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <report_jobs|registry_mix|lake_rw>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (into
.bench_build/), writes the seeded inputs, runs one JVM for the workload,
and prints one JSON result object as the last line of standard output.
Everything it reads or writes stays inside the checkout.
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
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import inputs  # noqa: E402

WORKLOADS = ("report_jobs", "registry_mix", "lake_rw")
CORES = 4
# A fixed heap ceiling, no heap floor, and the JVM's defaults (G1, tiered
# JIT with C2) but one: GCTimeRatio=1. G1 grows the heap after a pause when
# recent GC time exceeds a share of wall time (1/(1+ratio), scaled down
# while the heap is far below -Xmx); with the default ratio, pause times
# on a loaded host decided how big the heap got. With ratio 1 the heap
# grows mostly because the data the run keeps needs it, so peak RSS
# follows what the run holds and a leak shows in it (see README.md for
# the measurements).
HEAP_MAX = "3g"
GC_TIME_RATIO = 1
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def tree_digest(root, rels):
    """Hash of every file under the given paths (names and bytes)."""
    h = hashlib.sha256()
    for rel in rels:
        base = os.path.join(root, rel)
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                           for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile program + harness with sbt (cached by source digest);
    returns the runtime classpath."""
    stamp = tree_digest(root, ["build.sbt", "project/build.properties",
                               "src/main", "perfbench/build.sbt",
                               "perfbench/project/build.properties",
                               "perfbench/src"])
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=lf, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "perfbench-target" not in lines[-1]:
        with open(log, "a") as lf:
            lf.write(p.stdout)
        fail(f"build failed (rc={p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def prepare_inputs(workload, seed, out):
    """Seeded inputs for one run; their generation is not part of setup_s."""
    if workload == "registry_mix":
        d = os.path.join(out, "registry-data")
        stamp = tree_digest(HERE, ["inputs.py"])
        sf = os.path.join(d, "stamp")
        if not (os.path.exists(sf) and open(sf).read() == stamp):
            shutil.rmtree(d, ignore_errors=True)
            inputs.write_registry_tables(d)
            with open(sf, "w") as f:
                f.write(stamp)
        return d
    d = os.path.join(out, "inputs", f"{workload}-{seed}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if workload == "report_jobs":
        for shape in inputs.SHAPES:
            inputs.write_market_csv(os.path.join(d, f"market_{shape}.csv"),
                                    shape, seed)
    return d


def run_jvm(cmd, env, log, deadline):
    """Run the JVM, wait for it, return (rc, stdout, peak RSS in KiB)."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, env=env,
                             text=True, start_new_session=True)
        out = []
        import threading
        t = threading.Thread(target=lambda: out.extend(p.stdout))
        t.start()
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                pid, status, ru = os.wait4(p.pid, 0)
                t.join()
                fail(f"run exceeded its deadline; see {log}")
            time.sleep(0.05)
        t.join()
        p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, "".join(out), ru.ru_maxrss


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    bench_json = os.path.join(root, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) and
            os.path.isfile(bench_json)):
        fail("run from the root of a checkout: build.sbt, src/main/scala/graft "
             "and BENCHMARK.json are required")
    with open(bench_json) as f:
        spec = json.load(f)
    kind = "per_layer" if a.trace == "1" else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}

    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp_was_built = not os.path.exists(os.path.join(out, "classpath.txt"))
    cp = build(root, out)
    in_dir = prepare_inputs(a.workload, a.seed, out)

    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    log = os.path.join(out, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    spans = os.path.join(out, "traces", f"{a.workload}-{a.seed}.jsonl")
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = (["java", f"-Xmx{HEAP_MAX}", f"-XX:GCTimeRatio={GC_TIME_RATIO}",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--inputs", in_dir, "--work", work, "--src", root,
            "--cores", str(CORES), "--spans", spans])
    budget = (900 if cp_was_built else RUN_TIMEOUT_S) - (time.time() - started)
    rc, stdout, maxrss_kib = run_jvm(cmd, env, log, time.time() + budget)
    with open(log) as lf:
        for line in lf:
            if line.startswith("perfbench:"):
                sys.stderr.write(line)
    res = [ln for ln in stdout.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if rc != 0 or not res:
        fail(f"run failed (rc={rc}); see {log}")
    r = json.loads(res[-1][len("PERFBENCH_RESULT "):])
    metrics = {k: v for k, v in r["metrics"].items() if k in units}
    if a.trace == "0":
        metrics["peak_rss_mb"] = maxrss_kib / 1024.0
    else:
        metrics["io.tmp_dirs_left"] = sum(
            1 for n in os.listdir(tmp) if n.startswith("graft"))
    shutil.rmtree(work, ignore_errors=True)
    if a.workload != "registry_mix":
        shutil.rmtree(in_dir, ignore_errors=True)

    missing = set(units) - set(metrics)
    extra = set(metrics) - set(units)
    if missing or extra:
        fail(f"metric names differ from BENCHMARK.json: missing {sorted(missing)}, "
             f"extra {sorted(extra)}")
    attempted, failed = r["attempted"], r["failed"]
    print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} "
          f"attempted={attempted} failed={failed} "
          f"error_rate={failed / max(1, attempted):.4f} load_1m={r['load_1m']}")
    print(json.dumps({
        "correct": attempted > 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()

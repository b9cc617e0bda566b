#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_headline --seed 1 \
        --seconds 20 --trace 0

It builds the engine and the harness from source (sbt, first run only),
generates the corpus and the seed's Service keys, runs the workload in
one fresh JVM at local[nproc], checks the outputs, and prints one JSON
line last:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Everything it writes stays under .bench_build/ and the
per-run directory there is deleted afterwards. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = {"batch_headline": "batch", "service_mix": "service"}
LIMIT_S = 170  # every run ends well inside the 180 s a run may take
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def load_config():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the build."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "src", "main", "scala"),
              os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, out):
    classes = os.path.join(out, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(out, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.exists(os.path.join(classes, "perfbench", "Harness.class")):
        return classes
    if shutil.which("sbt") is None:
        die("sbt is needed to build the engine and the harness", 3)
    os.makedirs(out, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             "-J-XX:-UsePerfData", "compile"],
            cwd=HERE, stdout=f, stderr=subprocess.STDOUT,
            timeout=BUILD_LIMIT_S).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (log: {log})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, or None where
    /proc/stat is missing. Steal is time the hypervisor ran something
    else on this machine's CPUs: it slows every timing in a run."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def plan(cfg, workload, seed, seconds, trace, cpus):
    """Harness arguments: the fixed work a run does. Sizes follow
    --seconds at the nominal rates in workloads.json, so a faster engine
    does the same work in less time."""
    b, s = cfg["batch"], cfg["service"]
    phase = WORKLOADS[workload]
    # one query per run is checked against the oracle, rotating with the
    # seed (a check costs a second execution of the query)
    checks = []
    if phase == "batch" and not trace:
        checks = [b["queries"][seed % len(b["queries"])]]
    return {
        "workload": phase,
        "trace": int(trace),
        "cpus": cpus,
        "seed": seed,
        # a cold set-up from JVM start, then warm re-setups
        "setups": 1 if trace else 1 + cfg["warm_setups"],
        # the listed order for every seed: the order the JVM first meets
        # the operators in shapes its compiled code, and some orders run
        # every query ~25 % slower for the whole run
        "batch": ",".join(b["queries"]),
        "background": ",".join(cfg["mixed"]["background"]),
        # a cold pass and warm-up passes, then the timed passes
        "untimed_passes": b["untimed_passes"],
        "batch_passes": b["untimed_passes"] + max(2, round(seconds / b["pass_s"])),
        "requests": max(5 * cpus, round(seconds * s["qps"])),
        "warmup_requests": s["warmup_requests_per_client"] * cpus,
        "check": ",".join(checks),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw", help="also keep the harness's raw samples here")
    a = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        die("run from the root of a checkout of the engine "
            "(build.sbt and src/main/scala/graft not found)")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must point at a Spark install with a jars/ directory")
    cfg = load_config()

    out = os.path.join(root, ".bench_build")
    classes = build(root, out)
    started = time.time()  # the build is not part of the run

    cpus = nproc()
    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    try:
        datagen.write(data, a.seed, cfg["scale"])
        for d in ("tmp", "local"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        args = plan(cfg, a.workload, a.seed, a.seconds, a.trace, cpus)
        raw_file = os.path.join(run_dir, "raw.json")
        args.update({"data": data, "work": work, "out": raw_file})
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"),
                   TMPDIR=os.path.join(work, "tmp"))
        cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                "-Dspark.ui.enabled=false"] +
               [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", os.pathsep.join([classes, os.path.join(spark_home, "jars", "*")]),
                "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])
        log = os.path.join(run_dir, "harness.log")
        ticks0 = cpu_ticks()
        with open(log, "w") as f:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=f,
                                    stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        ticks1 = cpu_ticks()
        if rc != 0 or not os.path.exists(raw_file):
            sys.stderr.write(open(log, errors="replace").read()[-6000:])
            die(f"harness exited with {rc}", 4)
        with open(raw_file) as f:
            raw = json.load(f)
        if a.raw:
            shutil.copy(raw_file, a.raw)
        size = (f"batch_passes={args['batch_passes']}" if args["workload"] == "batch"
                else f"requests={args['requests']}")
        print(f"nproc={raw['nproc']} seed={a.seed} workload={a.workload} "
              f"scale={cfg['scale']} {size}")
        if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
            print(f"cpu steal during the run: "
                  f"{100 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.1f}%")

        timed = metrics.phase(raw, WORKLOADS[a.workload], "timed")
        attempted, failed = metrics.counts(timed)
        wrong = list(raw["failures"])
        if args["check"]:
            checked = args["check"].split(",")
            bad = oracle.compare(data, os.path.join(work, "check"), checked)
            wrong += [f"oracle {n}: {why}" for n, why in bad]
            attempted += len(checked)
            failed += len(bad)
            print(f"oracle check: {len(checked) - len(bad)}/{len(checked)} "
                  f"match ({', '.join(checked)})")
        for w in wrong[:10]:
            print(f"FAILURE {w}", file=sys.stderr)
        print(f"failed_share: {metrics.failed_share(attempted, failed):.4f} "
              f"({failed} of {attempted} attempted)")
        if a.trace:
            result = metrics.per_layer(raw, cfg["families"],
                                       cfg["mixed"]["background"])
        else:
            result, lines = metrics.end_to_end(raw)
            for line in lines:
                print(line)
        print(metrics.render(not wrong, attempted, failed, result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kg_lookup --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark driver from source (sbt, offline); later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed,
every answer is checked without the engine, and the last line of
standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. See README.md.
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

# set-up is timed from here, before the heavy imports below
T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("kg_lookup", "stream_ingest")
# the benchmark JVM is killed after this long (after any build), so a run
# ends within 180 s
DRIVER_DEADLINE_S = 160


def host_facts():
    """Cores used, driver heap and master width, from the host."""
    ncpu = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    cores = max(1, min(4, ncpu))
    # a quarter of host memory, between 1 and 4 GiB: the machine may be
    # shared, and the workloads stay well inside 4 GiB
    heap_mb = max(1024, min(4096, mem_kb // 4 // 1024))
    return {"host_cpus": ncpu, "host_mem_mb": mem_kb // 1024,
            "cores": cores, "master": f"local[{cores}]", "heap_mb": heap_mb}


def source_stamp(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, _, names in sorted(os.walk(base)):
            if "target" in os.path.relpath(d, base).split(os.sep):
                continue
            for n in sorted(names):
                if n.endswith((".scala", ".java", ".properties", ".sbt")):
                    p = os.path.join(d, n)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile the engine and the benchmark once per source state; return
    the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_driver(classpath, facts, args, in_dir, work, out, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed heap: no resizing inside the timed region
    cmd = [java, f"-Xms{facts['heap_mb']}m", f"-Xmx{facts['heap_mb']}m"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + work, "-cp", classpath, "graftbench.Main",
            args.workload, in_dir, work, out, str(args.seconds),
            str(args.trace), str(facts["cores"]), str(args.seed)]
    log_path = os.path.join(out, "driver.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"driver failed: {rc}")
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    answers = []
    with open(os.path.join(out, "answers.jsonl")) as f:
        for line in f:
            answers.append(json.loads(line))
    trace = None
    if args.trace:
        with open(os.path.join(out, "trace.jsonl")) as f:
            trace = [json.loads(line) for line in f]
    return result, answers, trace


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("run from the repository root: the engine sources "
                         "(src/main/scala/graft) are not here")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                             "perfbench")
    t_build = time.time()
    classpath = build(root, build_dir)
    build_s = time.time() - t_build
    deadline = time.time() + DRIVER_DEADLINE_S

    facts = host_facts()
    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, work, out = (os.path.join(run_dir, d) for d in ("in", "work", "out"))
    try:
        inputs = gen.generate(args.workload, args.seed, in_dir, args.seconds)
        print(f"host: cpus={facts['host_cpus']} mem={facts['host_mem_mb']}MB "
              f"cores_used={facts['cores']} master={facts['master']} "
              f"heap={facts['heap_mb']}MB")
        print(f"inputs: workload={args.workload} seed={args.seed} "
              f"bytes={inputs['bytes']} files={inputs['files']} sha256={inputs['sha256']}")
        for d in (work, out):
            os.makedirs(d)
        t_gen = time.time()
        result, answers, trace = run_driver(classpath, facts, args, in_dir,
                                            work, out, deadline)
        t_drv = time.time()
        attempted, failed, notes = oracle.check(args.workload, in_dir, result, answers)
        # set-up: from this process's start to the first timed op, less
        # the build of the engine (a once-per-checkout cost)
        setup_s = result["first_op_epoch_s"] - T_START - build_s
        print(f"phases: build {build_s:.1f}s set-up {setup_s:.1f}s "
              f"timed {result['timed_s']:.1f}s driver {t_drv - t_gen:.1f}s "
              f"check {time.time() - t_drv:.1f}s")
        for n in notes[:20]:
            print("check:", n)
        if args.trace:
            metrics, report = stats.layer_metrics(result, trace, attempted, failed)
            for line in report:
                print(line)
        else:
            metrics = stats.end_to_end(args.workload, result, setup_s)
            for line in stats.kind_report(result["ops"] + result.get("triggers", [])):
                print(line)
        for name, m in metrics.items():
            print(f"metric {name} = {m['value']:.6g} {m['unit']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one command, run from the root of a source checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source with sbt (once per source
tree; the build is cached under .bench_build/), then runs the harness in
fresh JVMs:

* the main arm at local[nproc]: set-up (corpus synthesis, index build and
  serving-session open, three rounds), then HTTP serving, repeated index
  builds, 40-query batches and index updates, each for its share of
  --seconds;
* with --trace 0, the one-core arm: the same pages rebuilt in a JVM pinned
  to one CPU with -XX:ActiveProcessorCount=1.

The last line of stdout is one JSON object with the keys correct, attempted,
failed and metrics: every end_to_end metric of BENCHMARK.json with --trace 0,
every per_layer metric with --trace 1. The line before it records the run's
nproc, heap, JDK, source commit and workload parameters. Temporary corpora
and indexes live under .bench_build/perfbench/ and are deleted on every exit
path; a traced run keeps its spans in .bench_build/perfbench/traces/.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "2g"
# per-JVM limits that keep a whole run inside the 180 s a run may take
MAIN_TIMEOUT_S = 110
ONE_CORE_TIMEOUT_S = 65

# what spark-submit passes a JDK 17 driver (as the program's build.sbt does)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

CHILD = None


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build():
    """Compile with sbt unless this source tree was already built; returns
    the runtime classpath and the source tree's hash."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft source tree at the checkout root (build.sbt, src/main/scala/graft)")
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("sources") == digest:
            return cached["classpath"], digest
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                        "export Runtime/fullClasspath"], cwd=HERE, stdout=out, timeout=850)[0]
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(stamp, "w") as fh:
        json.dump({"sources": digest, "classpath": cp[-1]}, fh)
    return cp[-1], digest


def run_child(cmd, cwd, stdout, timeout, stderr=subprocess.STDOUT):
    """Run one child process in its own process group; returns (exit code,
    peak RSS in MB). A child over its time limit is killed and fails."""
    global CHILD
    CHILD = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, start_new_session=True)
    deadline = time.monotonic() + timeout
    while True:
        pid, status, usage = os.wait4(CHILD.pid, os.WNOHANG)
        if pid:
            break
        if time.monotonic() > deadline:
            kill_child()
            return 124, 0.0
        time.sleep(0.05)
    CHILD = None
    return os.waitstatus_to_exitcode(status), usage.ru_maxrss / 1024.0


def kill_child():
    global CHILD
    if CHILD is not None:
        try:
            os.killpg(CHILD.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        CHILD.wait()
        CHILD = None


def jvm(classpath, arm, args, work, one_core):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if one_core:
        cpu = min(os.sched_getaffinity(0))
        cmd = ["taskset", "-c", str(cpu)] + cmd + ["-XX:ActiveProcessorCount=1"]
    out = os.path.join(work, f"{arm}.json")
    cmd += ["-cp", classpath, "perfbench.Bench", "--arm", arm, "--out", out] + args
    log = os.path.join(work, f"{arm}.log")
    with open(log, "w") as fh:
        rc, rss = run_child(cmd, cwd=ROOT, stdout=fh,
                            timeout=ONE_CORE_TIMEOUT_S if one_core else MAIN_TIMEOUT_S)
    shutil.copy(log, os.path.join(BUILD, f"last-{arm}.log"))
    if os.path.isfile(out):
        shutil.copy(out, os.path.join(BUILD, f"last-{arm}.json"))
    if rc != 0 or not os.path.isfile(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"{arm} arm failed (exit {rc})")
    with open(out) as fh:
        res = json.load(fh)
    res["rss_mb"] = rss
    return res


def cpu_times():
    """Cumulative CPU time of the machine, by kind (the first line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def commit():
    """The checkout's git commit, or None outside a git work tree."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(sorted(workloads))}")
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec) as fh:
        bench = json.load(fh)
    w = workloads[a.workload]
    # Spark would put its scratch space there instead of inside the checkout
    os.environ.pop("SPARK_LOCAL_DIRS", None)

    classpath, sources = build()
    cpu0 = cpu_times()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    for key, value in w["params"].items():
        args += [f"--{key}", str(value)]
    try:
        spans = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        main_arm = jvm(classpath, "main", args + ["--cores", str(nproc)] +
                       (["--spans", spans] if a.trace else []), work, one_core=False)
        arms = [main_arm]
        if a.trace and w["one_core_arm"]:
            arms.append(jvm(classpath, "build1c", args + ["--cores", "1"], work, one_core=True))
    finally:
        kill_child()
        shutil.rmtree(work, ignore_errors=True)

    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    found = {}
    for arm in arms:
        found.update(arm["metrics"])
    found["peak_rss_mb"] = max(arm["rss_mb"] for arm in arms)
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in found]
    if missing and not a.trace:
        fail(f"the run produced no value for {', '.join(missing)}")
    # a layer this workload does not exercise did no work in the run
    for name in missing:
        found[name] = 0.0
    attempted = sum(arm["attempted"] for arm in arms)
    failed = sum(arm["failed"] for arm in arms)
    for arm in arms:
        for note in arm["failures"]:
            print(f"perfbench: wrong answer: {note}", file=sys.stderr)
    info = {"nproc": nproc, "heap": HEAP, "jdk": main_arm["info"].get("jdk"),
            "commit": commit(), "sources_sha1": sources,
            # CPU time the hypervisor gave to other guests: noise no run controls
            "cpu_steal_frac": round(cpu[7] / max(1, sum(cpu)), 4),
            "workload": a.workload, "params": w["params"], "not_exercised": missing,
            "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "arms": {name: arm["info"] for name, arm in zip(("main", "build1c"), arms)}}
    print(json.dumps({"run_info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": found[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


def on_signal(signum, _frame):
    kill_child()
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    main()

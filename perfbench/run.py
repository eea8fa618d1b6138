#!/usr/bin/env python3
"""graft benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload <img-batch|text-cascade> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (the engine through its own build definition) and writes
the small warm-up inputs every run's set-up reads; later runs reuse both
while no source changed. The engine compiles into the root
build's target/; everything else a run writes goes under .bench_build/ in the
checkout. The JVM runs local[nproc] with a heap derived
from MemTotal as the tier-1 test command derives it. The last stdout line is
the result: {"correct", "attempted", "failed", "metrics"}; the line before it
records the cores, heap and Spark settings used. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("img-batch", "text-cascade")
RUN_LIMIT_S = 170  # the run, JVM start to exit, after any build
BUILD_LIMIT_S = 700


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads: the engine's and the benchmark's."""
    files = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        path = os.path.join(root, top)
        if os.path.isfile(path):
            files.append(path)
        for d, subdirs, names in os.walk(path):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files.extend(os.path.join(d, n) for n in sorted(names))
    return files


def fingerprint(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit_s, stdout):
    """Run cmd in its own process group; kill the group past limit_s."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {limit_s} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def jvm_env():
    """The environment of the benchmark JVMs. Spark reads some settings from
    it (SPARK_LOCAL_DIRS would move its scratch space out of the checkout):
    keep only the host ones."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_") or k in ("SPARK_HOME", "SPARK_LOCAL_IP",
                                                  "SPARK_LOCAL_HOSTNAME")}
    env["MALLOC_ARENA_MAX"] = "2"
    return env


def java_cmd(launch, heap, tmp):
    """The benchmark JVM's command line, up to its own arguments."""
    with open(os.path.join(launch, "classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(launch, "javaopts.txt")) as fh:
        jopts = [l.strip() for l in fh if l.strip() and not l.startswith("-Xmx")]
    return (["java"] + jopts + heap +
            ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
             "graft.perfbench.Main"])


def build(root, out):
    """Compile with sbt and write the warm-up inputs, unless the stamped
    fingerprint still matches."""
    stamp = os.path.join(out, "build.fingerprint")
    fp = fingerprint(root)
    launch = os.path.join(out, "perfbench-target")
    warmup = os.path.join(out, "warmup")
    ready = all(os.path.exists(os.path.join(launch, f))
                for f in ("classpath.txt", "javaopts.txt")) and os.path.isdir(warmup)
    if ready and os.path.exists(stamp) and open(stamp).read() == fp:
        return launch, warmup
    if os.path.exists(stamp):
        os.remove(stamp)
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    # the engine build reads these at load time; the benchmark sizes the
    # JVM itself
    for k in ("SPARK_DRIVER_MEM", "GRAFT_GC"):
        env.pop(k, None)
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunchFiles"],
                       os.path.join(root, "perfbench"), env, BUILD_LIMIT_S, sys.stderr)
    if code != 0:
        fail(f"sbt build failed with exit code {code}")
    # every run's set-up reads these, so none generates its own
    shutil.rmtree(warmup, ignore_errors=True)
    work = os.path.join(out, "warmup-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    code = run_bounded(java_cmd(launch, ["-Xmx2g"], work) +
                       ["--write-warmup", warmup, "--work", work],
                       root, jvm_env(), BUILD_LIMIT_S, sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"writing the warm-up inputs failed with exit code {code}")
    with open(stamp, "w") as fh:
        fh.write(fp)
    return launch, warmup


def heap_gb():
    """The tier-1 rule: MemTotal / 2 GiB, clamped to 2..8 GiB."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return min(max(int(line.split()[1]) // 2097152, 2), 8)
    return 2


def cpu_times():
    """Aggregate jiffies from /proc/stat: (steal, total)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    if shutil.which("java") is None:
        fail("java not found on PATH")

    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    # one run at a time per checkout: a run empties the shared work directory
    lock = open(os.path.join(out, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        fail("another benchmark run is using this checkout")
    launch, warmup = build(root, out)

    work = os.path.join(out, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))
    gb = heap_gb()
    # a fixed heap, a fixed young generation (an eighth of the heap) and two
    # malloc arenas: otherwise peak RSS follows when G1 grew the heap and
    # how many arenas the JIT threads opened, not what the job retained
    # (a 37% spread between text-cascade seeds, 4% with these)
    heap = [f"-Xms{gb}g", f"-Xmx{gb}g", f"-Xmn{gb * 128}m"]
    cmd = java_cmd(launch, heap, tmp) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--work", work, "--warmup", warmup, "--inputs", os.path.join(out, "inputs"),
        "--cores", str(cores), "--heap", " ".join(heap), "--result", result]
    steal0, total0 = cpu_times()
    code = run_bounded(cmd, root, jvm_env(), RUN_LIMIT_S, sys.stderr)
    steal1, total1 = cpu_times()
    if code != 0 or not os.path.exists(result):
        fail(f"benchmark JVM exited with code {code}")
    with open(result) as fh:
        config, line = [l for l in fh.read().splitlines() if l.strip()]
    shutil.rmtree(work, ignore_errors=True)
    config = json.loads(config)
    # CPU time the hypervisor gave to other guests while the JVM ran: a run
    # with a large share is slow for reasons outside the program
    config["perfbench_config"]["cpu_steal_share"] = round(
        (steal1 - steal0) / max(1, total1 - total0), 4)
    json.loads(line)
    print(json.dumps(config, separators=(",", ":")))
    print(line, flush=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

    python3 perfbench/run.py --workload <rag-serve|rag-mixed|corpus-dedup> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call in a checkout compiles the
engine from its sources together with the benchmark (perfbench/build.sbt),
and the first rag-serve call indexes its store; both are kept under
.bench_build/ and redone whenever a source file changes. Each workload then runs in a fresh JVM with
Spark at local[nproc]. The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; the lines before it describe
the run (failure accounting, set-up split, run stamp). The exit code is 0
only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("rag-serve", "rag-mixed", "corpus-dedup")
# a run must end within 180 s
RUN_TIMEOUT_S = 170
JAVA_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def tree_stamp(paths):
    """Hash of every file under `paths` (files or directories), with names."""
    files = []
    for r in paths:
        if os.path.isfile(r):
            files.append(r)
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


ENGINE = [os.path.join(ROOT, "src", "main")]
# what the compiled classpath depends on
COMPILE_INPUTS = ENGINE + [os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
                           os.path.join(BENCH, "project", "build.properties")]
# what the indexed rag-serve store depends on
STORE_INPUTS = ENGINE + [os.path.join(ROOT, "src", "test", "resources", "eval"),
                         os.path.join(BENCH, "src", "main", "scala", "graftbench", "ServeStore.scala")]


def run_logged(cmd, cwd, log, timeout, env=None):
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def java_cmd(classpath, *args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
            "graftbench.Main"] + list(args) + ["--work", os.path.join(WORK, "run"),
                                               "--cpus", str(cpus())])


def current(name, stamp):
    f = os.path.join(WORK, name)
    return os.path.exists(f) and open(f).read() == stamp


def build(workload):
    """Compile (sbt) unless current, and for rag-serve index its store unless current."""
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    cp_file = os.path.join(WORK, "classpath.txt")
    compile_stamp = tree_stamp(COMPILE_INPUTS)
    if not current("compile.stamp", compile_stamp):
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        rc = run_logged(["sbt", "-batch", "-Dsbt.log.noformat=true",
                         "export Runtime/fullClasspath"], BENCH, log, 800, env)
        lines = open(log, errors="replace").read().splitlines()
        cps = [l for l in lines if os.path.join("perfbench", "target") in l
               and not l.startswith("[")]
        if rc != 0 or not cps:
            fail(f"build failed (sbt exit {rc}); see {log}")
        with open(cp_file, "w") as f:
            f.write(cps[-1].strip())
        with open(os.path.join(WORK, "compile.stamp"), "w") as f:
            f.write(compile_stamp)
        print(json.dumps({"built": "classes", "seconds": round(time.time() - t0, 1)}), flush=True)
    classpath = open(cp_file).read().strip()
    store_stamp = tree_stamp(STORE_INPUTS)
    if workload == "rag-serve" and not current("store.stamp", store_stamp):
        t0 = time.time()
        rc = run_logged(java_cmd(classpath, "--prepare"), ROOT, log, 800)
        if rc != 0:
            fail(f"rag-serve store preparation failed (exit {rc}); see {log}")
        with open(os.path.join(WORK, "store.stamp"), "w") as f:
            f.write(store_stamp)
        print(json.dumps({"built": "rag-serve store", "seconds": round(time.time() - t0, 1)}),
              flush=True)
    return classpath


def cpu_times():
    """Aggregate CPU times from /proc/stat (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(t0, t1):
    """Share of CPU time the hypervisor gave to other guests between two samples."""
    if not t0 or not t1 or len(t0) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return round(100.0 * d[7] / max(1, sum(d[:8])), 2)


def git_sha():
    """HEAD of the checkout, or None outside a git work tree."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def java_version():
    p = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (p.stderr.splitlines() or ["?"])[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 2:
        fail("--seconds must be at least 2")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    classpath = build(a.workload)
    load0 = os.getloadavg()[0]
    cpu0 = cpu_times()
    run_dir = os.path.join(WORK, "run")
    os.makedirs(run_dir, exist_ok=True)
    err_log = os.path.join(WORK, f"{a.workload}.stderr.log")
    cmd = java_cmd(classpath, "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace))
    t0 = time.time()
    with open(err_log, "wb") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            fail(f"{a.workload} did not finish in time; see {err_log}")
    lines = out.decode(errors="replace").splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write("\n".join(lines) + "\n")
        fail(f"{a.workload} exited {p.returncode} without a result; see {err_log}")

    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": cpus(), "load1_start": load0, "load1_end": os.getloadavg()[0],
        "wall_s": round(time.time() - t0, 2), "cpu_steal_pct": steal_pct(cpu0, cpu_times()),
        "git_sha": git_sha(), "source_sha256": tree_stamp(COMPILE_INPUTS),
        "jvm": java_version(), "jvm_opts": " ".join(JAVA_OPTS[:3]),
        "spark": {"master": f"local[{cpus()}]", "spark.sql.shuffle.partitions": cpus()},
    }
    for l in lines[:-1]:
        print(l)
    print(json.dumps({"stamp": stamp}))
    with open(os.path.join(WORK, f"last-{a.workload}-trace{a.trace}.json"), "w") as f:
        f.write("\n".join(lines[:-1] + [json.dumps({"stamp": stamp}), lines[-1]]) + "\n")
    print(json.dumps(result), flush=True)
    sys.exit(0 if p.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()

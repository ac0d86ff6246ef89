#!/usr/bin/env python3
"""graft layered benchmark: one workload, one JVM, one JSON result line.

Usage (from the root of a checkout of the repository):

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Builds the engine together with the harness (perfbench/build.sbt) when
the sources changed, picks the workload's dataset (a copy of the
repository's reference test data under perfbench/data, or, for tpch, a
5x replication of it that tools/make_sf1.py writes into perfbench/.work
once per checkout), runs perfbench.Main in a fresh JVM with local[nproc],
checks every output against its DuckDB oracle with the repository's
tools/check.py comparison, and prints the result as the last line of
standard output:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the spans of the run
are written to perfbench/.work/spans/. --smoke runs every workload's
code on a tiny dataset (sf0.001) for the benchmark's own test.
"""
import argparse
import contextlib
import fcntl
import hashlib
import importlib.util
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Dataset per workload: (reference scale under perfbench/data, copies).
# More than one copy means tools/make_sf1.py's replication with
# consistent key offsets. --seed fixes the key order of every warm pass
# and the control-plane op sequence, never the data.
DATA = {"tpch": ("sf0.01", 5), "loops_stream": ("sf0.01", 1), "control_plane": ("sf0.01", 1)}
SMOKE_DATA = ("sf0.001", 1)
JVM_TIMEOUT_S = 170
# A fixed heap (-Xms = -Xmx): with a growing one, ParallelGC's adaptive
# sizing sped passes up by a third over a run's first fourteen passes.
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compiles engine and harness with sbt unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(HERE, "target", "bench-classpath.txt")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(os.path.join(HERE, "target", "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as fh:
                saved = fh.read().split("\n")
            if saved[0] == stamp:
                return saved[1]
        # Offline, as the engine's own build: every dependency is local.
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            stdin=subprocess.DEVNULL, env=env)
        lines = p.stdout.strip().split("\n")
        if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed")
        with open(cp_file + ".tmp", "w") as fh:
            fh.write(stamp + "\n" + lines[-1].strip())
        os.replace(cp_file + ".tmp", cp_file)
        return lines[-1].strip()


def dataset(src, reps):
    """The dataset directory: the reference data itself, or its `reps`x
    replication, made once per checkout."""
    ref = os.path.join(HERE, "data", src)
    if reps == 1:
        return ref
    d = os.path.join(WORK, "data", f"{src}x{reps}")
    if os.path.exists(os.path.join(d, "_done")):
        return d
    os.makedirs(os.path.join(WORK, "data"), exist_ok=True)
    with open(os.path.join(WORK, "data", "gen.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(d, "_done")):
            shutil.rmtree(d, ignore_errors=True)
            p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "make_sf1.py"), ref, d, str(reps)],
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                               stdin=subprocess.DEVNULL)
            if p.returncode != 0:
                sys.stderr.write(p.stdout[-4000:])
                fail("replicating the reference data failed")
            open(os.path.join(d, "_done"), "w").close()
    return d


def oracle_check(data_dir, results_dir, keys):
    """Runs tools/check.py's DuckDB comparison; returns the keys that
    did not compare OK."""
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    check.CACHE_DIR = os.path.join(WORK, "oracle-cache")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(data_dir, results_dir)
    ok = {line.split()[1] for line in buf.getvalue().splitlines() if line.startswith("OK ")}
    bad = [k for k in keys if k not in ok]
    for line in buf.getvalue().splitlines():
        if not line.startswith(("OK ", "WARN ", "== ")):
            print(f"perfbench: oracle: {line[:300]}", file=sys.stderr)
    return bad


def main():
    # Terminated: unwind, so that the JVM or sbt child is killed and waited for.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check.py", "tools/make_sf1.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")

    cp = build()
    src, reps = SMOKE_DATA if a.smoke else DATA[a.workload]
    data = dataset(src, reps)
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    print(f"perfbench: workload={a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} "
          f"data={src}x{reps} cores={cores} loop=closed callers=1", flush=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
            "-XX:+UseParallelGC", f"-Djava.io.tmpdir={run_dir}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
              "--work", run_dir, "--cores", str(cores), "--out", f"{run_dir}/result.json"])
    env = dict(os.environ, LC_ALL="C.UTF-8", SPARK_LOCAL_DIRS=f"{run_dir}/spark-local")
    log_path = os.path.join(WORK, f"jvm-{a.workload}.log")
    t0 = time.time()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, env=env)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"JVM did not finish within {JVM_TIMEOUT_S} s (log: {log_path})")
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(f"{run_dir}/result.json"):
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"JVM exited with {rc} (log: {log_path})")
        with open(f"{run_dir}/result.json") as fh:
            res = json.load(fh)
        t1 = time.time()
        failed = res["failed"]
        for e in res["errors"]:
            print(f"perfbench: failed: {e}", file=sys.stderr)
        if res["oracle_keys"]:
            bad = oracle_check(data, os.path.join(run_dir, "results"), res["oracle_keys"])
            failed += len(bad)
            for k in bad:
                print(f"perfbench: failed: {k}: output differs from its DuckDB oracle", file=sys.stderr)
        print(f"perfbench: jvm {t1 - t0:.1f} s, oracle check {time.time() - t1:.1f} s, "
              f"oracle keys {len(res['oracle_keys'])}", file=sys.stderr)
        if a.trace:
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            shutil.copy(f"{run_dir}/spans.json",
                        os.path.join(WORK, "spans", f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()

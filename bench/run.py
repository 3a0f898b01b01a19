#!/usr/bin/env python3
"""Benchmark of the Spark engine in this repository.

    python3 bench/run.py --workload {board,lakehouse} --seed N \\
        --seconds S --trace {0,1}
    python3 bench/run.py --smoke
    python3 bench/run.py --record board [--scale X]

Run from the root of a checkout. The first run builds the engine and
the harness from source (sbt, offline) and generates the input tables;
both are cached under `.bench_build/` and rebuilt when their sources
change. Each run starts one JVM that runs the workload on `local[N]`,
N = the number of CPUs, and prints one JSON line as the last line of
standard output. Details of the run (spans, host load and steal,
errors of failed ops) go to `.bench_build/results/`.

`--smoke` runs every workload on tiny inputs, checks that every metric
named in BENCHMARK.json is reported, and checks that the correctness
gate rejects a deliberately altered digest. `--record` writes the
expected row counts and digests of the board workload (see README.md).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("board", "lakehouse")
SCALE = 0.002
SMOKE_SCALE = 0.001
BUILD_TIMEOUT_S = 840
RUN_LIMIT_S = 170
# A fixed-size heap with a fixed young generation and the serial
# collector, so that the number and cost of collections per op do not
# depend on how the heap happened to grow; and only the C1 compiler, so
# that the JIT settles within the warm-up instead of recompiling (on
# compiler threads whose CPU time would count) through the timed passes.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn1g", "-XX:+UseSerialGC",
             "-XX:TieredStopAtLevel=1"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compiles the engine with the harness; returns the runtime classpath."""
    stamp = tree_digest([os.path.join(ROOT, "src", "main"),
                         os.path.join(BENCH, "src"),
                         os.path.join(BENCH, "build.sbt"),
                         os.path.join(BENCH, "project", "build.properties")])
    cache = os.path.join(OUT, "classpath.txt")
    if os.path.exists(cache):
        with open(cache) as fh:
            cached_stamp, cp = fh.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    log("building the engine and the harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.1f}s")
    os.makedirs(OUT, exist_ok=True)
    with open(cache, "w") as fh:
        fh.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


def dataset(scale):
    """Generates the input tables once per (generator, scale)."""
    gen = os.path.join(BENCH, "gen_data.py")
    path = os.path.join(OUT, "data", f"sf{scale}-{tree_digest([gen])[:12]}")
    if not os.path.exists(os.path.join(path, "_DONE")):
        shutil.rmtree(path, ignore_errors=True)
        subprocess.run([sys.executable, gen, path, str(scale)], check=True,
                       timeout=300)
        open(os.path.join(path, "_DONE"), "w").close()
    return path


def run_jvm(cp, workload, seed, seconds, trace, scale, limit_s,
            tamper=False, record=False):
    """Runs one workload in a fresh JVM; returns (parsed result, stdout)."""
    work = os.path.join(OUT, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    sidecar = os.path.join(OUT, "results",
                           f"{workload}-seed{seed}-trace{trace}.json")
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "graft.bench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--data", dataset(scale), "--work", work,
              "--expected", os.path.join(BENCH, "expected",
                                         f"{workload}-sf{scale}.tsv"),
              "--sidecar", sidecar,
              "--tamper", "1" if tamper else "0",
              "--record", "1" if record else "0"])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(f"{workload} did not finish within {limit_s:.0f}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} exited with code {proc.returncode}")
    last = out.strip().splitlines()[-1] if out.strip() else ""
    result = json.loads(last)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed result line: {last}")
    return result, out


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def smoke(cp):
    """Every workload on tiny inputs: all metrics reported, gate bites."""
    b = spec()
    e2e = {m["name"] for m in b["end_to_end"]}
    layers = {m["name"] for m in b["per_layer"]}
    for w in WORKLOADS:
        for trace, names in ((0, e2e), (1, layers)):
            r, _ = run_jvm(cp, w, 1, 2, trace, SMOKE_SCALE, RUN_LIMIT_S)
            missing = names - set(r["metrics"])
            assert not missing, f"{w} trace={trace} lacks {sorted(missing)}"
            assert r["correct"] and r["failed"] == 0, f"{w} trace={trace}: {r}"
        r, _ = run_jvm(cp, w, 1, 2, 0, SMOKE_SCALE, RUN_LIMIT_S, tamper=True)
        assert not r["correct"] and r["failed"] >= 1, \
            f"{w}: the gate accepted an altered digest: {r}"
        log(f"smoke {w}: ok")
    print("smoke: ok")


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1))
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--record", choices=("board",))
    p.add_argument("--scale", type=float, default=SCALE)
    a = p.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        raise SystemExit(f"no engine sources under {ROOT}: nothing to benchmark")
    cp = classpath()
    if a.smoke:
        smoke(cp)
        return
    if a.record:
        run_jvm(cp, a.record, 1, 1, 0, a.scale, 900, record=True)
        log(f"recorded expected values for {a.record} at sf{a.scale}")
        return
    if None in (a.workload, a.seed, a.seconds, a.trace):
        p.error("--workload, --seed, --seconds and --trace are required")
    result, out = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, SCALE,
                          RUN_LIMIT_S)
    sys.stdout.write(out if out.endswith("\n") else out + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()

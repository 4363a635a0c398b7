#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) into `target/` dirs and records the runtime
classpath and the root build's JVM options in `.bench_build/`; later runs
reuse them until a source changes.
Each run then starts one JVM, whose data lives under `.bench_build/work/`
and is removed when the run ends. Units come from BENCHMARK.json, and the
metric names the JVM reports must be exactly those it declares.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when a source changed; return the classpath and the
    JVM options."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need} missing under {ROOT})")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed on PATH")
    outputs = ("classpath.txt", "javaopts.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    want = stamp()
    fresh = all(os.path.exists(os.path.join(BUILD, o)) for o in outputs + ("classpath.stamp",))
    if fresh:
        with open(stamp_file) as f:
            fresh = f.read() == want
    if not fresh:
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        print("perfbench: building with sbt", file=sys.stderr)
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                               cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("sbt build timed out")
        if r.returncode != 0:
            fail(f"sbt build failed with code {r.returncode}")
        for o in outputs:
            shutil.copyfile(os.path.join(HERE, "target", o), os.path.join(BUILD, o))
        with open(stamp_file, "w") as f:
            f.write(want)
    with open(os.path.join(BUILD, "classpath.txt")) as f:
        classpath = f.read().strip()
    with open(os.path.join(BUILD, "javaopts.txt")) as f:
        javaopts = [l.strip() for l in f if l.strip()]
    return classpath, javaopts


def declared_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    units = declared_metrics(a.trace)
    classpath, javaopts = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = ["java", "-Xmx2g", *javaopts, "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.move(spans, os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if len(lines) < 2:
        fail(f"the run printed no result (exit code {proc.returncode})")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    got = set(result["metrics"])
    if got != set(units):
        fail(f"metric names differ from BENCHMARK.json: missing {sorted(set(units) - got)}, "
             f"extra {sorted(got - set(units))}")
    result["metrics"] = {n: {"value": result["metrics"][n], "unit": u} for n, u in units.items()}
    print(json.dumps(detail))
    print(json.dumps(result))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

Run from the root of a checkout:

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark with sbt when their sources changed
(the first run in a checkout), then starts one JVM that stages the seeded
inputs, sets up the program's Spark session and runs the workload in a
closed loop for the given number of seconds. The last line printed is the
result as one JSON object. Build output, inputs and run records stay under
`.bench_build/` in the checkout.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "pipebench")
WORKLOADS = ("variant_annotate", "corpus_curate", "ingest_serve")
# a fixed-size heap: no resizing decisions that differ from run to run
HEAP = ["-Xms3g", "-Xmx3g"]
RUN_LIMIT_S = 170
# the CPUs this process may run on, as nproc counts them
NPROC = len(os.sched_getaffinity(0))


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's build definition and main
    sources, and the benchmark's."""
    picked = []
    for base in (ROOT, HERE):
        picked.append(os.path.join(base, "build.sbt"))
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            picked += [os.path.join(proj, f) for f in os.listdir(proj)
                       if f.endswith((".sbt", ".scala", ".properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, filenames in os.walk(top):
            picked += [os.path.join(dirpath, f) for f in filenames]
    return sorted(p for p in picked if os.path.isfile(p))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources;
    returns the launch description (classpath and JVM options)."""
    launch = os.path.join(HERE, "target", "launch.json")
    stamp = os.path.join(STATE, "build.stamp")
    fp = fingerprint()
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == fp:
                with open(launch) as fh:
                    return json.load(fh)
    os.makedirs(STATE, exist_ok=True)
    log = os.path.join(STATE, "build.log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                             cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
    if rc != 0 or not os.path.exists(launch):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(fp)
    with open(launch) as fh:
        return json.load(fh)


def run_jvm(launch, args, log_name, timeout, cores):
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_GRAFT_SHUFFLE=str(cores),
               SPARK_LOCAL_DIRS=local)
    cmd = (["java"] + HEAP + [f"-Djava.io.tmpdir={tmp}"] + launch["java_options"]
           + ["-cp", os.pathsep.join(launch["classpath"]), "pipebench.Bench"] + args)
    os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
    with open(os.path.join(STATE, "logs", log_name), "w") as err:
        proc = subprocess.Popen(cmd, cwd=STATE, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, env=env, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{' '.join(args)}: no result within {timeout} s")
    if proc.returncode != 0:
        fail(f"{' '.join(args)}: JVM exit {proc.returncode}; stderr in "
             f"{os.path.join(STATE, 'logs', log_name)}")
    return out.strip().splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--cores", type=int, default=min(4, NPROC),
                    help="Spark local[n] threads (default: min(4, nproc))")
    a = ap.parse_args()
    if not 1 <= a.cores <= NPROC:
        fail(f"--cores must be between 1 and nproc ({NPROC})")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: no build.sbt or src/main/scala/graft there")
    launch = build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    lines = run_jvm(launch, ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", a.trace,
                             "--work", STATE], f"{tag}.log", RUN_LIMIT_S, a.cores)
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if not isinstance(result, dict) or "metrics" not in result:
        fail(f"{tag}: the JVM printed no result line")
    print("\n".join(lines))

if __name__ == "__main__":
    main()

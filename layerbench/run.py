"""Runs one benchmark workload and prints its result as the last line.

    python3 layerbench/run.py --workload tile_pipeline --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark first if needed (build.py), then runs
layerbench.Main in one JVM with a local Spark session over every CPU this
process may use. See README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

WORKLOADS = ["tile_pipeline", "join_skew", "view_churn"]
# Spark on JDK 17 needs these when the session starts outside spark-submit
# (the same list as the repository's build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: small inputs for the smoke test")
    ap.add_argument("--images", type=int, help="tile_pipeline image count override")
    args = ap.parse_args()

    classes = build.ensure_built()
    root = build.ROOT
    work = root / ".bench_work" / f"run-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={root / 'layerbench' / 'log4j2.properties'}",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*", "layerbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--size", args.size,
           "--work", str(work), "--trace-dir", str(root / ".bench_work" / "traces")]
    if args.images:
        cmd += ["--images", str(args.images)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=root)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"layerbench: run exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode not in (0, 1) or not lines:
        sys.exit(proc.returncode or 2)
    result = json.loads(lines[-1])
    print("\n".join(lines), flush=True)
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()

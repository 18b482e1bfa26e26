"""Layered benchmark of colinospark: one workload per JVM, closed loop.

    python3 layerbench/run.py --workload <select_curate|pipeline_tall|all>
        [--seed N] [--seconds S] [--trace 0|1] [--smoke]

Builds the program from source on first use (see build.py), runs the
workload in one JVM at local[<cores>], relays its report and ends with one
JSON line: {"correct", "attempted", "failed", "metrics"}. See README.md.
"""

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the package directory free of __pycache__
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
WORKLOADS = ["select_curate", "pipeline_tall"]
# Spark 4 on JDK 17 outside spark-submit needs these (the root build.sbt's list).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
RUN_LIMIT_S = 170
HEAP = "3g"  # a fixed heap: no resizing between passes


def run_one(classes: Path, args, workload: str) -> int:
    out = build.build_dir()
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m"]
    cmd += [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([str(classes), str(build.spark_jars() / "*")]),
            "graftbench.Main", "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", str(out / "work"), "--pins", str(HERE / "pins.tsv")]
    if args.smoke:
        cmd += ["--smoke"]
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"layerbench: {workload} exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        return 1
    lines = stdout.rstrip("\n").split("\n")
    result = None
    if lines and lines[-1].startswith("{"):
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if proc.returncode != 0 or result is None:
        print(f"layerbench: {workload} ended with code {proc.returncode} and no result", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--smoke", action="store_true", help="tiny inputs: every workload and check in well under a minute")
    args = ap.parse_args()
    if args.smoke:
        args.seconds = 0
    t0 = time.time()
    classes = build.build()
    print(f"[layerbench] build ready in {time.time() - t0:.1f} s", file=sys.stderr, flush=True)
    if args.smoke:  # one JVM for all workloads: a cold pass each, with its checks
        return run_one(classes, args, args.workload)
    return max(run_one(classes, args, w) for w in (WORKLOADS if args.workload == "all" else [args.workload]))


if __name__ == "__main__":
    sys.exit(main())

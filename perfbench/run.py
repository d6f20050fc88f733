"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload olap-mix --seed 1 --seconds 10 --trace 0

Runs one seeded workload through the engine's public entry points on
``local[4]``, with one driver process and one closed-loop client thread,
checks every result, and prints one JSON object as the last line of
standard output:

    {"correct": true, "attempted": 24, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a
separate run that records spans, the Spark event log and streaming
progress, and reports the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

from harness import CPUS, HERE, ROOT, SF, Bench, data_manifest

DRIVER_MEM = "4g"

WORKLOADS = ("olap-mix", "lake-ingest")


def _process_start() -> float:
    """Wall-clock time this process started (10 ms resolution)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


PROCESS_START = _process_start()


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(ROOT, "e_commerce_data_pipeline_spark")
    )


def _commit() -> str:
    """The checkout's git commit, or a digest of the engine's sources
    when the checkout is not a git repository."""
    try:
        head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        head = ""
    if head:
        return head
    h = hashlib.sha256()
    for d, dirs, names in os.walk(os.path.join(ROOT, "e_commerce_data_pipeline_spark")):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    h.update(f.read())
    return "src-" + h.hexdigest()[:12]


def configure_env(run_dir: str, trace: bool) -> None:
    """Point every scratch path of Spark, the JVM, Python and the
    engine's oracle channel into this run's own directory. Must run
    before pyspark starts its JVM."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "oracle", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_GRAFT_ORACLE_SCRATCH"] = dirs["oracle"]
    env["SPARK_LOCAL_DIRS"] = dirs["local"]
    env["TMPDIR"] = dirs["tmp"]
    # Python workers unpickle module-level kernels by reference, so the
    # package must be importable in every executor's interpreter.
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']} -XX:-UsePerfData"
    args = [
        "--driver-java-options", java_opts,
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.local.dir={dirs['local']}",
        "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
    ]
    if trace:
        # Spark 4 compresses event logs with zstd by default; the parser
        # reads plain JSON lines.
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{dirs['events']}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
    tempfile.tempdir = None  # re-read TMPDIR


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    boot_s = time.time() - PROCESS_START
    args = parse_args(argv)
    if not _engine_present():
        print(
            f"perfbench: the engine package is not next to {HERE}; run from a checkout",
            file=sys.stderr,
        )
        return 2
    with open(os.path.join(HERE, "MANIFEST.json")) as f:
        expected = json.load(f)
    if data_manifest() != expected:
        print("perfbench: input tables differ from MANIFEST.json", file=sys.stderr)
        return 2

    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(run_dir)
    configure_env(run_dir, bool(args.trace))
    sys.path.append(ROOT)
    try:
        bench = Bench(args, run_dir, boot_s)
        try:
            result = bench.run()
        finally:
            bench.close()
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": CPUS,
            "sf": SF,
            "commit": _commit(),
            "spark": bench.spark_version,
        }
        print("# stamp " + json.dumps(stamp), file=sys.stderr)
        if args.trace:
            out = os.path.join(
                ROOT, ".perfbench_traces", f"{args.workload}-{args.seed}-{os.getpid()}"
            )
            bench.write_trace(out)
            print(f"# trace written to {out}", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's run: setup, one workload's measured closed
loop, correctness checks, and the metric roll-up.

pyspark is imported only inside setup, after run.py has configured the
environment (PYSPARK_SUBMIT_ARGS and friends) it must see.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import threading
import time

import stats
from spans import Tracer, find_event_log, layer_self_times, parse_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
SF_DIR = os.path.join(DATA, "sf0.1")
CPUS = 4
SF = 0.1
REQUEST_TIMEOUT_S = 60.0  # a request or pass that takes longer fails


def data_manifest() -> dict[str, str]:
    """sha256 of every input table, checked against MANIFEST.json."""
    out = {}
    for sub in sorted(os.listdir(DATA)):
        d = os.path.join(DATA, sub)
        if not os.path.isdir(d):
            continue
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                out[f"{sub}/{name}"] = hashlib.sha256(f.read()).hexdigest()
    return out


class Timeout:
    """Cancels every running Spark job if the request outlives its
    budget; the request then raises and counts as failed."""

    def __init__(self, spark, seconds: float):
        self.fired = False
        self._sc = spark.sparkContext
        self._timer = threading.Timer(seconds, self._fire)
        self._timer.daemon = True

    def _fire(self):
        self.fired = True
        self._sc.cancelAllJobs()

    def __enter__(self):
        self._timer.start()
        return self

    def __exit__(self, *exc):
        self._timer.cancel()
        self._timer.join()
        return False


class Request:
    """One timed unit of work and its verdict."""

    def __init__(self, rid: str, name: str):
        self.rid = rid
        self.name = name
        self.latency = 0.0
        self.ok = False
        self.reason = ""
        self.detail: dict = {}


class Bench:
    def __init__(self, args, run_dir: str, boot_s: float):
        self.args = args
        self.run_dir = run_dir
        self.boot_s = boot_s  # interpreter start until main() ran
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.queries = None
        self.oracle_sql: dict[str, str] = {}
        self.spark_version = "unknown"
        self.setup_times: dict = {}
        self.requests: list[Request] = []
        self._event_summary: dict = {}
        self._closed = False
        if args.workload == "lake-ingest":
            from lake import LakeIngest

            self.workload = LakeIngest(self)
        else:
            from olap import OlapMix

            self.workload = OlapMix(self)

    # ------------------------------------------------------------------
    # setup
    # ------------------------------------------------------------------

    def setup(self) -> None:
        """Start the session, import the registry and run the workload's
        warm pass. ``setup_s`` is this cold setup plus the interpreter's
        own start (``boot_s``): process start until the warm pass is
        done."""
        t0 = time.perf_counter()
        with self.tracer.span("session", "start", request="setup"):
            from e_commerce_data_pipeline_spark.session import get_spark

            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with self.tracer.span("plans", "import", request="setup"):
            import __spark_entry__

            self.queries = __spark_entry__.queries()
            self.oracle_sql = __spark_entry__.oracle_sql()
        t2 = time.perf_counter()
        self.workload.on_session()
        with self.tracer.span("bench", "warm", request="setup"):
            self.workload.warm()
        t3 = time.perf_counter()
        self.setup_times = {
            "boot_s": self.boot_s,
            "session_s": t1 - t0,
            "import_s": t2 - t1,
            "warm_s": t3 - t2,
            "total_s": self.boot_s + t3 - t0,
        }
        print(f"# setup: {self.setup_times}", file=sys.stderr)

    def run(self) -> dict:
        """Set up, then measure in that warmed session."""
        self.setup()
        self.spark_version = self.spark.version
        self.workload.measure(self.args.seconds)
        self.app_id = self.spark.sparkContext.applicationId
        for r in self.requests:
            verdict = "ok" if r.ok else f"FAILED {r.reason}"
            print(f"# {r.rid} {r.name} {r.latency:.3f}s {verdict}", file=sys.stderr)
        e2e = self.e2e_metrics()
        if self.args.trace:
            return result_record(self.requests, self.layer_metrics(e2e), LAYER_UNITS)
        return result_record(self.requests, e2e, E2E_UNITS)

    def close(self) -> None:
        """Stop the session, then the JVM it runs in, and wait for it."""
        if self._closed or self.spark is None:
            return
        self._closed = True
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # ------------------------------------------------------------------
    # metrics
    # ------------------------------------------------------------------

    def e2e_metrics(self) -> dict[str, float]:
        lat = [r.latency for r in self.requests]
        if not lat:
            raise RuntimeError("no request completed in the measured window")
        p90, pct, n = stats.tail(lat)
        passes = self.workload.pass_times()
        print(
            f"# requests n={n} tail=p{pct:g} passes={len(passes)} "
            f"measured={sum(lat):.3f}s",
            file=sys.stderr,
        )
        return {
            "setup_s": self.setup_times["total_s"],
            "request_p50_s": stats.median(lat),
            "request_p90_s": p90,
            "requests_per_min": 60.0 * len(lat) / sum(lat),
            "pass_s": stats.median(passes),
        }

    def layer_metrics(self, e2e: dict) -> dict[str, float]:
        """Per-layer metrics: per request (query workloads) or per pass
        (lake-ingest) means over the measured window, plus the traced
        run's own end-to-end figures for the tracing overhead."""
        self.close()  # flushes the event logs
        groups = parse_event_log(find_event_log(os.path.join(self.run_dir, "events"), self.app_id))
        n = len(self.requests)
        st = self.setup_times
        out: dict[str, float] = {k: 0.0 for k in LAYER_UNITS}
        out["session.start_s"] = st["session_s"]
        out["plans.import_s"] = st["import_s"]
        out["setup.boot_s"] = st["boot_s"]
        out["setup.warm_s"] = st["warm_s"]
        measured = {r.rid for r in self.requests}
        spans = [s for s in self.tracer.spans if s.request in measured]
        for layer, t in layer_self_times(spans).items():
            key = f"{layer}.self_s"
            if key in out:
                out[key] = t / n
        for s in spans:
            if s.failed and f"{s.layer}.failed" in out:
                out[f"{s.layer}.failed"] += 1
        self.workload.layer_metrics(out, groups, n)
        for k, v in e2e.items():
            out[f"traced.{k}"] = v
        self._event_summary = {
            g: {k: (sorted(v) if isinstance(v, set) else v) for k, v in s.__dict__.items()}
            for g, s in groups.items()
        }
        return out

    def write_trace(self, out_dir: str) -> None:
        """The spans, kept in memory during the run, and the per-job-group
        event-log summary."""
        os.makedirs(out_dir, exist_ok=True)
        self.tracer.dump(os.path.join(out_dir, "spans.jsonl"))
        with open(os.path.join(out_dir, "job_groups.json"), "w") as f:
            json.dump(self._event_summary, f, indent=1, sort_keys=True)


def result_record(requests: list[Request], metrics: dict, units: dict) -> dict:
    """The benchmark's last output line. A request that raised, timed out
    or returned a wrong result counts as failed, and any failure makes
    the run incorrect."""
    failed = sum(not r.ok for r in requests)
    return {
        "correct": failed == 0 and len(requests) > 0,
        "attempted": len(requests),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def exec_rollup(out: dict, groups: dict, gids, n: int, cpus: int, busy_window_s: float):
    """Add the exec.* metrics of the job groups ``gids`` to ``out``."""
    from spans import GroupStats

    tot = GroupStats()
    for g in gids:
        if g in groups:
            tot.add(groups[g])
    out["exec.jobs"] = tot.jobs / n
    out["exec.stages"] = tot.stages / n
    out["exec.tasks"] = tot.tasks / n
    out["exec.task_run_ms"] = tot.task_run_ms / n
    out["exec.task_deserialize_ms"] = tot.task_deserialize_ms / n
    out["exec.gc_ms"] = tot.gc_ms / n
    out["exec.shuffle_write_bytes"] = tot.shuffle_write_bytes / n
    out["exec.shuffle_read_bytes"] = tot.shuffle_read_bytes / n
    out["exec.spill_bytes"] = tot.spill_bytes / n
    out["exec.failed"] = float(tot.failed_jobs + tot.failed_tasks)
    if busy_window_s > 0:
        out["exec.core_busy_frac"] = tot.task_wall_ms / 1000.0 / (cpus * busy_window_s)
    return tot


E2E_UNITS = {
    "setup_s": "s",
    "request_p50_s": "s",
    "request_p90_s": "s",
    "requests_per_min": "1/min",
    "pass_s": "s",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "session.failed": "count",
    "plans.import_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.self_s": "s",
    "plans.failed": "count",
    "setup.boot_s": "s",
    "setup.warm_s": "s",
    "catalog.calls": "count",
    "catalog.misses": "count",
    "catalog.hit_ratio": "ratio",
    "catalog.load_s": "s",
    "catalog.self_s": "s",
    "catalog.failed": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.failed": "count",
    "exec.collect_s": "s",
    "exec.self_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_ms": "ms",
    "exec.task_deserialize_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.core_busy_frac": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed": "count",
    "operators.cached_mb_after": "MB",
    "operators.cache_entries": "count",
    "operators.failed": "count",
    "streaming.batches": "count",
    "streaming.batch_p50_ms": "ms",
    "streaming.plan_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.self_s": "s",
    "streaming.failed": "count",
    "sources.bronze_s": "s",
    "sources.silver_gold_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "sources.write_amp": "ratio",
    "sources.events_per_s": "1/s",
    "sources.self_s": "s",
    "sources.failed": "count",
    "gate.suite_s": "s",
    "gate.score": "ratio",
    "gate.self_s": "s",
    "gate.failed": "count",
    "bench.self_s": "s",
    "traced.setup_s": "s",
    "traced.request_p50_s": "s",
    "traced.request_p90_s": "s",
    "traced.requests_per_min": "1/min",
    "traced.pass_s": "s",
}

"""The olap-mix workload.

A request is one registry row built through ``__spark_entry__.queries()``
and collected to the client with ``toPandas()`` (the Arrow collect, the
form the repository's oracle diff compares). Each result is checked
against the row's DuckDB oracle at sf0.1, outside the timed window.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

from harness import CPUS, HERE, REQUEST_TIMEOUT_S, SF_DIR, Request, Timeout, exec_rollup
from oracles import OracleCache, diff

WARM_ROUNDS = 2
# Whole passes run until at least --seconds of request time is spent and
# at least MIN_PASSES passes are done, so every run measures the same
# number of passes (three at --seconds 10: 24 requests). A run, JVM start
# and warm-up included, then takes about a minute, which a full
# evaluation (4 + 22 runs per workload within 3,420 s) allows.
MIN_PASSES = 3


def load_rows() -> tuple[list[str], list[int]]:
    """The popularity order of the rows and how often each runs per pass."""
    with open(os.path.join(HERE, "rows.json")) as f:
        rows = json.load(f)
    return rows["olap"], rows["olap_freq"]


def olap_pass(rng: random.Random, names: list[str], freq: list[int]) -> list[str]:
    """One pass: a Zipf-shaped multiset (``names[i]`` runs ``freq[i]``
    times, so hot plans and tables repeat), in seeded order."""
    seq = [name for name, k in zip(names, freq) for _ in range(k)]
    rng.shuffle(seq)
    return seq


class OlapMix:
    def __init__(self, bench):
        self.b = bench
        self.names, self.freq = load_rows()
        self.oracles = OracleCache()
        self.passes: list[float] = []
        self.catalog_events: list[tuple[str, bool, float]] = []
        self._rid = None

    # -- setup -----------------------------------------------------------

    def on_session(self) -> None:
        if self.b.tracer.enabled:
            self._trace_catalog()

    def _trace_catalog(self) -> None:
        """Wrap ``catalog.load_table`` wherever the freshly imported
        engine modules bound it, so each call records a catalog span and
        whether it missed the table memo."""
        import e_commerce_data_pipeline_spark.catalog as cat

        orig = cat.load_table
        tracer = self.b.tracer

        def load_table(spark, sf_dir, name):
            memo = getattr(cat, "_TABLE_CACHE", {})
            before = len(memo)
            t0 = time.perf_counter()
            with tracer.span("catalog", name):
                df = orig(spark, sf_dir, name)
            self.catalog_events.append(
                (self._rid, len(memo) > before, time.perf_counter() - t0)
            )
            return df

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("e_commerce_data_pipeline_spark"):
                if getattr(mod, "load_table", None) is orig:
                    mod.load_table = load_table

    def warm(self) -> None:
        """Every row WARM_ROUNDS times at sf0.1, so the JVM's JIT warms
        up on the data sizes it is measured on. After one round the first
        measured pass was still ~25% slower than the ones after it, and
        the seeded order decided which rows paid for that; from the
        second pass on the pass times level off."""
        for _ in range(WARM_ROUNDS):
            for name in self.names:
                self.b.queries[name](self.b.spark, SF_DIR).toPandas()

    # -- measured loop ---------------------------------------------------

    def measure(self, seconds: float) -> None:
        rng = random.Random(self.b.args.seed)
        measured = 0.0
        while measured < seconds or len(self.passes) < MIN_PASSES:
            spent = 0.0
            for name in olap_pass(rng, self.names, self.freq):
                r = self.request(f"r{len(self.b.requests):04d}", name)
                self.b.requests.append(r)
                spent += r.latency
            self.passes.append(spent)
            measured += spent

    def request(self, rid: str, name: str) -> Request:
        spark, tracer = self.b.spark, self.b.tracer
        sc = spark.sparkContext
        fn = self.b.queries[name]
        r = Request(rid, name)
        self._rid = rid
        timeout = Timeout(spark, REQUEST_TIMEOUT_S)
        t0 = time.perf_counter()
        try:
            with timeout, tracer.span("bench", name, request=rid):
                sc.setJobGroup(f"{rid}/build", name)
                with tracer.span("plans", "build"):
                    df = fn(spark, SF_DIR)
                t1 = time.perf_counter()
                sc.setJobGroup(f"{rid}/collect", name)
                with tracer.span("exec", "collect"):
                    pdf = df.toPandas()
            t2 = time.perf_counter()
        except Exception as e:  # a raising request is a failed request
            r.latency = time.perf_counter() - t0
            r.reason = "timeout" if timeout.fired else f"{type(e).__name__}: {e}"[:300]
            return r
        finally:
            self._rid = None
        r.latency = t2 - t0
        r.detail = {"build_s": t1 - t0, "collect_s": t2 - t1}
        if tracer.enabled:
            r.detail.update(self._after_collect(df))
        try:
            r.reason = diff(pdf, self.oracles.get(name, self.b.oracle_sql[name]))
        except Exception as e:  # the oracle could not be evaluated
            r.reason = f"oracle {type(e).__name__}: {e}"[:300]
        r.ok = not r.reason
        return r

    def _after_collect(self, df) -> dict:
        """Catalyst phase times of the collected frame and the operator
        cache left resident, read outside the timed window."""
        out = {}
        try:
            phases = df._jdf.queryExecution().tracker().phases()
            for p in ("analysis", "optimization", "planning"):
                opt = phases.get(p)
                out[f"{p}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        except Exception as e:
            out["catalyst_error"] = repr(e)[:200]
        infos = self.b.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        out["cached_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        out["cache_entries"] = len(infos)
        return out

    # -- roll-up ---------------------------------------------------------

    def pass_times(self) -> list[float]:
        return self.passes

    def layer_metrics(self, out: dict, groups: dict, n: int) -> None:
        reqs = self.b.requests
        done = [r for r in reqs if r.detail]

        def mean(key):
            return sum(r.detail.get(key, 0.0) for r in done) / n

        out["plans.build_s"] = mean("build_s")
        out["exec.collect_s"] = mean("collect_s")
        out["catalyst.analysis_ms"] = mean("analysis_ms")
        out["catalyst.optimization_ms"] = mean("optimization_ms")
        out["catalyst.planning_ms"] = mean("planning_ms")
        out["catalyst.failed"] = float(sum("catalyst_error" in r.detail for r in done))
        out["operators.cached_mb_after"] = mean("cached_mb")
        out["operators.cache_entries"] = mean("cache_entries")
        rids = {r.rid for r in reqs}
        cat = [e for e in self.catalog_events if e[0] in rids]
        out["catalog.calls"] = len(cat) / n
        out["catalog.misses"] = sum(e[1] for e in cat) / n
        out["catalog.load_s"] = sum(e[2] for e in cat) / n
        out["catalog.hit_ratio"] = 1.0 - sum(e[1] for e in cat) / len(cat) if cat else 0.0
        out["plans.build_jobs"] = sum(
            groups[f"{r}/build"].jobs for r in rids if f"{r}/build" in groups
        ) / n
        gids = [f"{r}/{p}" for r in rids for p in ("build", "collect")]
        exec_rollup(out, groups, gids, n, CPUS, sum(r.latency for r in reqs))

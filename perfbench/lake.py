"""The lake-ingest workload: drain a freshly generated JSON-lines backlog
through bronze (streaming), silver and gold (batch), the quality gate and
streaming sessionization. A request is one such pass.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time

import lakegen
from harness import CPUS, REQUEST_TIMEOUT_S, Request, Timeout, exec_rollup
from spans import progress_dicts

EVENTS = 20_000  # events per pass (before planted duplicates and corrupt lines)
FILES = 2  # files per topic, one micro-batch each
WARM_EVENTS = 5_000
GATE_THRESHOLD = 0.75
# Whole passes run until at least --seconds of pass time is spent and at
# least MIN_PASSES passes are done, so every run measures the same number
# of passes. Two, because a run, JVM start and warm pass included, must
# stay near a minute for a full evaluation (4 + 22 runs per workload) to
# end within its 3,420 s.
MIN_PASSES = 2
SILVER_NAMES = {"clicks": "user_clicks", "orders": "orders", "cdc": "inventory_changes"}


def gate_suite():
    from e_commerce_data_pipeline_spark.operators.quality import (
        expect_between,
        expect_in_set,
        expect_not_null,
        expect_row_count,
        expect_unique,
    )

    return [
        expect_not_null("order_id"),
        expect_unique("event_id"),
        expect_in_set("order_status", lakegen.ORDER_STATUSES),
        expect_between("total_amount", 0, 100_000),
        expect_row_count(1, 10_000_000),
    ]


def _await(q, timeout: float) -> None:
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(f"streaming query {q.name or q.id} did not finish")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


class LakeIngest:
    def __init__(self, bench):
        self.b = bench
        self.root = os.path.join(bench.run_dir, "lake")
        self.passes: list[float] = []
        self.stats: list[dict] = []  # per measured pass, traced runs only

    def on_session(self) -> None:
        pass

    def warm(self) -> None:
        """One pass over a small fixed backlog, unchecked."""
        base = os.path.join(self.root, "warm")
        bl = lakegen.generate(os.path.join(base, "in"), 0, WARM_EVENTS, 1)
        res = self._drain(bl, os.path.join(base, "out"), "warm")
        self.b.spark.catalog.dropTempView(res["sessions_table"])
        shutil.rmtree(base, ignore_errors=True)

    def measure(self, seconds: float) -> None:
        rng = random.Random(self.b.args.seed)
        measured = 0.0
        while measured < seconds or len(self.passes) < MIN_PASSES:
            rid = f"p{len(self.passes):03d}"
            base = os.path.join(self.root, rid)
            # generation and the reference are outside the timed pass
            bl = lakegen.generate(os.path.join(base, "in"), rng.getrandbits(32), EVENTS, FILES)
            ref = lakegen.reference(bl)
            r = Request(rid, "lake-pass")
            timeout = Timeout(self.b.spark, REQUEST_TIMEOUT_S)
            t0 = time.perf_counter()
            out: dict = {}
            try:
                with timeout, self.b.tracer.span("bench", "pass", request=rid):
                    out = self._drain(bl, os.path.join(base, "out"), rid)
            except Exception as e:  # a raising pass is a failed pass
                r.latency = time.perf_counter() - t0
                r.reason = "timeout" if timeout.fired else f"{type(e).__name__}: {e}"[:300]
            else:
                r.latency = time.perf_counter() - t0
                print(f"# {rid} steps {out['times']}", file=sys.stderr)
                try:
                    r.reason = self._check(bl, ref, out)
                except Exception as e:  # the outputs could not be read back
                    r.reason = f"check {type(e).__name__}: {e}"[:300]
                r.ok = not r.reason
            if self.b.tracer.enabled:
                self.stats.append(self._pass_stats(bl, base, r, out if r.ok else {}))
            self.b.requests.append(r)
            self.passes.append(r.latency)
            measured += r.latency
            shutil.rmtree(base, ignore_errors=True)

    # -- one pass --------------------------------------------------------

    def _drain(self, bl: lakegen.Backlog, out: str, rid: str) -> dict:
        from pyspark.sql import functions as F

        from e_commerce_data_pipeline_spark.operators.sessionize import streaming_session_stats
        from e_commerce_data_pipeline_spark.schemas.events import TOPIC_SCHEMA_MAP
        from e_commerce_data_pipeline_spark.sources.bronze import read_bronze
        from e_commerce_data_pipeline_spark.sources.medallion import run_medallion
        from e_commerce_data_pipeline_spark.sources.warehouse import gated_load, parquet_writer
        from e_commerce_data_pipeline_spark.streaming.stream_processor import bronze_ingest_query

        spark, tracer = self.b.spark, self.b.tracer
        sc = spark.sparkContext
        res: dict = {"bronze_progress": {}, "times": {}}

        t = time.perf_counter()
        with tracer.span("streaming", "bronze"):
            queries = {}
            for short, topic in lakegen.TOPICS.items():
                raw = (
                    spark.readStream.format("text")
                    .option("maxFilesPerTrigger", 1)
                    .load(bl.topic_dir(short))
                    .select(
                        F.lit(topic).alias("topic"),
                        F.col("value"),
                        F.current_timestamp().alias("kafka_ts"),
                    )
                )
                q = bronze_ingest_query(
                    spark, raw, topic, f"{out}/bronze/{short}", f"{out}/ckpt/{short}",
                    available_now=True,
                )
                queries[short] = q
            # the three topic streams run side by side, as an ingest
            # service would run them
            for short, q in queries.items():
                _await(q, REQUEST_TIMEOUT_S)
                res["bronze_progress"][short] = progress_dicts(q)
        res["times"]["bronze_s"] = time.perf_counter() - t

        t = time.perf_counter()
        sc.setJobGroup(f"{rid}/medallion", "medallion")
        with tracer.span("sources", "medallion"):
            frames = {
                topic: read_bronze(spark, f"{out}/bronze/{short}", TOPIC_SCHEMA_MAP[topic])
                for short, topic in lakegen.TOPICS.items()
            }
            run_medallion(spark, frames, f"{out}/lake")
        res["times"]["silver_gold_s"] = time.perf_counter() - t

        t = time.perf_counter()
        sc.setJobGroup(f"{rid}/gate", "gate")
        with tracer.span("gate", "gated_load"):
            orders = spark.read.parquet(f"{out}/lake/silver/orders")
            res["gate"] = gated_load(
                orders, gate_suite(), parquet_writer(f"{out}/warehouse/orders"),
                threshold=GATE_THRESHOLD,
            )
        res["times"]["gate_s"] = time.perf_counter() - t

        t = time.perf_counter()
        with tracer.span("streaming", "sessions"):
            path = f"{out}/lake/silver/user_clicks"
            # the benchmark's own read of the silver schema is not the
            # engine's work, so its jobs are kept out of exec.*
            sc.setJobGroup(f"{rid}/bench", "silver schema")
            schema = spark.read.parquet(path).schema
            sc.setJobGroup(f"{rid}/sessions", "sessions")
            stream = spark.readStream.schema(schema).parquet(path)
            sess = streaming_session_stats(stream, user_col="user_id", ts_col="timestamp")
            res["sessions_table"] = f"sessions_{rid}"
            q = (
                sess.writeStream.format("memory")
                .queryName(res["sessions_table"])
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            _await(q, REQUEST_TIMEOUT_S)
            res["sessions_progress"] = progress_dicts(q)
        res["times"]["sessions_s"] = time.perf_counter() - t
        res["out"] = out
        res["rid"] = rid
        return res

    # -- correctness -----------------------------------------------------

    def _check(self, bl: lakegen.Backlog, ref: dict, res: dict) -> str:
        """Empty when the pass reproduced the DuckDB reference."""
        import duckdb

        out = res["out"]
        con = duckdb.connect()
        problems = []
        for short in lakegen.TOPICS:
            bronze = con.execute(
                f"""SELECT count(*) FROM read_csv('{out}/bronze/{short}/**/*.json.gz',
                    columns={{'line': 'VARCHAR'}}, header=false, delim=chr(1),
                    quote='', escape='', auto_detect=false)"""
            ).fetchone()[0]
            seen = sum(p["numInputRows"] for p in res["bronze_progress"][short])
            silver = con.execute(
                f"SELECT count(*) FROM read_parquet('{out}/lake/silver/{SILVER_NAMES[short]}/**/*.parquet')"
            ).fetchone()[0]
            if bronze != ref["valid_rows"][short]:
                problems.append(f"{short}: bronze {bronze} != {ref['valid_rows'][short]}")
            if seen - bronze != ref["corrupt"][short] or ref["corrupt"][short] != bl.corrupt[short]:
                problems.append(
                    f"{short}: corrupt {seen - bronze} != {ref['corrupt'][short]} "
                    f"(planted {bl.corrupt[short]})"
                )
            if silver != ref["silver_rows"][short]:
                problems.append(f"{short}: silver {silver} != {ref['silver_rows'][short]}")
        revenue = sorted(
            con.execute(
                f"""SELECT strftime(event_date, '%Y-%m-%d'), category,
                           CAST(round(revenue * 1000) AS BIGINT)
                    FROM read_parquet('{out}/lake/gold/revenue_by_category_day/*.parquet')"""
            ).fetchall()
        )
        if revenue != ref["revenue"]:
            problems.append(f"gold revenue differs ({len(revenue)} vs {len(ref['revenue'])} cells)")
        gate = res["gate"]
        want_passed = 4 + (ref["bad_status"] == 0)
        want_score = want_passed / 5
        if gate.score != want_score or gate.loaded != (want_score >= GATE_THRESHOLD):
            problems.append(f"gate score {gate.score} loaded {gate.loaded}, want {want_score}")
        if gate.report.get("n_bad_order_status") != ref["bad_status"]:
            problems.append(
                f"gate bad statuses {gate.report.get('n_bad_order_status')} != {ref['bad_status']}"
            )
        if gate.loaded:
            loaded = con.execute(
                f"SELECT count(*) FROM read_parquet('{out}/warehouse/orders/*.parquet')"
            ).fetchone()[0]
            if loaded != ref["silver_rows"]["orders"]:
                problems.append(f"warehouse rows {loaded} != {ref['silver_rows']['orders']}")
        con.close()
        # the check's query runs outside every group exec.* counts
        self.b.spark.sparkContext.setJobGroup(f"{res['rid']}/check", "check")
        n_sess, n_events = self.b.spark.sql(
            f"SELECT count(*), sum(n_events) FROM {res['sessions_table']}"
        ).collect()[0]
        if (n_sess, n_events) != tuple(ref["sessions"]):
            problems.append(f"sessions {(n_sess, n_events)} != {tuple(ref['sessions'])}")
        self.b.spark.catalog.dropTempView(res["sessions_table"])
        return "; ".join(problems)

    # -- traced roll-up --------------------------------------------------

    def _pass_stats(self, bl, base: str, r: Request, res: dict) -> dict:
        files = size = 0
        for d, _, names in os.walk(os.path.join(base, "out")):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(d, n))
        batches = [p for ps in res.get("bronze_progress", {}).values() for p in ps]
        batches += res.get("sessions_progress", [])
        durations = [p.get("durationMs", {}) for p in batches]
        last_state = (res.get("sessions_progress") or [{}])[-1].get("stateOperators", [])
        return {
            "rid": r.rid,
            "run_ids": [p["runId"] for p in batches],
            "events": bl.events,
            "in_bytes": bl.bytes,
            "files": files,
            "bytes": size,
            "batches": len(batches),
            "batch_ms": [d.get("triggerExecution", 0) for d in durations],
            "plan_ms": sum(d.get("queryPlanning", 0) for d in durations),
            "add_batch_ms": sum(d.get("addBatch", 0) for d in durations),
            "wal_ms": sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in durations),
            "state_rows": sum(s.get("numRowsTotal", 0) for s in last_state),
            "state_mem": sum(s.get("memoryUsedBytes", 0) for s in last_state),
            "score": res["gate"].score if "gate" in res else 0.0,
            **res.get("times", {}),
        }

    def pass_times(self) -> list[float]:
        return self.passes

    def layer_metrics(self, out: dict, groups: dict, n: int) -> None:
        st = self.stats

        def mean(key):
            return sum(s.get(key, 0.0) for s in st) / n

        batch_ms = [m for s in st for m in s["batch_ms"]]
        out["streaming.batches"] = mean("batches")
        out["streaming.batch_p50_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
        out["streaming.plan_ms"] = mean("plan_ms")
        out["streaming.add_batch_ms"] = mean("add_batch_ms")
        out["streaming.wal_commit_ms"] = mean("wal_ms")
        out["streaming.state_rows"] = mean("state_rows")
        out["streaming.state_mem_bytes"] = mean("state_mem")
        out["sources.bronze_s"] = mean("bronze_s")
        out["sources.silver_gold_s"] = mean("silver_gold_s")
        out["sources.files_written"] = mean("files")
        out["sources.bytes_written"] = mean("bytes")
        out["sources.write_amp"] = mean("bytes") / mean("in_bytes") if st else 0.0
        total_s = sum(r.latency for r in self.b.requests)
        out["sources.events_per_s"] = sum(s["events"] for s in st) / total_s
        out["gate.suite_s"] = mean("gate_s")
        out["gate.score"] = mean("score")
        # streaming jobs run under their query's runId as job group
        gids = [g for s in st for g in s["run_ids"]]
        gids += [f"{s['rid']}/{p}" for s in st for p in ("medallion", "gate", "sessions")]
        exec_rollup(out, groups, gids, n, CPUS, total_s)

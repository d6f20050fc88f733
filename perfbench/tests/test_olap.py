"""olap-mix: passes are seeded shuffles of a fixed multiset, and a request
that raises or returns a wrong result counts as failed."""

from __future__ import annotations

import argparse

import pandas as pd

from harness import E2E_UNITS, Request, result_record
from olap import OlapMix
from spans import Tracer


class _SC:
    def setJobGroup(self, *args):
        pass

    def cancelAllJobs(self):
        pass


class _Spark:
    sparkContext = _SC()


class _Frame:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class _Bench:
    def __init__(self, queries):
        self.spark = _Spark()
        self.tracer = Tracer(False)
        self.queries = queries
        self.oracle_sql = {name: "SELECT 1" for name in queries}
        self.args = argparse.Namespace(seed=1)
        self.requests = []


def _boom(spark, sf_dir):
    raise RuntimeError("planner exploded")


def _mix():
    from tests.oracle_diff import _norm_rows

    queries = {
        "q_raise": _boom,
        "q_wrong": lambda s, d: _Frame(pd.DataFrame({"a": [1, 3]})),
        "q_right": lambda s, d: _Frame(pd.DataFrame({"a": [2, 1]})),
        "q_cols": lambda s, d: _Frame(pd.DataFrame({"b": [1, 2]})),
        "q_dtype": lambda s, d: _Frame(pd.DataFrame({"a": [2.0, 1.0]})),
    }
    mix = OlapMix(_Bench(queries))
    want = (["a"], {"a": "int64"}, _norm_rows(["a"], [(1,), (2,)]))
    for name in queries:
        mix.oracles.mem[name] = want
    return mix


def test_raise_wrong_and_right_requests():
    mix = _mix()
    raised = mix.request("r0", "q_raise")
    wrong = mix.request("r1", "q_wrong")
    cols = mix.request("r2", "q_cols")
    right = mix.request("r3", "q_right")
    dtype = mix.request("r4", "q_dtype")
    assert not raised.ok and "planner exploded" in raised.reason
    assert not wrong.ok and "rows differ" in wrong.reason
    assert not cols.ok and "columns" in cols.reason
    assert not dtype.ok and "dtype" in dtype.reason
    assert right.ok and right.reason == ""
    assert all(r.latency > 0 for r in (raised, wrong, cols, right, dtype))


def test_failed_requests_are_counted():
    reqs = [Request(f"r{i}", "q") for i in range(4)]
    for r, ok in zip(reqs, (True, False, True, False)):
        r.ok = ok
    metrics = {k: 1.0 for k in E2E_UNITS}
    rec = result_record(reqs, metrics, E2E_UNITS)
    assert (rec["correct"], rec["attempted"], rec["failed"]) == (False, 4, 2)
    assert rec["metrics"]["setup_s"] == {"value": 1.0, "unit": "s"}
    for r in reqs:
        r.ok = True
    assert result_record(reqs, metrics, E2E_UNITS)["correct"] is True


def test_olap_pass_is_a_seeded_shuffle_of_a_fixed_multiset():
    import random
    from collections import Counter

    from olap import load_rows, olap_pass

    names, freq = load_rows()
    a = olap_pass(random.Random(5), names, freq)
    assert a == olap_pass(random.Random(5), names, freq)
    assert a != olap_pass(random.Random(6), names, freq)
    assert Counter(a) == dict(zip(names, freq))
    assert freq == sorted(freq, reverse=True)  # Zipf-shaped: hot rows first

"""Records from different core counts or scale factors are not compared."""

from __future__ import annotations

import json

import report


def _rec(workload, cpus, sf, value):
    return {
        "stamp": {"workload": workload, "seed": 1, "cpus": cpus, "sf": sf},
        "result": {
            "correct": True,
            "attempted": 1,
            "failed": 0,
            "metrics": {"request_p50_s": {"value": value, "unit": "s"}},
        },
    }


def _write(path, recs):
    path.write_text("".join(json.dumps(r) + "\n" for r in recs))
    return str(path)


def test_compare_refuses_other_cpus_or_sf(tmp_path, capsys):
    base = _write(tmp_path / "a.jsonl", [_rec("olap-mix", 4, 0.1, 1.0)])
    cpus = _write(tmp_path / "b.jsonl", [_rec("olap-mix", 8, 0.1, 1.0)])
    sf = _write(tmp_path / "c.jsonl", [_rec("olap-mix", 4, 0.01, 1.0)])
    assert report.main(["compare", base, cpus]) == 2
    assert "cpus differs" in capsys.readouterr().err
    assert report.main(["compare", base, sf]) == 2
    assert "sf differs" in capsys.readouterr().err


def test_compare_flags_a_regression_beyond_the_bound(tmp_path):
    base = _write(tmp_path / "a.jsonl", [_rec("olap-mix", 4, 0.1, v) for v in (1.0, 1.01, 0.99)])
    same = _write(tmp_path / "b.jsonl", [_rec("olap-mix", 4, 0.1, v) for v in (1.02, 1.0, 0.98)])
    slow = _write(tmp_path / "c.jsonl", [_rec("olap-mix", 4, 0.1, v) for v in (2.0, 2.1, 1.9)])
    assert report.main(["compare", base, same]) == 0
    assert report.main(["compare", base, slow]) == 1


def test_table_spread_matches_the_quartile_rule():
    recs = [_rec("olap-mix", 4, 0.1, float(v)) for v in range(1, 11)]
    s = report.table(recs)[("olap-mix", "request_p50_s")]
    assert (s["n"], s["median"], s["q1"], s["q3"]) == (10, 5.5, 2.75, 8.25)
    assert s["spread"] == (8.25 - 2.75) / 5.5

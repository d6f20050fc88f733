"""Run seed sweeps of the benchmark and summarize or compare them.

    python3 perfbench/report.py sweep --workload olap-mix --seeds 1-10 --out runs.jsonl
    python3 perfbench/report.py summary runs.jsonl
    python3 perfbench/report.py compare base.jsonl new.jsonl
    python3 perfbench/report.py overhead untraced.jsonl traced.jsonl

A record is one run: its stamp (workload, seed, cpus, sf, commit, Spark
version, ...) and its result line. ``compare`` and ``overhead`` refuse
records whose cpus or sf differ.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAMP = "# stamp "


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def sweep(args) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    for seed in _seeds(args.seeds):
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(args.trace),
        ]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        stamp = next(
            (json.loads(line[len(STAMP):]) for line in p.stderr.splitlines() if line.startswith(STAMP)),
            None,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or stamp is None or not lines:
            print(f"seed {seed}: run failed ({p.returncode})\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        rec = {"stamp": stamp, "result": json.loads(lines[-1])}
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(f"seed {seed}: {json.dumps(rec['result'])}")
    return 0


def load(paths) -> list[dict]:
    recs = []
    for path in paths:
        with open(path) as f:
            recs += [json.loads(line) for line in f if line.strip()]
    return recs


def table(recs) -> dict:
    """(workload, metric) -> summary over the records' values."""
    vals: dict = {}
    for r in recs:
        for m, v in r["result"]["metrics"].items():
            vals.setdefault((r["stamp"]["workload"], m), []).append(v["value"])
    out = {}
    for key, vs in sorted(vals.items()):
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        out[key] = {
            "n": len(vs),
            "median": statistics.median(vs),
            "q1": q1,
            "q3": q3,
            "spread": stats.spread(vs) if len(vs) > 1 and statistics.median(vs) else 0.0,
        }
    return out


def _same_setting(a, b) -> str:
    for key in ("cpus", "sf"):
        ka = {r["stamp"][key] for r in a}
        kb = {r["stamp"][key] for r in b}
        if len(ka | kb) > 1:
            return f"refusing to compare: {key} differs ({sorted(ka)} vs {sorted(kb)})"
    return ""


def summary(args) -> int:
    recs = load(args.files)
    bounds = _bounds()
    failed = sum(r["result"]["failed"] for r in recs)
    attempted = sum(r["result"]["attempted"] for r in recs)
    print(f"{len(recs)} runs, {attempted} attempted, {failed} failed")
    for (w, m), s in table(recs).items():
        b = bounds.get(m, (None,))[0]
        flag = "" if b is None or s["spread"] <= b / 3 else "  > bound/3"
        print(f"{w:13s} {m:28s} n={s['n']:2d} median={s['median']:.4f} "
              f"q1={s['q1']:.4f} q3={s['q3']:.4f} spread={s['spread']:.3f}{flag}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(
                {f"{w}/{m}": s for (w, m), s in table(recs).items()}, f, indent=1, sort_keys=True
            )
    return 0


def _bounds() -> dict:
    """End-to-end metric name -> (bound, better) from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: (m["bound"], m["better"]) for m in json.load(f)["end_to_end"]}


def compare(args) -> int:
    base, new = load([args.base]), load([args.new])
    why = _same_setting(base, new)
    if why:
        print(why, file=sys.stderr)
        return 2
    tb, tn = table(base), table(new)
    bounds = _bounds()
    worse = 0
    for key in sorted(tb.keys() & tn.keys()):
        w, m = key
        ratio = tn[key]["median"] / tb[key]["median"] if tb[key]["median"] else float("nan")
        verdict = ""
        if m in bounds:
            bound, better = bounds[m]
            change = ratio - 1 if better == "lower" else 1 - ratio
            verdict = "WORSE" if change > bound else "ok"
            worse += verdict == "WORSE"
        print(f"{w:13s} {m:28s} base={tb[key]['median']:.4f} new={tn[key]['median']:.4f} "
              f"ratio={ratio:.3f} {verdict}")
    return 1 if worse else 0


def overhead(args) -> int:
    plain, traced = load([args.untraced]), load([args.traced])
    why = _same_setting(plain, traced)
    if why:
        print(why, file=sys.stderr)
        return 2
    tp, tt = table(plain), table(traced)
    for (w, m), s in tp.items():
        t = tt.get((w, f"traced.{m}"))
        if t:
            print(f"{w:13s} {m:20s} untraced={s['median']:.4f} traced={t['median']:.4f} "
                  f"overhead={t['median'] / s['median'] - 1:+.3f}")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("sweep")
    s.add_argument("--workload", required=True)
    s.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    s.add_argument("--trace", type=int, default=0)
    s.add_argument("--out", required=True)
    s.set_defaults(fn=sweep)
    s = sub.add_parser("summary")
    s.add_argument("files", nargs="+")
    s.add_argument("--json", help="also write the table here")
    s.set_defaults(fn=summary)
    s = sub.add_parser("compare")
    s.add_argument("base")
    s.add_argument("new")
    s.set_defaults(fn=compare)
    s = sub.add_parser("overhead")
    s.add_argument("untraced")
    s.add_argument("traced")
    s.set_defaults(fn=overhead)
    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Collect and compare sets of benchmark runs.

    # ten seeded runs of every workload into a run set
    python3 perfbench/compare.py collect runs/a --seeds 1-10
    # the same with tracing on (per-layer metrics)
    python3 perfbench/compare.py collect runs/a --seeds 1-3 --trace 1
    # two run sets, metric by metric, against BENCHMARK.json's bounds
    python3 perfbench/compare.py diff runs/a runs/b
    # tracing overhead: traced minus untraced end-to-end values
    python3 perfbench/compare.py overhead runs/a

A run set is a directory holding one `<workload>.jsonl` file of result
lines per workload (and `<workload>.trace.jsonl` for traced runs).
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def load(run_set, workload, trace=False):
    p = Path(run_set) / f"{workload}{'.trace' if trace else ''}.jsonl"
    if not p.exists():
        return []
    return [json.loads(ln) for ln in p.read_text().splitlines() if ln.strip()]


def values(runs, metric):
    return [r["metrics"][metric]["value"] for r in runs if metric in r["metrics"]]


def summary(xs):
    """median, first and third quartile, and the spread (q3 - q1) / median."""
    med = statistics.median(xs)
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def collect(a):
    s = spec()
    out = Path(a.run_set)
    out.mkdir(parents=True, exist_ok=True)
    for w in (x["name"] for x in s["workloads"]):
        for seed in seeds(a.seeds):
            cmd = s["command"] + ["--workload", w, "--seed", str(seed),
                                  "--seconds", str(s["run_seconds"]),
                                  "--trace", str(a.trace)]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            if r.returncode != 0 or not last.startswith("{"):
                print(f"{w} seed {seed}: failed with exit code {r.returncode}", file=sys.stderr)
                continue
            with open(out / f"{w}{'.trace' if a.trace else ''}.jsonl", "a") as f:
                f.write(last + "\n")
            res = json.loads(last)
            print(f"{w} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}", file=sys.stderr)


def diff(a):
    s = spec()
    ok_all = True
    print(f"{'workload':16} {'metric':12} {'A median [q1, q3]':>32} {'spread':>6} "
          f"{'B median [q1, q3]':>32} {'spread':>6} {'change':>7} {'bound':>5}  verdict")
    for w in (x["name"] for x in s["workloads"]):
        ra, rb = load(a.a, w), load(a.b, w)
        if not ra or not rb:
            print(f"{w:16} (no runs in {'A' if not ra else 'B'})")
            ok_all = False
            continue
        for m in s["end_to_end"]:
            xa, xb = values(ra, m["name"]), values(rb, m["name"])
            ma, a1, a3, sa = summary(xa)
            mb, b1, b3, sb = summary(xb)
            change = (mb - ma) / ma if ma else 0.0
            worse = change if m["better"] == "lower" else -change
            bound = m["bound"]
            ok = worse <= bound and sa <= bound and sb <= bound
            ok_all &= ok
            print(f"{w:16} {m['name']:12} {ma:10.5g} [{a1:8.5g}, {a3:8.5g}] {sa:6.3f} "
                  f"{mb:10.5g} [{b1:8.5g}, {b3:8.5g}] {sb:6.3f} {change:+7.3f} {bound:5.2f}  "
                  f"{'within' if ok else 'OUTSIDE'}")
    print("all within bounds" if ok_all else "some metrics are outside their bounds")
    return 0 if ok_all else 1


def overhead(a):
    s = spec()
    print(f"{'workload':16} {'metric':12} {'untraced':>12} {'traced':>12} {'overhead':>9}")
    for w in (x["name"] for x in s["workloads"]):
        plain, traced = load(a.run_set, w), load(a.run_set, w, trace=True)
        if not plain or not traced:
            print(f"{w:16} (needs both untraced and traced runs)")
            continue
        for m in ("setup_s", "op_p50_s", "work_per_s"):
            u = statistics.median(values(plain, m))
            t = statistics.median(values(traced, f"traced.{m}"))
            print(f"{w:16} {m:12} {u:12.5g} {t:12.5g} {(t - u) / u if u else 0.0:+9.3f}")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect", help="run the benchmark into a run set")
    c.add_argument("run_set")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    d = sub.add_parser("diff", help="compare two run sets")
    d.add_argument("a")
    d.add_argument("b")
    o = sub.add_parser("overhead", help="traced minus untraced end-to-end values")
    o.add_argument("run_set")
    a = ap.parse_args()
    if a.cmd == "collect":
        collect(a)
        return 0
    return diff(a) if a.cmd == "diff" else overhead(a)


if __name__ == "__main__":
    sys.exit(main())

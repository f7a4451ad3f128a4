#!/usr/bin/env python3
"""Steadiness sets for the benchmark: run each workload once per seed,
keep every run's full report, and summarise each metric's median and
spread (inter-quartile range over median, as statistics.quantiles
gives it).

    python3 perfbench/steady.py run --name set1 --seeds 1-10
    python3 perfbench/steady.py compare set1 set2

Reports land in perfbench/results/<name>/. `compare` checks, for every
end-to-end metric in BENCHMARK.json, that each set's spread stays
within the metric's bound and that the two sets' medians differ by no
more than the bound, in either direction.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else None


def summarise(name):
    d = os.path.join(RESULTS, name)
    by = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(".json") or f == "summary.json":
            continue
        with open(os.path.join(d, f)) as fh:
            r = json.load(fh)
        res = r["result"]
        w = by.setdefault(r["workload"], {"runs": 0, "failed_runs": 0,
                                          "attempted": 0, "failed": 0,
                                          "metrics": {}})
        w["runs"] += 1
        w["failed_runs"] += 0 if res["correct"] else 1
        w["attempted"] += res["attempted"]
        w["failed"] += res["failed"]
        for m, v in res["metrics"].items():
            w["metrics"].setdefault(m, []).append(v["value"])
    summary = {}
    for w, s in by.items():
        ms = {}
        for m, vs in sorted(s["metrics"].items()):
            vs = [v for v in vs if v is not None]
            ms[m] = {"n": len(vs), "median": statistics.median(vs),
                     "spread": spread(vs) if len(vs) >= 2 else None,
                     "values": vs}
        summary[w] = {k: v for k, v in s.items() if k != "metrics"}
        summary[w]["metrics"] = ms
    with open(os.path.join(d, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    return summary


def run(a):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.seconds is None:
        a.seconds = bench["run_seconds"]
    if a.workloads is None:
        a.workloads = ",".join(w["name"] for w in bench["workloads"])
    d = os.path.join(RESULTS, a.name)
    os.makedirs(d, exist_ok=True)
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            rep = os.path.join(d, f"{w}-s{s}.json")
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--report", rep],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            print(f"{w} seed {s}: exit {p.returncode} {line[:200]}", flush=True)
    for w, s in summarise(a.name).items():
        print(f"== {w}: {s['runs']} runs, {s['failed']}/{s['attempted']} "
              f"requests failed, {s['failed_runs']} incorrect runs")
        for m, v in s["metrics"].items():
            sp = "n/a" if v["spread"] is None else f"{v['spread']:.4f}"
            print(f"  {m:36s} median {v['median']:.6g}  spread {sp}")


def compare(a):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    first, second = summarise(a.first), summarise(a.second)
    ok = True
    for w in first:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            v1, v2 = first[w]["metrics"][name], second[w]["metrics"][name]
            worse = ((v2["median"] - v1["median"]) / v1["median"]
                     * (1 if m["better"] == "lower" else -1))
            good = (max(v1["spread"], v2["spread"]) <= bound
                    and abs(worse) <= bound)
            ok &= good
            print(f"{w:16s} {name:16s} bound {bound:.2f}  spreads "
                  f"{v1['spread']:.4f} {v2['spread']:.4f}  median drift "
                  f"{worse:+.4f}  {'ok' if good else 'FAIL'}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--name", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads",
                   help="comma-separated; default: BENCHMARK.json's")
    r.add_argument("--seconds", type=float,
                   help="default: run_seconds from BENCHMARK.json")
    r.add_argument("--trace", type=int, default=0)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args()
    run(a) if a.cmd == "run" else compare(a)


if __name__ == "__main__":
    main()

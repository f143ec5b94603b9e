"""Run every workload and print every metric by name, unit and workload.

    python3 benchmark/report.py [--seeds 1,2,3] [--trace] [--save FILE]
    python3 benchmark/report.py --show benchmark/baseline.json

Each (workload, seed) is one fresh ``run.py`` process, as the
benchmark's contract runs it. For every metric the table gives the
median over seeds, the quartiles, their distance as a share of the
median (the run-to-run spread), and the number of runs; ``failed_frac``
is failed operations over operations attempted, summed over the runs.
``--save`` writes the same figures as JSON (the committed baseline is
``benchmark/baseline.json``).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {p.returncode}")
    return json.loads(lines[-1])


def summarize(results: list[dict]) -> dict:
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for r in results:
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    out = {}
    for name, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med,) * 3
        out[name] = {
            "unit": units[name], "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "runs": len(v),
            "values": v,
        }
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    out["failed_frac"] = {
        "unit": "ratio", "median": failed / attempted, "q1": None, "q3": None,
        "spread": None, "runs": len(results), "attempted": attempted,
        "failed": failed,
    }
    return out


def print_table(report: dict) -> None:
    print(f"{'workload':<16} {'metric':<42} {'unit':<6} {'median':>12} "
          f"{'q1':>12} {'q3':>12} {'spread':>7} {'runs':>4}")
    for workload, metrics in report["workloads"].items():
        for name, m in metrics.items():
            def f(x):
                return f"{x:12.6g}" if x is not None else f"{'-':>12}"
            spread = f"{m['spread']:7.3f}" if m["spread"] is not None else f"{'-':>7}"
            print(f"{workload:<16} {name:<42} {m['unit']:<6} {f(m['median'])} "
                  f"{f(m['q1'])} {f(m['q3'])} {spread} {m['runs']:>4}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1")
    p.add_argument("--workloads", default=None,
                   help="comma-separated (default: all in BENCHMARK.json)")
    p.add_argument("--trace", action="store_true")
    p.add_argument("--save", default=None)
    p.add_argument("--show", default=None)
    args = p.parse_args()
    if args.show:
        with open(args.show) as f:
            print_table(json.load(f))
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    seeds = [int(s) for s in args.seeds.split(",")]
    report = {
        "host": {
            "cores": len(os.sched_getaffinity(0)),
            "machine": platform.machine(),
            "python": platform.python_version(),
        },
        "date": dt.date.today().isoformat(),
        "seeds": seeds,
        "run_seconds": bench["run_seconds"],
        "trace": args.trace,
        "workloads": {},
    }
    for w in workloads:
        results = []
        for s in seeds:
            results.append(run_one(w, s, bench["run_seconds"], args.trace))
            print(f"# {w} seed {s} done", file=sys.stderr, flush=True)
        report["workloads"][w] = summarize(results)
    print_table(report)
    if args.save:
        with open(args.save, "w") as f:
            json.dump(report, f, indent=2)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

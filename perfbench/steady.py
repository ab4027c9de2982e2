"""Steadiness report: is the benchmark steady enough to judge a change?

    python3 perfbench/steady.py --runs 10 --first-seed 100 --out perfbench/results

For every workload, runs ``run.py`` untraced ``--runs`` times, each with
another seed, and reports per end-to-end metric the median, the quartiles
(``statistics.quantiles(n=4)``) and the quartile spread as a share of the
median, against the metric's bound in ``BENCHMARK.json``. It then makes one
long untraced run (``DRIFT_SECONDS``) to report drift between the first
and last timed pass of one session, overall and per operation, and one
traced run whose ``trace.pass_s`` against the untraced median is the
tracing overhead. With ``--out DIR`` it writes ``DIR/steadiness.json``
and copies each traced run's artifact to ``DIR/trace-<workload>.json``.
Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIFT_SECONDS = 30.0


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    # run.py's diagnostic line: pass and per-op walls of this run
    diag = [ln for ln in proc.stderr.splitlines() if ln.startswith('{"workload"')]
    result["diag"] = json.loads(diag[-1]) if diag else {}
    result["wall_s"] = time.perf_counter() - t0
    return result


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def drift(diag: dict) -> dict:
    walls = diag.get("pass_walls", [])
    out = {"passes": len(walls)}
    if len(walls) >= 2:
        out["first_s"], out["last_s"] = walls[0], walls[-1]
        out["last_over_first"] = walls[-1] / walls[0]
        out["ops"] = {op: {"first_s": w[0], "last_s": w[-1], "last_over_first": w[-1] / w[0]}
                      for op, w in diag.get("op_walls", {}).items() if len(w) >= 2}
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--out", default="")
    args = p.parse_args()
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    report = {"runs": args.runs, "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in names:
        runs = [one_run(w, args.first_seed + i, spec["run_seconds"], 0) for i in range(args.runs)]
        rows = {}
        for m in spec["end_to_end"]:
            s = spread([r["metrics"][m["name"]]["value"] for r in runs])
            s["bound"] = m["bound"]
            s["within_third_of_bound"] = s["spread"] < m["bound"] / 3
            rows[m["name"]] = s
        long_run = one_run(w, args.first_seed + args.runs, DRIFT_SECONDS, 0)
        trace_seed = args.first_seed + args.runs + 1
        traced = one_run(w, trace_seed, spec["run_seconds"], 1)
        artifact = os.path.join(ROOT, ".perfbench_out", f"trace-{w}-seed{trace_seed}.json")
        with open(artifact) as f:
            trace_doc = json.load(f)
        if args.out:
            shutil.copy(artifact, os.path.join(args.out, f"trace-{w}.json"))
        untraced_pass = rows["pass_s"]["median"]
        report["workloads"][w] = {
            "metrics": rows,
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "run_wall_s": spread([r["wall_s"] for r in runs]),
            "drift": drift(long_run["diag"]),
            "trace": {k: v["value"] for k, v in traced["metrics"].items()},
            "trace_groups": trace_doc["groups"],
            "trace_ops": trace_doc["ops"],
            "tracing_overhead": traced["metrics"]["trace.pass_s"]["value"] / untraced_pass - 1,
        }
        for name, s in rows.items():
            print(f"{w:10s} {name:12s} median {s['median']:10.4f}  spread {s['spread']:.4f}"
                  f"  bound {s['bound']}  {'ok' if s['within_third_of_bound'] else 'WIDE'}")
        print(f"{w:10s} run wall median {report['workloads'][w]['run_wall_s']['median']:.1f} s, "
              f"tracing overhead {report['workloads'][w]['tracing_overhead']:+.3f}", flush=True)
    # a full evaluation makes 22 runs per workload plus 4 more, all of
    # which must end within 3,420 s
    walls = [r["run_wall_s"]["median"] for r in report["workloads"].values()]
    report["evaluation_time_estimate_s"] = 22 * sum(walls) + 4 * max(walls)
    print(f"estimated evaluation time: {report['evaluation_time_estimate_s']:.0f} s of 3420 s")
    if args.out:
        with open(os.path.join(args.out, "steadiness.json"), "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

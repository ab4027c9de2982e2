"""End-to-end benchmark of the insights_spark engine.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One process is one closed-loop client: it
starts a local Spark session (``local[<cores>]``), stages seeded inputs
under a run-private directory, runs one discarded warm-up pass, then
repeats timed passes over the workload's operations, one after another,
until ``--seconds`` have elapsed (at least one pass). Outputs are checked
once per run, outside the timed passes. The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``, as named in ``BENCHMARK.json``. A traced run also writes its
per-layer numbers, per-op rows and spans to
``.perfbench_out/trace-<workload>-seed<seed>.json``.

Workloads live in ``workloads.py``, inputs in ``inputs.py`` and the layer
split in ``layers.py``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_HEAP = "2g"  # local mode: the driver JVM is the executor; fits a 15 GB box
SETUP_REPS = 3  # input staging repetitions; setup_s takes their median


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark JVM and its
    Python workers), sampled from /proc while ``active`` is set."""

    def __init__(self, period_s: float = 0.05):
        self.period_s = period_s
        self.peak_kb = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_rss_kb(root_pid: int) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            pid = int(name)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * page_kb
        total, todo = 0, list(children.get(root_pid, []))
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period_s):
            if self.active.is_set():
                self.peak_kb = max(self.peak_kb, self._tree_rss_kb(me))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    """Pin the session: heap, run-private dirs, no console progress, and
    for a traced run an uncompressed single-file event log."""
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    # Python workers import insights_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")  # Python workers, DuckDB
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # every JVM file in the run dir, and no hsperfdata file outside it
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("__spark_entry__.py", "insights_spark", os.path.join("tools", "selfcheck.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no insights_spark checkout at {ROOT} (missing {need})")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import layers
    import workloads

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
    spec = workloads.bench_spec()

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        conf = session_conf(run_dir, bool(args.trace))
        from insights_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload]
        try:
            result = run(spark, wl, args, run_dir)
        finally:
            stop_spark(spark)
        if args.trace:
            log = layers.EventLog.find(os.path.join(run_dir, "events"))
            metrics, ops = layers.layer_report(result["spans"], log, result["passes"],
                                               result["pass_walls"], session_s)
            metrics["memory.peak_rss_mb"] = result["peak_rss_mb"]
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "passes": result["passes"], "layers": metrics, "ops": ops,
                           "groups": layers.group_shares(ops, wl.groups),
                           "spans": result["spans"].rows}, f, indent=1)
            wanted = spec["per_layer"]
        else:
            metrics = result["metrics"]
            wanted = spec["end_to_end"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"metrics not produced: {missing}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }), flush=True)
    return 0


def run(spark, wl, args, run_dir: str) -> dict:
    """Stage, warm up, time passes until the deadline, then check outputs."""
    import layers
    from workloads import no_span

    spans = layers.Spans(spark.sparkContext) if args.trace else None
    span = spans.span if spans else no_span

    stage_walls = []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        staged = wl.stage(spark, os.path.join(run_dir, f"in{i}"), args.seed)
        stage_walls.append(time.perf_counter() - t0)
    with span("warmup", op="*", phase="warmup"):
        mismatched, compare_s = wl.warm_and_check(spark, staged)
    # process start → timing begins, with the staging median in place of
    # the repetitions and without the benchmark's own oracle comparisons
    setup_s = (time.perf_counter() - T_PROCESS - sum(stage_walls)
               + statistics.median(stage_walls) - compare_s)

    op_walls: dict[str, list[float]] = {name: [] for name in wl.op_names}
    pass_walls: list[float] = []
    attempted = failed = 0
    deadline = time.perf_counter() + args.seconds
    wrapped = layers.wrap_layers(spans) if spans else contextlib.nullcontext()
    with RssSampler() as rss, wrapped:
        while not pass_walls or time.perf_counter() < deadline:
            wl.before_pass(staged, len(pass_walls))
            rss.active.set()
            t_pass = time.perf_counter()
            for name in wl.op_names:
                attempted += 1
                t_op = time.perf_counter()
                try:
                    wl.run_op(spark, staged, name, span)
                except Exception:  # noqa: BLE001 — counted as failed; the run goes on
                    traceback.print_exc(file=sys.stderr)
                    failed += 1
                    continue
                op_walls[name].append(time.perf_counter() - t_op)
            pass_walls.append(time.perf_counter() - t_pass)
            rss.active.clear()
    with span("check", op="*", phase="check"):
        try:
            mismatched |= wl.check(spark, staged)
        except Exception:  # noqa: BLE001 — an output that cannot be checked is wrong
            traceback.print_exc(file=sys.stderr)
            mismatched |= set(wl.op_names)
    # an op whose output is wrong failed in every pass it completed
    for name in mismatched:
        failed += len(op_walls[name])
    medians = [statistics.median(w) for w in op_walls.values() if w]
    if not medians:
        fail("no operation completed")
    print(json.dumps({"workload": wl.name, "seed": args.seed, "passes": len(pass_walls),
                      "pass_walls": pass_walls, "op_walls": op_walls,
                      "stage_walls": stage_walls, "mismatched": sorted(mismatched)}),
          file=sys.stderr)
    return {
        "metrics": {
            "setup_s": setup_s,
            "pass_s": statistics.median(pass_walls),
            "op_gmean_s": math.exp(statistics.fmean(math.log(m) for m in medians)),
        },
        "attempted": attempted, "failed": failed, "peak_rss_mb": rss.peak_kb / 1024.0,
        "passes": len(pass_walls), "pass_walls": pass_walls, "spans": spans,
    }


if __name__ == "__main__":
    sys.exit(main())

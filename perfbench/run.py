"""Benchmark entry point.  From the root of a checkout:

    python3 perfbench/run.py --workload town_build --seed 1 --seconds 10 --trace 0

Builds its inputs from the seed, sets up, repeats the workload's unit of
work until ``--seconds`` have passed (at least one unit), checks the
answers, and prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1`` the
per-layer ones, and the spans go to ``perfbench/.work/traces/``.  A
human-readable breakdown goes to stderr.  Everything the run writes stays
under ``perfbench/.work/``; the run's own directory there is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("town", "query_suite")
# a traced query_suite run starts no per-query record query after this
RECORD_DEADLINE_S = 100.0
RESULTS = os.path.join(HERE, ".work", "results.jsonl")  # untraced runs, the baseline of a traced run


def tree_rss_bytes(root_pid: int) -> int:
    """Memory of ``root_pid`` and all its descendants, as the sum of their
    proportional set sizes (PSS), so pages a forked Python worker shares
    with its parent count once."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # the process ended while we looked
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) * 1024 for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass
        todo.extend(c for c, p in parent.items() if p == pid)
    return total


class RssSampler(threading.Thread):
    def __init__(self, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._halt.wait(self.period_s)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


def e2e(units: list[dict]) -> dict[str, float]:
    lat = [s for u in units for _, s, _, request in u["ops"] if request]
    return {
        "work_s": statistics.median(u["s"] for u in units),
        "op_p50_ms": 1e3 * statistics.median(lat),
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not all(os.path.isdir(os.path.join(ROOT, d)) for d in ("fifteenmc_spark", "tests")):
        print("perfbench: fifteenmc_spark/ and tests/ must sit next to perfbench/; run from a checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)

    t_start = time.perf_counter()
    sampler = RssSampler()
    sampler.start()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    # The JVM and the Python workers it forks inherit this environment:
    # workers must import fifteenmc_spark from the checkout, and scratch
    # files must stay inside it.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    # every JVM the launcher starts: temp files inside the run directory,
    # and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEM", "1536m")
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

    from fifteenmc_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
        },
    )
    session_start_s = time.perf_counter() - t_start
    try:
        out, record = run(spark, args, work, declared, t_start, session_start_s, sampler)
    finally:
        stop_spark(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    if record is not None:
        trace_dir = os.path.join(HERE, ".work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(f"{trace_dir}/{args.workload}-seed{args.seed}.json", "w") as f:
            json.dump(record, f, indent=1, default=str)
    print(json.dumps(out))
    return 0


def stored_baseline(workload: str, seed: int) -> list[dict]:
    """End-to-end values of the earlier untraced runs of ``workload`` in
    this checkout: those with the same seed if any, else all."""
    try:
        with open(RESULTS) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    except FileNotFoundError:
        return []
    rows = [r for r in rows if r["workload"] == workload]
    same = [r for r in rows if r["seed"] == seed]
    return [r["metrics"] for r in (same or rows)]


def run(spark, args, work, declared, t_start, session_start_s, sampler):
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    trace = bool(args.trace)
    tracer = Tracer(spark)  # inactive: set-up is never traced, so it is identical in both modes
    wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
    wl.setup()
    setup_s = time.perf_counter() - t_start
    if trace:
        wl.instrument()

    units: list[dict] = []

    def run_unit(traced: bool) -> None:
        tracer.active = traced
        u0 = time.perf_counter()
        ops = wl.unit(len(units))
        units.append({"k": len(units), "traced": traced, "s": time.perf_counter() - u0, "ops": ops})
        tracer.active = False

    t0 = time.perf_counter()
    while not units or time.perf_counter() - t0 < args.seconds:
        run_unit(trace)
    baseline = stored_baseline(args.workload, args.seed) if trace else []
    if trace and not baseline:
        # no untraced run of this workload in the checkout yet: compare
        # with one untraced unit run after the traced ones instead
        run_unit(False)
    tracer.restore()
    peak_rss_mb = max(sampler.peak, tree_rss_bytes(os.getpid())) / 2**20

    bad = wl.check()
    errors = {op: err for u in units for op, _, err, _ in u["ops"] if err}
    failed_ops = {**bad, **errors}
    attempted = sum(len(u["ops"]) for u in units)
    failed = len(failed_ops)
    timed = [u for u in units if u["traced"] == trace]
    detail = {"setup_parts_s": wl.setup_parts, "session_start_s": session_start_s, **wl.detail(timed)}
    print(f"perfbench {args.workload} seed={args.seed}: {json.dumps(detail, default=float)}", file=sys.stderr)
    print("perfbench ops: " + " ".join(f"{op}={1e3 * t:.0f}ms" for u in timed for op, t, _, _ in u["ops"]), file=sys.stderr)
    for op, why in sorted(failed_ops.items()):
        print(f"perfbench FAILED {op}: {why}", file=sys.stderr)

    values = {"setup_s": setup_s, **e2e(timed), "peak_rss_mb": peak_rss_mb}
    record = None
    if not trace:
        with open(RESULTS, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed, "metrics": values}) + "\n")
        names = [(m["name"], m["unit"]) for m in declared["end_to_end"]]
    else:
        if baseline:
            base = {k: statistics.median(b[k] for b in baseline) for k in values}
        else:  # set-up is untraced in both modes; RSS is not separable in one process
            base = {**values, **e2e([u for u in units if not u["traced"]])}
        e2e_traced = values
        tracer.collect_spark_counts()
        values = wl.layer_metrics(units)
        values["session.start_s"] = session_start_s
        for layer, s in tracer.layer_self_s().items():
            values[f"{layer}.self_s"] = s
        for key, v in e2e_traced.items():
            values[f"overhead.{key}"] = v - base[key]
        values["overhead.baseline_runs"] = len(baseline)
        values["failed_frac"] = failed / attempted
        names = [(m["name"], m["unit"]) for m in declared["per_layer"]]
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "units": units,
            "failures": failed_ops,
            "detail": detail,
            "end_to_end_traced": e2e_traced,
            "end_to_end_untraced": base,
            "layer_metrics": values,
        }
        if hasattr(wl, "record_all"):
            tracer.active = True
            record["queries_skipped"] = wl.record_all(deadline=t_start + RECORD_DEADLINE_S)
            tracer.active = False
            tracer.collect_spark_counts()
            record["queries"] = wl.per_query("all")
            values.update(wl.setup_layers())
        record["spans"] = tracer.dump()
    missing = [n for n, _ in names if n not in values]
    if missing:
        print(f"perfbench: layers not exercised by {args.workload}, reported as 0: {missing}", file=sys.stderr)
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}, record


if __name__ == "__main__":
    sys.exit(main())

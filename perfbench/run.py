#!/usr/bin/env python3
"""hexscape-spark benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 10 --trace 0

Runs on local[N], N = the CPUs this process may use.  Prints a report line
with the workload's own named metrics, then, as the last line, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


class Runner:
    """Times the operations of one run and keeps their outcomes."""

    def __init__(self, workload, spark, tracer):
        self.workload = workload
        self.spark = spark
        self.tracer = tracer
        self.cycle = 0
        self.ops: list[tuple[str, float, bool, int]] = []

    def span(self, name: str):
        return self.tracer.span(name)

    def probe(self, name: str, fn) -> None:
        """A layer measured by an action of its own; runs only in the
        traced run, outside every operation, its job group and the cycle's
        engine CPU window."""
        if self.tracer.enabled:
            self.tracer.op = f"c{self.cycle}/probe"
            with self.span(name):
                fn()

    def count(self, name: str, value: float) -> None:
        self.tracer.count(name, value)

    def op(self, kind: str, fn, check, tasks_name: str | None = None):
        """One timed operation; returns fn's output, or None if it raised.
        A raise in fn or in check makes it a failed operation."""
        import harness

        op_id = f"c{self.cycle}/{kind}"
        traced = self.tracer.enabled
        self.tracer.op = op_id
        sc = self.spark.sparkContext
        if traced:
            with self.tracer.overhead():
                sc.setJobGroup(op_id, op_id)
        out, ok = None, False
        t0 = time.perf_counter()
        try:
            with self.span(f"{self.workload.name}.{kind}"):
                out = fn()
            dt = time.perf_counter() - t0
            check(out)
            ok = True
        except Exception:
            dt = time.perf_counter() - t0
            log(f"operation {op_id} failed")
            traceback.print_exc()
        if traced:
            with self.tracer.overhead():
                sc.setJobGroup(None, None)
                n = harness.tasks_in_group(self.spark, op_id)
            self.count("spark.tasks", n)
            if tasks_name:
                self.count(tasks_name, n)
        self.ops.append((kind, dt, ok, self.cycle))
        return out

    def latencies(self) -> dict[str, list[float]]:
        """Latencies of the successful operations, by kind."""
        lat: dict[str, list[float]] = {}
        for kind, dt, ok, _ in self.ops:
            if ok:
                lat.setdefault(kind, []).append(dt)
        return lat

    def cycle_seconds(self) -> list[float]:
        """Per cycle, the summed latency of its operations."""
        per: dict[int, float] = {}
        for _, dt, ok, cycle in self.ops:
            per[cycle] = per.get(cycle, 0.0) + dt
        return list(per.values())


def _prepare(args, key: str) -> str:
    """Inputs for (workload, size, seed), built in a child process on first
    use so the measured process never holds the generator's memory."""
    import inputs

    path = os.path.join(inputs.CACHE, key)
    if not os.path.exists(os.path.join(path, inputs.DONE)):
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", args.workload, "--seed", str(args.seed),
                        "--size", args.size, "--prepare"],
                       check=True, timeout=600, stdout=sys.stderr)
    return path


def _named_metrics(wl, runner, setup_s, peak) -> dict:
    """Every end-to-end metric this run can state: BENCHMARK.json's, and
    the workload's own."""
    import harness

    lat = runner.latencies()
    failed = sum(not ok for *_, ok, _ in runner.ops)
    return {
        "setup_s": (setup_s, "s"),
        "cycle_s": (harness.median(runner.cycle_seconds()), "s"),
        "op_geomean_s": (math.exp(sum(math.log(harness.median(v))
                                      for v in lat.values()) / len(lat))
                         if lat else 0.0, "s"),
        "py_peak_rss_mb": (peak["python"], "MB"),
        "peak_rss_mb": (peak["total"], "MB"),
        "jvm_peak_rss_mb": (peak["jvm"], "MB"),
        "op_failure_rate": (failed / len(runner.ops), "1"),
        **wl.report(lat)}


def run(args) -> dict:
    import bench
    import harness
    import inputs
    import reduce
    import workloads

    wl = workloads.WORKLOADS[args.workload](args.size)
    key = inputs.cache_key(wl.name, args.size, args.seed, wl.SIZES[args.size])
    if args.prepare:
        inputs.cached(inputs.CACHE, key,
                      lambda d: wl.prepare(d, args.seed, WORK))
        return {}
    wl.load(_prepare(args, key), args.seed)
    log("inputs ready")

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tracer = harness.Tracer(enabled=bool(args.trace))
    rss = harness.PeakRss()
    rss.start()
    spark = None
    try:
        # one set-up: JVM launch, session, warm-up
        t0 = time.perf_counter()
        spark = harness.new_session(WORK)
        wl.setup(spark, run_dir)
        setup_s = time.perf_counter() - t0
        log(f"setup: {setup_s:.2f}s")

        runner = Runner(wl, spark, tracer)
        meter = bench._PassLoadMeter()
        meter.start()
        t_start = time.perf_counter()
        jvm = harness.jvm_pid()
        with (workloads.traced_checkpoint(tracer) if tracer.enabled
              else contextlib.nullcontext()):
            while True:
                tracer.cycle = runner.cycle
                if tracer.enabled:
                    with tracer.overhead():
                        jvm0, py0 = harness.engine_cpu_s(jvm)
                wl.cycle(runner)
                if tracer.enabled:
                    with tracer.overhead():
                        jvm1, py1 = harness.engine_cpu_s(jvm)
                    tracer.count("spark.jvm_cpu_s", jvm1 - jvm0)
                    tracer.count("spark.pyworker_cpu_s", py1 - py0)
                    with tracer.overhead():
                        wl.probes(runner)
                log(f"cycle {runner.cycle} done")
                runner.cycle += 1
                if (time.perf_counter() - t_start >= args.seconds
                        and runner.cycle >= wl.MIN_CYCLES):
                    break
        external = meter.stop()
        steal = meter.steal_cores
    finally:
        peak = rss.stop()
        if spark is not None:
            harness.shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    log("stopped")

    named = _named_metrics(wl, runner, setup_s, peak)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        catalogue = json.load(f)
    report = {"workload": wl.name, "seed": args.seed, "size": args.size,
              "cores": harness.cores(), "traced": tracer.enabled,
              "cycles": runner.cycle,
              "op_order": [k for k, *_, c in runner.ops if c == 0],
              "external_cores": external,
              "steal_cores": steal,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in named.items()},
              "latencies_s": runner.latencies()}
    if tracer.enabled:
        path = os.path.join(WORK, "traces", f"{key}-{os.getpid()}.json")
        tracer.write(path, {"workload": wl.name, "seed": args.seed,
                            "cores": harness.cores()})
        report["trace_file"] = os.path.relpath(path, ROOT)
        layers = reduce.reduce_trace({"spans": tracer.spans,
                                      "counters": tracer.counters})
        layers.update({"spark.jvm_peak_rss_mb": peak["jvm"],
                       "python.peak_rss_mb": peak["python"],
                       "load.external_cores": external,
                       "load.steal_cores": steal})
        # a layer the workload never enters reads 0
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0),
                               "unit": m["unit"]}
                   for m in catalogue["per_layer"]}
    else:
        metrics = {m["name"]: {"value": named[m["name"]][0], "unit": m["unit"]}
                   for m in catalogue["end_to_end"]}
    print(json.dumps({"perfbench_report": report}))
    failed = sum(not ok for *_, ok, _ in runner.ops)
    return {"correct": failed == 0, "attempted": len(runner.ops),
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["pipelines", "query-mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full",
                    help="input sizes; smoke is for the benchmark's own test")
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import bench  # noqa: F401  (the external-load meter)
        import __spark_entry__  # noqa: F401
        import hexscape_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    result = run(args)
    if not args.prepare:
        print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

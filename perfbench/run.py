#!/usr/bin/env python3
"""kgflow benchmark: one closed-loop client, one job at a time, in one
local-mode Spark process.

    python3 perfbench/run.py --workload kg_vocab --seed 1 --seconds 10 --trace 0

Run from the root of a kgflow checkout.  Workloads (perfbench/README.md):

  kg_vocab    alias-bound pipeline build (small files, large Zipf vocabulary)
  query_mix   8 analytics rows over seeded TPC-H-ish tables
  kg_decode   decode-bound pipeline build (large files, tiny vocabulary);
              not in BENCHMARK.json, its runs take too long for the
              time a full set of benchmark runs may take

Inputs are generated from --seed (cached per workload and seed under
.perfbench/, never timed).  With --trace 0 the run reports the end-to-end
metrics, measured with tracing off; with --trace 1 it then makes a resume,
one untraced and one traced run, and reports the per-layer metrics
instead.  Every operation and correctness check counts in ``attempted``;
each failure counts in ``failed``.  The last stdout line is the JSON
result; the line before it is a JSON report with the raw samples, the
host-noise window and every failure.  ``--corrupt golden|oracle``
damages the expected results to prove that the checks can fail.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import threading
import time
import traceback

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("kg_decode", "kg_vocab", "query_mix")
# local mode is the only JVM: its heap is the memory knob, sized to fit
# a 15 GB host next to other tenants (kgflow.session defaults to 64g)
DRIVER_MEM = "3g"
SETUPS = 3


def _metric_units(section: str) -> dict:
    """name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


class Ledger:
    """Counts every attempted operation and check, and every failure."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []
        self._lock = threading.Lock()

    def attempt(self, label: str, fn):
        with self._lock:
            self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # a failed run is counted, not fatal
            tb = traceback.format_exception_only(type(exc), exc)[-1].strip()
            with self._lock:
                self.failures.append(f"{label}: {tb[:400]}")
            return None

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failures.append(f"{label}: {detail}")


def _start_spark():
    from kgflow.session import get_spark

    return get_spark(
        "perfbench",
        cores=int(os.environ["SPARK_GRAFT_CPUS"]),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        },
    )


def _stop_spark() -> None:
    """Stop the session, if any, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", choices=("golden", "oracle"), default=None)
    args = ap.parse_args(argv)
    started = time.monotonic()
    # a terminated run still stops the JVM it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "kgflow", "pipeline.py")):
        print(f"perfbench: no kgflow package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    for sub in ("tmp", "spark-local", "inputs", "runs"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["KGFLOW_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    from kgflow.audit import CpuAudit

    if args.workload == "query_mix":
        import mix as bench
    else:
        import kg as bench

    ledger = Ledger()
    setups: list[float] = []
    spark = None
    try:
        inputs = bench.prepare(args.workload, args.seed, os.path.join(WORK, "inputs"))
        if args.corrupt:
            inputs["corrupt"] = args.corrupt
        audit = CpuAudit.start()
        for _ in range(SETUPS):
            t0 = time.monotonic()
            if spark is not None:
                spark.stop()
            spark = _start_spark()
            spark.range(1).count()
            setups.append(time.monotonic() - t0)
        work_dir = os.path.join(WORK, "runs", args.workload)
        w = bench.Workload(args.workload, spark, inputs, work_dir, ledger)
        extra_setup = w.setup()
        setups = [s + extra_setup for s in setups]

        w.measure(args.seconds)
        e2e = w.end_to_end()
        e2e["setup_s"] = statistics.median(setups)
        peak_rss_mb = procs.peak_rss_mb()
        layers = w.traced_run() if args.trace else {}
        window = audit.stop()
    finally:
        # the JVM's Python workers outlive it by a moment: wait for them too
        children = procs.descendants()
        _stop_spark()
        procs.wait_ended(children)
    if args.trace:
        # a per-layer figure: a JVM's resident peak follows its heap
        # growth, which varies too much between runs for a bound
        layers["peak_rss_mb"] = peak_rss_mb
        layers["session.start_s"] = setups[0] - extra_setup
        layers["host.steal_pct"] = window.steal_pct
        layers["host.iowait_pct"] = window.iowait_pct
        layers["host.other_busy_pct"] = window.other_busy_pct

    failed = len(ledger.failures)
    attempted = max(ledger.attempted, 1)
    layers["error_rate"] = failed / attempted
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]), "driver_mem": DRIVER_MEM,
        "inputs": {k: v for k, v in inputs.items() if isinstance(v, (int, float, str))},
        "setup_samples_s": setups, "peak_rss_mb": peak_rss_mb, "samples": w.samples(),
        "host": {"steal_pct": window.steal_pct, "iowait_pct": window.iowait_pct,
                 "other_busy_pct": window.other_busy_pct, "load1": window.load1,
                 "own_cpu_s": window.own_cpu_s,
                 "contaminated": window.contaminated()},
        "failures": ledger.failures, "run_s": time.monotonic() - started,
    }
    if args.trace:
        report["per_layer"] = layers
    print(json.dumps(report))
    # the measured run's wall and rate are per-layer figures: see
    # perfbench/README.md on the host's steal
    values = {**e2e, **layers} if args.trace else e2e
    metrics = {name: {"value": float(values.get(name, 0.0) or 0.0), "unit": unit}
               for name, unit in _metric_units("per_layer" if args.trace
                                               else "end_to_end").items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

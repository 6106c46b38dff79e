"""The measured process: one fresh Python interpreter and one fresh JVM
per run.  Prints one JSON line for the parent (``run.py``) and stops
every process it started before it exits."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np

from perfbench import harness
from perfbench.ledger import NullLedger, StageLedger, summarize
from perfbench.workloads import LAYERS, WORKLOADS, Ctx


def all_layers() -> list[str]:
    """Every traced ``<module>.<op>``, each once, in first-use order."""
    out: list[str] = []
    for ops in LAYERS.values():
        out += [op for op in ops if op not in out]
    return out


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        # a later session in this interpreter launches a new JVM
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def execute(workload: str, seed: int, seconds: float, trace: bool, t0: float,
            sizes=None, work: str | None = None) -> dict:
    """Run one workload in this process and return what it measured."""
    run = harness.Run(t0)
    cores = harness.spark_cores()
    work = work or os.path.join(harness.WORK, f"{workload}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    make_inputs, body, default_sizes = WORKLOADS[workload]
    sizes = sizes or default_sizes
    rng = np.random.default_rng(seed)
    # inputs first, then the JVM: PySpark forks the JVM launcher with a
    # preexec_fn, which can deadlock if another thread is inside numpy
    inputs = make_inputs(rng, sizes, work)
    run.mark("inputs")
    spark = harness.build_spark(cores)
    run.mark("spark_session")
    try:
        ledger = StageLedger(spark) if trace else NullLedger()
        ctx = Ctx(spark=spark, rng=rng, run=run, ledger=ledger,
                  seconds=seconds, work=work)
        e2e = body(ctx, sizes, inputs)
        run.mark("workload")
        e2e["setup_s"] = run.setup_s
        e2e["ok_rate"] = (run.attempted - run.failed) / max(1, run.attempted)
        layers = {}
        if trace:
            layers = summarize(ledger.calls, all_layers())
            layers.setdefault("index_store.save.files_written", 0.0)
            layers.update(ledger.cache_state())
        return {
            "e2e": e2e,
            "layers": layers,
            "calls": ledger.calls,
            "attempted": run.attempted,
            "failed": run.failed,
            "notes": run.notes[:20],
            "info": {
                **run.info,
                "workload": workload, "seed": seed, "seconds": seconds,
                "cores": cores, "driver_memory": harness.DRIVER_MEMORY,
                "cpu": _cpu_model(), "digest": "-".join(run.digests),
            },
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def child_main(workload: str, seed: int, seconds: int, trace: int, t0: float) -> int:
    res = execute(workload, seed, float(seconds), bool(trace), t0)
    sys.stdout.write(json.dumps(res) + "\n")
    sys.stdout.flush()
    return 0

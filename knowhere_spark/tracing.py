"""Search/build tracing-metrics parity.

The reference wraps every index verb in a tracing span carrying the op's
config attributes (src/index/index.cc:131-162: ``Build``/``Search``/
``RangeSearch`` open ``tracer`` spans tagged with the json config, and
per-op counters ride the span).  Spark's native analog has two halves,
both used here:

- **Job description** (``sc.setJobDescription``): every job the op
  triggers shows the op label in the UI / event log / REST API.  Spark
  evaluation is lazy, so the label follows the *thread*: the op sets it
  at plan time, the consuming action inherits it, and the next op
  overwrites it — a span stack of depth 1 per thread, which matches the
  reference's one-active-span-per-call shape.
- **Metrics dict** (``index.last_metrics``): plan-time attributes
  (k/nprobe/strategy/...), per-stage driver wall, and LIVE Spark
  accumulators for distributed counters (rows scanned inside Arrow
  kernels).  Accumulators finalize only after the lazy result is
  consumed — ``OpMetrics.snapshot()`` resolves them at read time, the
  honest point to read a distributed counter.  Counters are cumulative
  per index instance across re-consumptions of the same plan (Spark
  re-fires kernels on recompute) — compare deltas, not absolutes, when
  consuming twice.
"""

from __future__ import annotations

import contextlib
import threading
import time

_tls = threading.local()


@contextlib.contextmanager
def suppress_job_description():
    """Worker threads that submit concurrent Spark jobs (the sharded
    wave executor) must NOT call ``sc.setJobDescription``: under py4j's
    default non-pinned thread mode, JVM thread-local properties are not
    reliably per-Python-thread, so concurrent labels cross-talk and a
    caller's job-group / cancellation properties can leak between wave
    threads.  Inside this context :func:`op_description` skips the JVM
    call and only returns the label string (the metrics-dict half of the
    span keeps working)."""
    prev = getattr(_tls, "suppress", False)
    _tls.suppress = True
    try:
        yield
    finally:
        _tls.suppress = prev


def op_description(sc, op: str, **attrs) -> str:
    """Label subsequent jobs on this thread with ``knowhere:<op> k=v ...``
    (the span-open analog).  Returns the label for the metrics dict."""
    desc = f"knowhere:{op}"
    if attrs:
        desc += " " + " ".join(f"{k}={v}" for k, v in sorted(attrs.items()))
    if not getattr(_tls, "suppress", False):
        sc.setJobDescription(desc)
    return desc


class OpMetrics(dict):
    """Per-op metrics: plain values at plan time, Spark accumulators for
    kernel-side counters.  ``snapshot()`` returns a plain dict with the
    accumulators resolved to their current values."""

    def snapshot(self) -> dict:
        return _resolve(dict(self))


def _resolve(val):
    """``val`` with every accumulator (also inside nested dicts such as
    ``stages``) replaced by its current value."""
    if hasattr(val, "value") and hasattr(val, "add"):   # Accumulator
        return val.value
    if isinstance(val, dict):
        return {key: _resolve(v) for key, v in val.items()}
    return val


class StageTimer:
    """Driver-side per-stage wall clock: ``with timer.stage("train"): ...``
    accumulates into ``metrics["stages"]``."""

    def __init__(self, metrics: OpMetrics):
        self.metrics = metrics
        metrics.setdefault("stages", {})

    def stage(self, name: str):
        timer = self

        class _Span:
            def __enter__(self_inner):
                self_inner.t0 = time.monotonic()
                return self_inner

            def __exit__(self_inner, *exc):
                dt = time.monotonic() - self_inner.t0
                stages = timer.metrics["stages"]
                stages[name] = round(stages.get(name, 0.0) + dt, 6)
                return False

        return _Span()

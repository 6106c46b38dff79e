"""Benchmark entry point.

    python3 perfbench/run.py --workload ann_serve --seed 1 --seconds 12 --trace 0

Runs one workload in a fresh child process (fresh Python, fresh JVM) and
prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer stage ledger with
``--trace 1``.  The line before it, prefixed ``# info``, carries the
result digest, load average, CPU steal and other facts that explain a run.

``--ledger-out PATH`` runs the workload twice with the same seed,
untraced and traced, and writes both plus the tracing overhead to PATH.

Before starting, the parent waits (bounded) until no Spark JVM or Python
worker of an earlier run is alive; while the child runs it samples the
memory (PSS) of the child's whole process tree; afterwards it waits
for every process the child started to end.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the child is killed, and the run fails, after this long
CHILD_TIMEOUT_S = 165.0
#: how long to wait for leftovers of an earlier run to exit
QUIESCE_TIMEOUT_S = 20.0
_SPARK_MARKERS = ("org.apache.spark.deploy.SparkSubmit", "pyspark.daemon",
                  "pyspark/daemon.py", "pyspark.worker")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- /proc readers --------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between processes (a forked
    Python worker and its daemon, a JVM mid-fork) count once in a sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode(errors="replace")
    except OSError:
        return ""


def _by_kind(mem_kb: dict[int, int]) -> dict:
    """Memory in MB and process count per kind: JVM, Python worker, other."""
    out: dict = {}
    for pid, kb in mem_kb.items():
        cmd = _cmdline(pid)
        kind = ("jvm" if "java" in cmd else
                "py_worker" if "pyspark" in cmd else "driver")
        mb, n = out.get(kind, (0.0, 0))
        out[kind] = (round(mb + kb / 1024.0, 1), n + 1)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _spark_leftovers() -> list[int]:
    me = os.getpid()
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        cmd = _cmdline(int(name))
        if any(m in cmd for m in _SPARK_MARKERS) and _alive(int(name)):
            found.append(int(name))
    return found


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# -- parent -------------------------------------------------------------------------

class MemorySampler(threading.Thread):
    """Peak summed PSS of a process tree, and every pid seen in it."""

    def __init__(self, pid: int, every_s: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.every_s = pid, every_s
        self.peak_kb = 0
        self.peak_parts: dict = {}      # the peak, split by process kind
        self.seen: set[int] = set()
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            pids = _tree(self.pid)
            self.seen.update(pids)
            mem = {p: _pss_kb(p) for p in pids}
            total = sum(mem.values())
            if total > self.peak_kb:
                self.peak_kb = total
                self.peak_parts = _by_kind(mem)
            self._halt.wait(self.every_s)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _reap(pids: set[int], timeout_s: float) -> list[int]:
    """Wait for ``pids`` to exit; kill the ones that outlive the timeout."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        left = [p for p in pids if _alive(p)]
        if not left:
            return []
        time.sleep(0.2)
    left = [p for p in pids if _alive(p)]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    time.sleep(0.5)
    return left


def run_child(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict | None, dict]:
    """Run one workload in a fresh process; ``(child_result, env_facts)``."""
    t_wait = time.time()
    leftovers = _spark_leftovers()
    while leftovers and time.time() - t_wait < QUIESCE_TIMEOUT_S:
        time.sleep(0.5)
        leftovers = _spark_leftovers()
    facts = {
        "quiesce_wait_s": round(time.time() - t_wait, 3),
        "leftover_spark_processes": len(leftovers),
        "loadavg1_start": _loadavg1(),
    }
    cpu0 = _cpu_times()
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    # temp files of the child, both JVMs spark-submit starts and the Python
    # workers stay inside the checkout
    tmp = os.path.join(ROOT, ".perfbench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    # Spark's scratch directory; the variable outranks spark.local.dir
    env["SPARK_LOCAL_DIRS"] = os.path.join(ROOT, ".perfbench_work", "spark-local")
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
    )))
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--child",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--t0", repr(time.time())]
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             stderr=None, text=True)
    sampler = MemorySampler(child.pid)
    sampler.start()
    try:
        out, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        for p in _tree(child.pid):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        out, _ = child.communicate()
        facts["timed_out"] = True
    sampler.stop()
    facts["killed_leftovers"] = len(_reap(sampler.seen - {child.pid}, 20.0))
    cpu1 = _cpu_times()
    total = sum(cpu1) - sum(cpu0)
    facts["steal_pct"] = round(100.0 * (cpu1[7] - cpu0[7]) / total, 3) if total else 0.0
    facts["loadavg1_end"] = _loadavg1()
    facts["peak_rss_mb"] = sampler.peak_kb / 1024.0
    facts["peak_rss_parts"] = sampler.peak_parts
    if child.returncode != 0 or facts.get("timed_out"):
        return None, facts
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    return (json.loads(lines[-1]) if lines else None), facts


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ledger-out")
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--t0", type=float, help=argparse.SUPPRESS)
    a = ap.parse_args(argv)
    if a.child:
        sys.path.insert(0, ROOT)
        from perfbench.child import child_main

        return child_main(a.workload, a.seed, a.seconds, a.trace, a.t0)

    if not os.path.isdir(os.path.join(ROOT, "knowhere_spark")):
        print("perfbench: the engine (knowhere_spark/) is not next to the "
              "benchmark; run from a checkout of the repository", file=sys.stderr)
        return 2
    spec = _load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        print(f"perfbench: unknown workload {a.workload!r}; one of {names}",
              file=sys.stderr)
        return 2
    if a.ledger_out:
        return write_ledger(spec, a.workload, a.seed, a.seconds, a.ledger_out)

    res, facts = run_child(a.workload, a.seed, a.seconds, a.trace)
    if res is None:
        print(f"perfbench: workload failed: {json.dumps(facts)}", file=sys.stderr)
        return 1
    try:
        out = format_result(spec, res, facts, a.trace)
    except KeyError as e:
        print(f"perfbench: metric not produced: {e}", file=sys.stderr)
        return 1
    print("# info " + json.dumps({**res["info"], **facts, "notes": res["notes"]}))
    print(json.dumps(out))
    return 0


def format_result(spec: dict, res: dict, facts: dict, trace: int) -> dict:
    """The result line: every end-to-end metric (``trace=0``) or every
    per-layer metric (``trace=1``) named in BENCHMARK.json, with its unit.
    Raises ``KeyError`` naming a metric the run did not produce."""
    if trace:
        metrics, wanted = res["layers"], spec["per_layer"]
    else:
        metrics = {**res["e2e"], "peak_rss_mb": facts["peak_rss_mb"]}
        wanted = spec["end_to_end"]
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }


def write_ledger(spec: dict, workload: str, seed: int, seconds: int, path: str) -> int:
    """Untraced and traced run of one seed, with the tracing overhead."""
    plain, f_plain = run_child(workload, seed, seconds, 0)
    traced, f_traced = run_child(workload, seed, seconds, 1)
    if plain is None or traced is None:
        print("perfbench: ledger run failed", file=sys.stderr)
        return 1
    plain["e2e"]["peak_rss_mb"] = f_plain["peak_rss_mb"]
    traced["e2e"]["peak_rss_mb"] = f_traced["peak_rss_mb"]
    overhead = {
        m: traced["e2e"][m] / plain["e2e"][m]
        for m in plain["e2e"] if plain["e2e"][m]
    }
    with open(path, "w") as f:
        json.dump({
            "workload": workload, "seed": seed, "seconds": seconds,
            "cores": traced["info"].get("cores"),
            "cpu": traced["info"].get("cpu"),
            "untraced": {"e2e": plain["e2e"], "info": plain["info"], "env": f_plain},
            "traced": {"e2e": traced["e2e"], "info": traced["info"], "env": f_traced},
            "overhead_traced_over_untraced": overhead,
            "digest_equal": plain["info"]["digest"] == traced["info"]["digest"],
            "per_layer": traced["layers"],
            "calls": traced["calls"],
        }, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Shared pieces of the benchmark: the Spark session, exact ground truth,
correctness checks, result digests and the metric arithmetic.

Nothing here imports the engine; the checks compare engine output with
numpy references computed from the generated inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from statistics import median

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: scratch space for generated inputs, saved indexes and Spark temp files
WORK = os.path.join(ROOT, ".perfbench_work")
#: fixed JVM heap for the driver (local mode runs executors in it)
DRIVER_MEMORY = "2g"


def spark_cores() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else every usable core; never more
    than the cores this process may run on."""
    usable = len(os.sched_getaffinity(0))
    want = int(os.environ.get("SPARK_GRAFT_CPUS") or usable)
    return max(1, min(want, usable))


def build_spark(cores: int):
    """A fresh local session with every setting that moves timings pinned."""
    env_path = os.environ.get("PYTHONPATH", "")
    if ROOT not in env_path.split(os.pathsep):
        # Python workers import the engine too
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env_path) if p)
    from pyspark.sql import SparkSession

    local_dir = os.path.join(WORK, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Dderby.system.home={WORK}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- exact references ---------------------------------------------------------

def l2_sq(Q: np.ndarray, X: np.ndarray) -> np.ndarray:
    """Squared L2 distances ``(len(Q), len(X))`` in float64."""
    Q = Q.astype(np.float64)
    X = X.astype(np.float64)
    d = (Q * Q).sum(1)[:, None] + (X * X).sum(1)[None, :] - 2.0 * (Q @ X.T)
    return np.maximum(d, 0.0)


def exact_topk(Q: np.ndarray, X: np.ndarray, ids: np.ndarray, k: int,
               block: int = 256) -> np.ndarray:
    """Exact top-``k`` neighbour ids per query row, ties by id."""
    out = np.empty((len(Q), k), dtype=np.int64)
    for s in range(0, len(Q), block):
        d = l2_sq(Q[s:s + block], X)
        part = np.argpartition(d, k - 1, axis=1)[:, :k]
        for i, row in enumerate(part):
            order = np.lexsort((ids[row], d[i, row]))
            out[s + i] = ids[row[order]]
    return out


# -- correctness --------------------------------------------------------------

class Corpus:
    """Current vectors by id, for recomputing reported distances."""

    def __init__(self, ids: np.ndarray, X: np.ndarray):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.X = np.asarray(X, dtype=np.float32)
        self.row = {int(i): r for r, i in enumerate(self.ids)}

    def extend(self, ids: np.ndarray, X: np.ndarray) -> None:
        base = len(self.ids)
        self.ids = np.concatenate([self.ids, ids.astype(np.int64)])
        self.X = np.concatenate([self.X, X.astype(np.float32)])
        self.row.update({int(i): base + r for r, i in enumerate(ids)})


def group_knn(qid: np.ndarray, nid: np.ndarray, dist: np.ndarray) -> dict:
    """``query_id → [(neighbor_id, distance), ...]`` sorted by distance."""
    out: dict[int, list] = {}
    for q, n, d in zip(qid.tolist(), nid.tolist(), dist.tolist()):
        out.setdefault(q, []).append((n, d))
    for v in out.values():
        v.sort(key=lambda t: (t[1], t[0]))
    return out


def check_knn(res: dict, qids: np.ndarray, Q: np.ndarray, gt: np.ndarray,
              corpus: Corpus, k: int, *, rtol: float,
              min_recall: float) -> tuple[bool, float, str]:
    """Checks one search batch; returns ``(ok, recall, reason)``.

    Every query must come back with ``k`` distinct ids of live rows; each
    reported distance must match the squared L2 distance the harness
    recomputes for that id within ``rtol``; and the batch's recall against
    the exact top-``k`` ``gt`` must reach ``min_recall``."""
    hits = 0
    for i, q in enumerate(qids.tolist()):
        got = res.get(q, [])
        nids = [n for n, _ in got]
        if len(nids) != k or len(set(nids)) != k:
            return False, 0.0, f"query {q}: {len(nids)} results, want {k} distinct"
        rows = [corpus.row.get(n) for n in nids]
        if any(r is None for r in rows):
            return False, 0.0, f"query {q}: id not in corpus"
        exact = l2_sq(Q[i:i + 1], corpus.X[rows])[0]
        rep = np.array([d for _, d in got], dtype=np.float64)
        if np.any(np.abs(rep - exact) > rtol * np.maximum(exact, 1.0)):
            return False, 0.0, f"query {q}: reported distance disagrees with its id"
        hits += len(set(nids) & set(gt[i].tolist()))
    recall = hits / (k * len(qids))
    if recall < min_recall:
        return False, recall, f"recall {recall:.3f} below {min_recall}"
    return True, recall, ""


def expected_found(res: dict, expected: dict[int, int]) -> tuple[int, int]:
    """``(found, total)`` over ``query → id`` pairs whose id the query's
    results list: a planted copy found by its source, an added row
    finding itself."""
    found = sum(1 for q, i in expected.items()
                if i in {n for n, _ in res.get(q, [])})
    return found, len(expected)


def digest_rows(*cols) -> str:
    """Order-independent digest of result rows given as parallel arrays."""
    rows = sorted(zip(*(np.asarray(c).tolist() for c in cols)))
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()[:16]


# -- bookkeeping --------------------------------------------------------------

class Run:
    """Everything one benchmark run measured."""

    def __init__(self, t0: float):
        self.t0 = t0                     # wall clock at process spawn
        self.t_first_op: float | None = None
        self.ops: list[dict] = []        # timed-phase ops
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.info: dict = {}
        self.digests: list[str] = []

    def mark(self, phase: str) -> None:
        """Record when a phase ended, in seconds since process spawn."""
        self.info.setdefault("phase_end_s", {})[phase] = round(time.time() - self.t0, 3)

    def start_timed(self) -> None:
        if self.t_first_op is None:
            self.t_first_op = time.time()
            self.mark("setup")

    def record(self, op: str, ms: float) -> float:
        """Keep one op latency for the ``# info`` line; returns ``ms``."""
        self.info.setdefault("op_ms", {}).setdefault(op, []).append(round(ms, 1))
        return ms

    def check(self, ok: bool, what: str, reason: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"{what}: {reason}")
        return ok

    @property
    def setup_s(self) -> float:
        return (self.t_first_op or time.time()) - self.t0


def timed(fn):
    """``(result, milliseconds)`` of one call."""
    t = time.perf_counter()
    out = fn()
    return out, (time.perf_counter() - t) * 1000.0


def slowest_median(by_kind: dict[str, list[float]]) -> tuple[float, str]:
    """Median latency of the op kind whose median is highest:
    ``(value, kind)``.  A run holds a few samples of each kind, too few
    for a high percentile; the slowest kind's median is the latency its
    callers see on a typical call."""
    kind = max(by_kind, key=lambda k: median(by_kind[k]))
    return median(by_kind[kind]), kind

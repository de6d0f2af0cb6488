"""Sample summaries and Spark job accounting.

Every timing is summarised as its median, a named percentile and the
sample count; :func:`summary` also says how many samples lie beyond
that percentile, so a tail read from too few samples is visible.

:func:`spark_ops` reads Spark's status store through the py4j gateway
(no listener jar, no UI) and sums job, stage and task metrics per
benchmark operation, using the job group that ``Tracer.op`` sets.
"""

from __future__ import annotations

import math
from typing import Dict, List, Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summary(values: Sequence[float], q: float) -> Dict:
    n = len(values)
    return {
        "median": percentile(values, 50),
        f"p{q:g}": percentile(values, q),
        "n": n,
        "beyond": int(n * (100 - q) / 100),
    }


def median(values: Sequence[float]) -> float:
    return percentile(values, 50)


def tail(values: Sequence[float]) -> float:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples
    beyond it (the median when there are fewer than forty samples)."""
    n = len(values)
    q = next((q for q in (99, 95, 90, 75) if n * (100 - q) / 100 >= 10), 50)
    return percentile(values, q)


# -- Spark status store ------------------------------------------------------

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "exec_cpu_s", "exec_run_s", "input_bytes",
    "shuffle_write_bytes", "spill_bytes", "gc_s",
)


def _seq(s) -> List:
    return [s.apply(i) for i in range(s.length())]


def spark_ops(sc) -> Dict[str, Dict[str, float]]:
    """Totals per op kind over every job tagged ``"<kind>:<id>"``, plus
    ``ops``: the number of distinct op ids that launched jobs."""
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = {}
    for s in _seq(store.stageList(None, False, False, empty, None)):
        if s.status().toString() in ("COMPLETE", "FAILED"):
            stages[(s.stageId(), s.attemptId())] = s
    by_stage: Dict[int, List] = {}
    for (sid, _a), s in stages.items():
        by_stage.setdefault(sid, []).append(s)
    out: Dict[str, Dict[str, float]] = {}
    for j in _seq(store.jobsList(None)):
        g = j.jobGroup()
        if not g.isDefined() or ":" not in g.get():
            continue
        kind = g.get().rsplit(":", 1)[0]
        acc = out.setdefault(kind, dict.fromkeys(SPARK_FIELDS, 0.0))
        acc["jobs"] += 1
        for sid in _seq(j.stageIds()):
            for s in by_stage.pop(sid, []):  # a stage shared by jobs counts once
                acc["stages"] += 1
                acc["tasks"] += s.numTasks()
                acc["exec_cpu_s"] += s.executorCpuTime() / 1e9
                acc["exec_run_s"] += s.executorRunTime() / 1e3
                acc["input_bytes"] += s.inputBytes()
                acc["shuffle_write_bytes"] += s.shuffleWriteBytes()
                acc["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                acc["gc_s"] += s.jvmGcTime() / 1e3
    return out

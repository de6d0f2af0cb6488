"""State shared by one benchmark run: samples, op accounting, tracer."""

from __future__ import annotations

import os
import sys
import time
import traceback
from typing import Callable, Dict, List

FAILED = object()  # returned by Ctx.run_op when the op raised


def _jvm_pid():
    """Pid of the JVM that pyspark launched, if any."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    pid = proc.pid if proc is not None else None
    return pid if pid and os.path.exists(f"/proc/{pid}") else None


class JvmCpu:
    """CPU seconds used so far by the JVM's threads, at nanosecond
    precision (``/proc/<pid>/task/<tid>/schedstat``).

    The JIT compiler threads are left out: in a run this short they
    use a third to a half of the JVM's CPU, and how much depends on
    when the JVM decides to compile, not on the work asked of it. A
    thread that ends keeps the last reading taken of it."""

    def __init__(self, pid: int) -> None:
        self.dir = f"/proc/{pid}/task"
        self.fds: Dict[str, int] = {}
        self.last: Dict[str, int] = {}
        self.skip: set = set()
        self.ended_ns = 0

    def __call__(self) -> float:
        tids = set(os.listdir(self.dir))
        for tid in tids - self.skip:
            fd = self.fds.get(tid)
            if fd is None:
                try:
                    with open(f"{self.dir}/{tid}/comm") as fh:
                        if "CompilerThre" in fh.read():
                            self.skip.add(tid)
                            continue
                    fd = self.fds[tid] = os.open(
                        f"{self.dir}/{tid}/schedstat", os.O_RDONLY)
                except OSError:
                    continue  # ended between the listing and the open
            try:
                self.last[tid] = int(os.pread(fd, 64, 0).split()[0])
            except OSError:
                pass
        for tid in set(self.fds) - tids:
            os.close(self.fds.pop(tid))
            self.ended_ns += self.last.pop(tid, 0)
        self.skip &= tids
        return (self.ended_ns + sum(self.last.values())) / 1e9


class Ctx:
    def __init__(self, spark, seed: int, work: str, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.samples: Dict[str, List[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: List[str] = []
        self.files = 0
        self.cpu: Dict[str, List[float]] = {}
        self.iter_cpu: List[float] = []  # CPU of each timed loop iteration
        pid = _jvm_pid()
        self._jvm_cpu = JvmCpu(pid) if pid else None

    def run_op(self, kind: str, fn: Callable):
        """Run one timed operation. An exception counts as a failed op;
        it is reported, never retried."""
        self.attempted += 1
        j0 = self._jvm_s()
        c0 = time.process_time()
        t0 = time.perf_counter()
        try:
            with self.tracer.op(kind):
                out = fn()
        except Exception:
            self.fail(f"{kind} raised:\n{traceback.format_exc()}")
            return FAILED
        wall = time.perf_counter() - t0
        cpu = time.process_time() - c0 + self._jvm_s() - j0
        self.samples.setdefault(kind, []).append(wall)
        self.cpu.setdefault(kind, []).append(cpu)
        if not kind.startswith("warmup.") and self.iter_cpu:
            self.iter_cpu[-1] += cpu
        return out

    def next_iteration(self, warmup: bool = False) -> str:
        """Start a loop iteration; returns the op-kind prefix to use.
        A warm-up iteration is run and checked like any other, but its
        ops are kept apart from the timings."""
        if warmup:
            return "warmup."
        self.iter_cpu.append(0.0)
        return ""

    def _jvm_s(self) -> float:
        return self._jvm_cpu() if self._jvm_cpu else 0.0

    def fail(self, why: str) -> None:
        self.failed += 1
        self.errors.append(why)
        print(f"[perfbench] FAILED: {why}", file=sys.stderr, flush=True)

    def check(self, ok: bool, why: str) -> bool:
        """Mark the op just verified as incorrect when ``ok`` is false."""
        if not ok:
            self.fail(why)
        return ok

    def ms(self, kind: str) -> List[float]:
        return [s * 1e3 for s in self.samples.get(kind, [])]

    def cpu_ms(self, kind: str) -> List[float]:
        return [s * 1e3 for s in self.cpu.get(kind, [])]

    def op_metrics(self, main: str) -> Dict[str, float]:
        """The end-to-end cost metrics every workload reports: CPU per
        headline op and CPU per loop iteration (all of its ops)."""
        from .measure import median

        return {
            "main_cpu_ms": median(self.cpu_ms(main)),
            "iter_cpu_ms": median([c * 1e3 for c in self.iter_cpu]),
        }

    def timing(self, kind: str, q: float) -> Dict:
        """Detail record of one op kind: wall and CPU summaries."""
        from .measure import summary

        return {"wall_ms": summary(self.ms(kind), q),
                "cpu_ms": summary(self.cpu_ms(kind), q)}


def write_parquet(ctx: "Ctx", pdf, name: str) -> str:
    """Write a generated frame as a parquet file, the way a pipeline's
    input lands: written by pyarrow (no Spark job), timestamps as UTC
    instants. Returns its path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pdf.copy()
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].dt.tz_localize("UTC")
    ctx.files += 1
    path = os.path.join(ctx.work, "inputs", f"{ctx.files:06d}-{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us")
    return path


def as_parquet(ctx: "Ctx", pdf, name: str):
    """A generated frame handed to Spark as a parquet file, read lazily."""
    return ctx.spark.read.parquet(write_parquet(ctx, pdf, name))


def noop_sink(df) -> None:
    """Force a DataFrame fully without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def close(a: float, b: float, rel: float = 1e-9, abs_: float = 1e-9) -> bool:
    return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))

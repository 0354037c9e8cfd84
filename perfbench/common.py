"""What the workloads share: the run context, operation records,
percentiles, span roll-ups and the process measurements."""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench.trace import OFF


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    cpu: float = 0.0
    timed: bool = True  # False: a set-up or final-state check, not an operation


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tiny: bool
    tracer: object = OFF
    ops: list[Op] = field(default_factory=list)
    first_op_at: float | None = None
    detail: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    gen_seconds: float = 0.0
    #: set-up seconds spent on the benchmark's own work (output checks)
    #: or on repeats that count at their median, left out of setup_s
    setup_left_out: float = 0.0
    check_seconds: float = 0.0
    _cpu: float = 0.0

    def generate(self, fn, *args):
        """Write inputs; the time it takes is left out of ``setup_s``."""
        start = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.gen_seconds += time.perf_counter() - start

    def timed(self, kind: str, fn):
        """Run one timed operation; return (result, seconds), or
        (None, seconds) after recording the exception as a failure."""
        # the /proc scan runs before the driver's own reading here and
        # after it below, so its CPU is charged to no operation
        cpu = descendants_cpu_seconds(os.getpid()) + own_cpu_seconds()
        start = time.perf_counter()
        if self.first_op_at is None:
            self.first_op_at = start
        result, why = None, ""
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 - one failed op must not end the run
            why = f"{kind}: {type(exc).__name__}: {str(exc)[:300]}"
        sec = time.perf_counter() - start
        own = own_cpu_seconds()
        self._cpu = own + descendants_cpu_seconds(os.getpid()) - cpu
        if why:
            self.fail(kind, sec, why)
        return result, sec

    def record(
        self, kind: str, seconds: float, ok: bool, why: str = "", timed: bool = True
    ) -> None:
        self.ops.append(Op(kind, seconds, ok, self._cpu, timed))
        self._cpu = 0.0
        if not ok:
            self.errors.append(why or kind)

    def fail(self, kind: str, seconds: float, why: str, timed: bool = True) -> None:
        self.record(kind, seconds, False, why, timed)

    def check(self, kind: str, seconds: float, fn) -> None:
        """Check one timed operation's output outside its timed span;
        an exception or a False result counts the operation as failed."""
        start = time.perf_counter()
        try:
            ok, why = fn()
        except Exception as exc:  # noqa: BLE001
            ok, why = False, f"{type(exc).__name__}: {str(exc)[:300]}"
        self.check_seconds += time.perf_counter() - start
        self.record(kind, seconds, ok, f"{kind}: {why}")


def warm_engine(spark, work: str) -> None:
    """Load and compile the engine's common paths -- CSV and parquet
    scans, a cached frame, join, hash aggregate, window, sort, a
    partitioned parquet write -- on a tiny generated frame before the
    first timed operation, so a process's one-time start-up lands in
    ``setup_s`` rather than in whichever operation runs first."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = os.path.join(work, "warm_engine")
    spark.range(2000).select(
        (F.col("id") % 17).cast("string").alias("k"), F.col("id").cast("string").alias("v"),
        F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 90).cast("int")).alias("d"),
    ).write.mode("overwrite").option("header", "true").csv(f"{base}/csv")
    df = (
        spark.read.option("header", "true").schema("k string, v string, d string").csv(f"{base}/csv")
        .select("k", F.col("v").cast("double").alias("v"), F.to_date("d").alias("d"))
        .cache()
    )
    dim = spark.range(17).select(
        F.col("id").cast("string").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    out = (
        df.join(dim, "k")
        .groupBy("name", "d").agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .withColumn("avg7", F.avg("s").over(Window.partitionBy("name").orderBy("d").rowsBetween(-6, 0)))
        .withColumn("year", F.year("d"))
        .orderBy("name", "d")
    )
    out.write.mode("overwrite").partitionBy("year").parquet(f"{base}/parquet")
    spark.read.parquet(f"{base}/parquet").where(F.col("name") == "n3").collect()
    df.unpersist()


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile of ``values`` (0 <= pct <= 100)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def timing_summary(seconds: list[float]) -> dict:
    """Median and the highest of p90/p95/p99 that has at least ten
    samples beyond it, with the sample count, in milliseconds."""
    n = len(seconds)
    out: dict = {"n": n}
    if not n:
        return out
    out["p50_ms"] = round(statistics.median(seconds) * 1e3, 3)
    for pct in (99, 95, 90):
        if n * (100 - pct) / 100.0 >= 10:
            out[f"p{pct}_ms"] = round(percentile(seconds, pct) * 1e3, 3)
            break
    return out


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def spans_named(tracer, name: str):
    return [s for s in tracer.spans if s.name == name]


def span_index(tracer) -> dict[int, int]:
    return {id(s): i for i, s in enumerate(tracer.spans)}


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def span_total(tracer, name: str, attr: str = "seconds") -> float:
    """Sum of ``attr`` over all spans named ``name`` (counts are
    inclusive of child spans)."""
    return sum(per_op_sums(tracer, name, attr).values())


def per_op_sums(tracer, name: str, attr: str = "seconds") -> dict[str, float]:
    """For each operation id, the sum of ``attr`` over its spans named
    ``name`` (counts are inclusive of child spans)."""
    idx = span_index(tracer)
    sums: dict[str, float] = {}
    for s in spans_named(tracer, name):
        v = s.seconds if attr == "seconds" else tracer.inclusive(idx[id(s)], attr)
        sums[s.op] = sums.get(s.op, 0.0) + v
    return sums


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _descendant_stats(pid: int) -> dict[int, list[str]]:
    """The stat fields of every process under ``pid``, from one pass
    over ``/proc``."""
    kids: dict[int, list[tuple[int, list[str]]]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                st = _stat(int(entry))
                kids.setdefault(int(st[1]), []).append((int(entry), st))
            except (OSError, IndexError, ValueError):
                continue
    found, todo = {}, [pid]
    while todo:
        for kid, st in kids.get(todo.pop(), []):
            found[kid] = st
            todo.append(kid)
    return found


def descendants(pid: int) -> list[int]:
    return list(_descendant_stats(pid))


def alive(pid: int) -> bool:
    try:
        return _stat(pid)[0] != "Z"
    except OSError:
        return False


def own_cpu_seconds() -> float:
    """CPU seconds (user and system, with reaped children) this process
    has used so far."""
    t = os.times()
    return t.user + t.system + t.children_user + t.children_system


def descendants_cpu_seconds(pid: int) -> float:
    """CPU seconds (user and system, with reaped children) used so far
    by every process under ``pid`` -- the JVM and its Python workers.
    Time the host steals from the guest is not in it."""
    ticks = sum(int(v) for st in _descendant_stats(pid).values() for v in st[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def rss_peak_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def steal_seconds() -> float | None:
    """Cumulative host CPU-steal seconds from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None

"""Session, host stamp, accounting and statistics shared by the workloads.

The session is the engine's own factory (``session.get_spark``) with its
defaults. Only what depends on the host is set: cores (``nproc``),
driver memory (a quarter of host RAM, capped at the factory default)
and the directories Spark and the JVM write scratch files to, which
live in the benchmark's work directory so a run writes only inside its
checkout. The JVM also keeps a fixed set of JIT compiler threads, which
the CPU figure needs (see ``window``).
"""

from __future__ import annotations

import math
import os
import platform
import resource
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, "_work")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_gb() -> int:
    """A quarter of host RAM: the host is shared, and local mode runs
    every task thread in this one JVM. Capped at the factory's 24g."""
    return max(1, min(24, int(host_ram_gb() // 4)))


def start_session(app_name: str):
    """Start the engine session; returns (spark, settings, seconds)."""
    from big_data_data_lake_spark.session import get_spark

    scratch = os.path.join(WORK_DIR, "spark-local")
    os.makedirs(scratch, exist_ok=True)
    settings = {
        "cores": host_cores(),
        "driver_memory": f"{driver_memory_gb()}g",
    }
    os.environ["SPARK_LOCAL_DIRS"] = scratch  # wins over spark.local.dir
    conf = {
        "spark.driver.memory": settings["driver_memory"],
        # a fixed set of JIT threads, so ``window`` can take their CPU out
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
    }
    t0 = time.perf_counter()
    spark = get_spark(app_name=app_name, cpus=settings["cores"], extra_conf=conf)
    spark.range(1).collect()  # the session is usable once a job has run
    seconds = time.perf_counter() - t0
    settings["shuffle_partitions"] = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return spark, settings, seconds


def stop_session(spark) -> None:
    """Stop Spark and wait until the gateway JVM has exited.

    ``spark.stop()`` leaves the gateway JVM running. It exits when its
    stdin closes, which PySpark leaves to interpreter exit without
    waiting: on a 4-core VM the JVM outlived the Python process by
    0.5-1 s, with or without ``spark.stop()``. Closing stdin here and
    waiting means a run leaves no JVM behind."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this process."""
    jvm_kb = 0
    with open(f"/proc/{_jvm_pid(spark)}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _ticks(stat_path: str) -> tuple[str, int]:
    """(name, utime + stime ticks) from a /proc stat file."""
    with open(stat_path) as fh:
        stat = fh.read()
    fields = stat.rsplit(")", 1)[1].split()
    return stat[stat.index("(") + 1 : stat.rindex(")")], int(fields[11]) + int(fields[12])


def _jit_ticks(pid: int) -> dict[str, int]:
    """CPU ticks of each JIT compiler thread: {tid: ticks}. The session
    turns off the JVM's dynamic compiler thread count, so these threads
    live as long as the JVM and none of their CPU is lost in a diff."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, ticks = _ticks(f"/proc/{pid}/task/{tid}/stat")
        except FileNotFoundError:  # the thread ended meanwhile
            continue
        if "CompilerThre" in name:
            out[tid] = ticks
    return out


def counters(spark) -> dict:
    """A snapshot of the JVM's CPU (the whole process, which includes
    threads that have ended, and its JIT threads apart), this process's
    CPU, JVM GC seconds and host CPU ticks; ``window`` diffs two."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    own = os.times()
    gc = sum(
        b.getCollectionTime()
        for b in spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    )
    pid = _jvm_pid(spark)
    return {
        "wall": time.perf_counter(),
        "jvm": _ticks(f"/proc/{pid}/stat")[1],
        "jit": _jit_ticks(pid),
        "own_cpu": own.user + own.system,
        "gc": gc / 1000,
        "host_ticks": sum(ticks),
        "steal_ticks": ticks[7],
    }


def window(before: dict, after: dict) -> dict[str, float]:
    """What a measured window cost.

    ``cpu_s`` is the CPU time of the JVM, except its JIT compiler
    threads, plus this process's (which builds the queries and runs
    the streaming callbacks). JIT compilation is left out because it
    depends on how warm the JVM is, not on the work: after one warm-up
    pass it still costs 17-21 s per analytics pass, more than the rest
    of the JVM, and it falls pass by pass.
    ``host_steal_share`` is the share of host CPU time the hypervisor
    gave to other tenants, which marks a noisy host window."""
    tick = os.sysconf("SC_CLK_TCK")
    jit = sum(t - before["jit"].get(tid, 0) for tid, t in after["jit"].items())
    engine = after["jvm"] - before["jvm"] - jit
    host = after["host_ticks"] - before["host_ticks"]
    return {
        "wall_s": after["wall"] - before["wall"],
        "cpu_s": engine / tick + after["own_cpu"] - before["own_cpu"],
        "jit_cpu_s": jit / tick,
        "gc_s": after["gc"] - before["gc"],
        "host_steal_share": (after["steal_ticks"] - before["steal_ticks"]) / max(1, host),
    }


def retained_mb(spark) -> float:
    """JVM heap plus non-heap memory still in use after a full GC: what
    the engine keeps (caches, plans, metadata, compiled code) once the
    work is done. Unlike peak RSS it does not depend on when the
    collector last ran."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    mem = mf.getMemoryMXBean()
    mem.gc()
    return (mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()) / 2**20


def host_canary_s(spark) -> float:
    """Fixed work whose plan never changes: a codegen'd CPU sum, a
    hash-aggregate shuffle and an Arrow round trip. Its time marks the
    host window a record came from; it moves no end-to-end metric."""

    def passthrough(batches):
        yield from batches

    t0 = time.perf_counter()
    spark.range(5_000_000).selectExpr("sum(id * 2 + 1) s").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.range(500_000).selectExpr("id % 997 AS k", "id AS v").groupBy("k").sum(
        "v"
    ).write.format("noop").mode("overwrite").save()
    spark.range(20_000).mapInPandas(passthrough, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()
    return time.perf_counter() - t0


def environment(spark, settings: dict, seed: int, **extra) -> dict:
    """The record's stamp: which host window and which settings it came from."""
    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {
        "nproc": host_cores(),
        "host_ram_gb": round(host_ram_gb(), 1),
        "spark": spark.version,
        "java": java,
        "python": platform.python_version(),
        "session_cores": settings["cores"],
        "shuffle_partitions": settings["shuffle_partitions"],
        "driver_memory": settings["driver_memory"],
        "seed": seed,
        **extra,
    }


class Ledger:
    """Operations attempted and failed; a wrong output counts as failed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.issues: list[str] = []

    def record(self, what: str, problems: list[str] | None = None) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.issues.append(f"{what}: " + "; ".join(problems)[:500])

    def fail(self, what: str, exc: BaseException) -> None:
        self.record(what, [f"{type(exc).__name__}: {exc}"])

    def mismatch(self, what: str, problems: list[str]) -> None:
        """A wrong output of ops already counted: one more of them failed."""
        self.failed = min(self.attempted, self.failed + 1)
        self.issues.append(f"{what}: " + "; ".join(problems)[:500])


def tail(samples: list[float]) -> tuple[float, str, int] | None:
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile label, sample count), or None when there
    are fewer than eleven samples. With n sorted samples the k-th
    smallest (1-based) has n - k samples above it, so the answer is the
    (n - 10)-th smallest, the p(100 * (n - 10) / n) point."""
    n = len(samples)
    if n < 11:
        return None
    k = n - 10
    pct = 100 * k / n
    return sorted(samples)[k - 1], f"p{math.floor(pct * 10) / 10:g}", n


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)

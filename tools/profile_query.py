"""Per-pass CPU profile of one registered query in one session.

    python tools/profile_query.py <query> [passes]

Runs ``<query>`` (a name in ``queries.QUERIES``; a ``queries.PHASED`` entry
runs as build then read) ``passes`` times (default 3) in one ``get_spark``
session over the scale directory ``$SPARK_GRAFT_SF_DIR`` (required), forcing
each result with a noop write and releasing what it persisted. Per pass it
prints one line:

- ``wall``: wall seconds;
- ``c2 c1 exec driver gc other``: CPU seconds of the driver JVM's live
  threads by group (JIT compilers, executor task threads, driver and py4j
  threads, garbage collector, the rest), from ``/proc/<pid>/task/*/stat``;
- ``exited``: CPU seconds of threads that exited during the pass (process
  total minus the per-thread sum);
- ``py``: CPU seconds of this Python client;
- ``janino`` / ``janino_ms``: generated classes compiled and the time spent
  compiling them (Spark's ``CodeGenerator``);
- ``jit_ms``: JIT compile time (``CompilationMXBean``).

Pass 1 is cold; later passes show what a repeating workload still pays.
``profile_pass`` measures any zero-argument callable the same way, and
``tools/scale_check.py`` builds on it. The tool only reads ``/proc`` and JVM
counters, so it needs Linux. It is not named ``profile.py``: that would
shadow the standard-library module that ``cProfile``, and so ``pyspark``,
imports for every script in ``tools/``.
"""

from __future__ import annotations

import os
import sys
import time
from typing import Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cernbox_migration_database_spark import queries as Q  # noqa: E402
from cernbox_migration_database_spark import util as U  # noqa: E402
from cernbox_migration_database_spark.session import get_spark  # noqa: E402

GROUPS = ("c2", "c1", "exec", "driver", "gc", "other")
_TICK = os.sysconf("SC_CLK_TCK")


def _group(comm: str) -> str:
    """Thread group of a JVM thread, by its (15-char) kernel name."""
    if comm.startswith("C2 Compiler"):
        return "c2"
    if comm.startswith("C1 Compiler"):
        return "c1"
    if comm.startswith("Executor task"):
        return "exec"
    if comm.startswith(("GC ", "G1 ", "ParGC")):
        return "gc"
    # "java" is the JVM's main thread, "Thread-N" are py4j's; the exchange
    # and query-stage threads are AQE's driver-side stage submitters.
    if comm in ("java", "main") or comm.startswith(
        ("Thread-", "dag-scheduler", "task-result", "spark-listener", "dispatcher-",
         "shuffle-exchang", "broadcast-exch", "ResultQueryStag")
    ):
        return "driver"
    return "other"


def _cpu(stat: str) -> tuple[str, float]:
    """(comm, utime + stime seconds) of one ``/proc/.../stat`` line."""
    head, tail = stat.rsplit(")", 1)
    fields = tail.split()
    return head.split("(", 1)[1], (int(fields[11]) + int(fields[12])) / _TICK


def _jvm_threads(pid: int) -> tuple[float, dict[int, tuple[str, float]]]:
    """The JVM's total CPU seconds and {tid: (comm, cpu_s)} of its live
    threads. A thread that exits between listing and reading is skipped."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
        total = _cpu(fh.read())[1]
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            path = f"/proc/{pid}/task/{tid}/stat"
            with open(path, encoding="ascii", errors="replace") as fh:
                threads[int(tid)] = _cpu(fh.read())
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total, threads


def _counters(spark) -> tuple[int, float, float]:
    """(classes compiled, Janino ms, JIT ms) so far in the driver JVM."""
    jvm = spark._jvm
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return (
        metrics.METRIC_COMPILATION_TIME().getCount(),
        codegen.compileTime() / 1e6,  # nanoseconds
        float(jit.getTotalCompilationTime()),
    )


def run_query(spark, name: str, sf_dir: str) -> None:
    """Run one registered query over ``sf_dir`` to completion (a noop
    write) and release what it persisted."""
    if name in Q.PHASED:
        build, read = Q.PHASED[name]
        df = read(spark, build(spark, sf_dir))
    else:
        df = Q.QUERIES[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    U.release_persisted()


def profile_pass(spark, pid: int, fn: Callable[[], object]) -> dict[str, float]:
    """Call ``fn`` once and return the pass's row (see the module doc);
    ``pid`` is the driver JVM's. The row also carries ``jit``, the JIT
    compilers' CPU: ``c2 + c1 + exited``, since the JVM starts and retires
    compiler threads on demand."""
    total0, threads0 = _jvm_threads(pid)
    counters0 = _counters(spark)
    py0, t0 = time.process_time(), time.perf_counter()
    fn()
    wall, py = time.perf_counter() - t0, time.process_time() - py0
    counters1 = _counters(spark)
    total1, threads1 = _jvm_threads(pid)

    row = dict.fromkeys(GROUPS, 0.0)
    for tid, (comm, cpu) in threads1.items():
        row[_group(comm)] += cpu - threads0.get(tid, (comm, 0.0))[1]
    row["exited"] = (total1 - total0) - sum(row[g] for g in GROUPS)
    row["jit"] = row["c2"] + row["c1"] + row["exited"]
    row["wall"], row["py"] = wall, py
    row["janino"], row["janino_ms"], row["jit_ms"] = (
        b - a for a, b in zip(counters0, counters1)
    )
    return row


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in Q.QUERIES or "SPARK_GRAFT_SF_DIR" not in os.environ:
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    name = argv[0]
    passes = int(argv[1]) if len(argv) > 1 else 3
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark(app_name="profile")
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    cols = ("wall",) + GROUPS + ("exited", "py", "janino", "janino_ms", "jit_ms")
    print(f"{name} at {sf_dir}, {passes} passes, CPU in seconds")
    print("pass " + " ".join(f"{c:>9}" for c in cols))
    for i in range(1, passes + 1):
        row = profile_pass(spark, pid, lambda: run_query(spark, name, sf_dir))
        print(f"{i:>4} " + " ".join(
            f"{row[c]:>9.0f}" if c in ("janino", "janino_ms", "jit_ms") else f"{row[c]:>9.2f}"
            for c in cols
        ))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

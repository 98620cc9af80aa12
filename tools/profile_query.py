"""Per-pass CPU profile of one registered query, or one benchmark workload,
in one session.

    python tools/profile_query.py <query|workload> [passes] [--jfr]

Runs ``<query>`` (a name in ``queries.QUERIES``; a ``queries.PHASED`` entry
runs as build then read) over the scale directory ``$SPARK_GRAFT_SF_DIR``
(required), forcing each result with a noop write and releasing what it
persisted; or runs ``migrate_small`` / ``pretrain_corpus``, perfbench's
workloads (``perfbench/workloads.py``, used read-only), over inputs
generated into a temporary directory, checking every pass with the
workload's own check. Either runs ``passes`` times (default 3) in one
``get_spark`` session. Pass 0 is ``get_spark`` itself: wall seconds, the
driver JVM's CPU seconds so far, classes it loaded, and whether it mapped
the class-data-sharing archive (``cds``: ``mapped``, ``recording`` the
archive or ``off``). Per later pass it prints one line:

- ``wall``: wall seconds;
- ``c2 c1 exec driver gc other``: CPU seconds of the driver JVM's live
  threads by group (JIT compilers, executor task threads, driver and py4j
  threads, garbage collector, the rest), from ``/proc/<pid>/task/*/stat``;
- ``exited``: CPU seconds of threads that exited during the pass (process
  total minus the per-thread sum);
- ``jit``: CPU seconds of the JIT compilers, ``c2 + c1 + exited``;
- ``py``: CPU seconds of this Python client;
- ``janino`` / ``janino_ms``: generated classes compiled and the time spent
  compiling them (Spark's ``CodeGenerator``);
- ``jit_ms``: JIT compile time (``CompilationMXBean``).

``--jfr`` also records every JIT compile of each pass with the JDK's flight
recorder (``jdk.Compilation`` at a 0 ms threshold; the bundled ``profile``
settings keep only compiles of 100 ms or more) and prints the compile
seconds per pass by the compiled method's origin (``ORIGINS``). Each pass's
recording is dumped and read while the JVM runs, and the recorder's
repository is in the tool's own temporary directory, not the JVM's
``java.io.tmpdir``, which a caller may delete before the JVM exits.

Pass 1 is cold; later passes show what a repeating workload still pays.
``profile_pass`` measures any zero-argument callable the same way, and
``tools/scale_check.py`` builds on it. The tool only reads ``/proc`` and JVM
counters, so it needs Linux. It is not named ``profile.py``: that would
shadow the standard-library module that ``cProfile``, and so ``pyspark``,
imports for every script in ``tools/``.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time
from typing import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import workloads as W  # noqa: E402
from spans import Tracer  # noqa: E402

from cernbox_migration_database_spark import queries as Q  # noqa: E402
from cernbox_migration_database_spark import util as U  # noqa: E402
from cernbox_migration_database_spark.session import get_spark  # noqa: E402

GROUPS = ("c2", "c1", "exec", "driver", "gc", "other")
COLUMNS = ("wall",) + GROUPS + ("exited", "jit", "py", "janino", "janino_ms", "jit_ms")
_TICK = os.sysconf("SC_CLK_TCK")
SEED = 1
# Origin of a JIT-compiled method, by the first prefix its class name
# matches; the rest is "other" (Spark's own core and execution, Netty, ...).
# Whole-stage and projection classes that Janino compiles live in
# GeneratedClass, so they match before the rest of Catalyst.
ORIGINS = (
    ("generated", ("org.apache.spark.sql.catalyst.expressions.GeneratedClass",)),
    ("janino", ("org.codehaus.janino.", "org.codehaus.commons.compiler.")),
    ("catalyst", ("org.apache.spark.sql.catalyst.",)),
    ("serialization", ("java.io.Object",)),
    ("py4j", ("py4j.",)),
    ("antlr", ("org.antlr.",)),
    ("jdk_scala", ("java.", "javax.", "jdk.", "sun.", "com.sun.", "scala.")),
    ("parquet_hadoop", ("org.apache.parquet.", "org.apache.hadoop.", "shaded.parquet.")),
)
_UNITS = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "min": 60.0}


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


def origin(class_name: str) -> str:
    for name, prefixes in ORIGINS:
        if class_name.startswith(prefixes):
            return name
    return "other"


def compile_seconds(jfr: str, recording: str) -> dict[str, float]:
    """Compile seconds by origin (and ``all``) of the ``jdk.Compilation``
    events in ``recording``, streamed from the JDK's ``jfr print``."""
    out = dict.fromkeys([name for name, _ in ORIGINS] + ["other", "all"], 0.0)
    seconds = 0.0
    with subprocess.Popen([jfr, "print", "--events", "jdk.Compilation", recording],
                          stdout=subprocess.PIPE, text=True) as proc:
        for line in proc.stdout:
            key, _, value = line.strip().partition(" = ")
            if key == "duration":
                number, unit = value.split()
                seconds = float(number) * _UNITS[unit]
            elif key == "method":
                out[origin(value.split("(", 1)[0].rsplit(".", 1)[0])] += seconds
                out["all"] += seconds
    return out


class CompileRecorder:
    """One flight recording of every JIT compile per pass, dumped to
    ``work`` and read as soon as the pass ends."""

    def __init__(self, spark, work: str):
        self.jvm, self.work = spark._jvm, work
        self.jfr = os.path.join(self.jvm.java.lang.System.getProperty("java.home"), "bin", "jfr")

    def measure(self, fn: Callable[[], object]) -> tuple[object, dict[str, float]]:
        """``fn()`` and the compile seconds by origin while it ran."""
        rec = self.jvm.jdk.jfr.Recording()
        rec.enable("jdk.Compilation").withThreshold(self.jvm.java.time.Duration.ofMillis(0))
        rec.start()
        try:
            value = fn()
        finally:
            rec.stop()
        path = os.path.join(self.work, "pass.jfr")
        rec.dump(self.jvm.java.io.File(path).toPath())
        rec.close()
        try:
            return value, compile_seconds(self.jfr, path)
        finally:
            os.remove(path)


def _session(jfr_repository: str | None):
    """``get_spark`` timed as pass 0: its row and the session."""
    conf = {}
    if jfr_repository:
        conf["spark.driver.extraJavaOptions"] = (
            f"-XX:FlightRecorderOptions:repository={jfr_repository}")
    t0 = time.perf_counter()
    spark = get_spark(app_name="profile", extra_conf=conf)
    wall = time.perf_counter() - t0
    jvm = spark._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/maps", encoding="ascii", errors="replace") as fh:
        mapped = any("/spark-graft/" in line and line.rstrip().endswith(".jsa") for line in fh)
    options = spark.conf.get("spark.driver.defaultJavaOptions", "")
    classes = jvm.java.lang.management.ManagementFactory.getClassLoadingMXBean()
    row = {
        "wall": wall,
        "jvm_cpu": _jvm_threads(pid)[0],
        "classes": classes.getTotalLoadedClassCount(),
        "cds": "mapped" if mapped else "recording" if "ArchiveClassesAtExit" in options else "off",
    }
    return spark, pid, row


def _passes(spark, name: str, work: str):
    """``(run, check)`` of one pass of ``name``: a workload iteration and
    its check, or a registered query over ``$SPARK_GRAFT_SF_DIR``."""
    if name not in W.WORKLOADS:
        sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
        return (lambda: run_query(spark, name, sf_dir)), (lambda _: None)
    wl = W.WORKLOADS[name]()
    in_dir, out = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(out)
    truth = wl.generate(in_dir, SEED)
    wl.prepare(spark, in_dir, out, truth, wl.expect(in_dir, truth))
    tracer = Tracer(spark)

    def check(r):
        wl.check(r)
        wl.cleanup(r)

    return (lambda: wl.iteration(tracer)), check


def main(argv: list[str]) -> int:
    jfr = "--jfr" in argv
    argv = [a for a in argv if a != "--jfr"]
    if not argv or not (argv[0] in W.WORKLOADS or (
            argv[0] in Q.QUERIES and "SPARK_GRAFT_SF_DIR" in os.environ)):
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    name = argv[0]
    passes = int(argv[1]) if len(argv) > 1 else 3
    work = tempfile.mkdtemp(prefix="profile_query_")
    try:
        spark, pid, start = _session(os.path.join(work, "jfr") if jfr else None)
        try:
            run, check = _passes(spark, name, work)
            recorder = CompileRecorder(spark, work) if jfr else None
            where = "generated inputs" if name in W.WORKLOADS else os.environ["SPARK_GRAFT_SF_DIR"]
            print(f"{name} over {where}, {passes} passes, CPU in seconds")
            print(f"   0 get_spark: wall {start['wall']:.2f}, JVM CPU {start['jvm_cpu']:.2f}, "
                  f"{start['classes']} classes loaded, cds {start['cds']}")
            print("pass " + " ".join(f"{c:>9}" for c in COLUMNS))
            by_origin = []
            for i in range(1, passes + 1):
                result = []

                def one():
                    return profile_pass(spark, pid, lambda: result.append(run()))

                if recorder:
                    row, split = recorder.measure(one)
                    by_origin.append(split)
                else:
                    row = one()
                check(result[0])
                print(f"{i:>4} " + " ".join(
                    f"{row[c]:>9.0f}" if c in ("janino", "janino_ms", "jit_ms")
                    else f"{row[c]:>9.2f}" for c in COLUMNS
                ))
            if by_origin:
                cols = list(by_origin[0])
                print("JIT compile seconds by origin (JFR jdk.Compilation)")
                print("pass " + " ".join(f"{c:>14}" for c in cols))
                for i, split in enumerate(by_origin, 1):
                    print(f"{i:>4} " + " ".join(f"{split[c]:>14.2f}" for c in cols))
        finally:
            spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the workload's inputs from
``--seed``, computes the expected outputs with DuckDB, starts a
``local[nproc]`` session through the engine's own factory, and runs one cold
iteration. ``--trace 0`` then runs the
workload as a closed loop from one client for ``--seconds`` seconds, and at
least the workload's minimum number of iterations, and reports the
end-to-end metrics. ``--trace 1`` instead runs one untraced and one traced
iteration, then the workload's serve phase if it has one, traced with the
latter; it reports the per-layer metrics (see ``metrics.py``) and writes the
spans to ``.perfbench_work/trace-<workload>-<seed>.json``. Every output is
checked. The run prints one JSON line of run details (environment, input
mix, set-up parts, errors) and then, as its last stdout line, the result
object. Everything else it writes stays under ``.perfbench_work/run-<pid>/``
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "cernbox_migration_database_spark"
# Driver heap: well below the factory's 16g default so a 15 GB box keeps room.
DRIVER_MEM = "2g"
GEN_REPS = 3


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Point every scratch location of Spark and Python into ``work``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    # Every JVM started below (the launcher, the driver, ``java -version``)
    # keeps its temporary files in the checkout and writes no hsperfdata.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def _rss_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_s(pid: int) -> float:
    """CPU seconds used so far by the JVM ``pid`` and this process. Time the
    hypervisor steals from the machine is not charged to either."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    own = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + own.user + own.system


def _versions(spark) -> dict:
    import duckdb
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"run-{os.getpid()}")
    _environment(work)
    try:
        return _run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, work: str) -> int:
    import metrics as M
    import workloads as W
    from spans import Tracer

    if a.workload not in W.WORKLOADS:
        print(f"error: unknown workload {a.workload!r}; known: {list(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    env = {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "load_start": os.getloadavg(),
    }
    wl = W.WORKLOADS[a.workload]()
    in_dir = os.path.join(work, "in")
    gen_s = []
    for _ in range(GEN_REPS):
        t = time.perf_counter()
        shutil.rmtree(in_dir, ignore_errors=True)
        truth = wl.generate(in_dir, a.seed)
        gen_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    expected = wl.expect(in_dir, truth)
    oracle_s = time.perf_counter() - t

    from cernbox_migration_database_spark.session import get_spark

    conf = {
        # -Xms at the heap's maximum, so peak RSS follows the work rather
        # than when the collector chose to grow the heap.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t
    sc = spark.sparkContext
    env.update(master=sc.master, default_parallelism=sc.defaultParallelism,
               driver_memory=sc.getConf().get("spark.driver.memory"), **_versions(spark))
    jvm_pid = sc._gateway.proc.pid
    try:
        wl.prepare(spark, in_dir, work, truth, expected)
        tracer = Tracer(spark)
        attempted = failed = 0
        samples: list[tuple[bool, dict]] = []
        errors: list[str] = []

        def op(fn):
            """One counted operation; an exception or a failed check is a
            failure."""
            nonlocal attempted, failed
            attempted += 1
            try:
                return fn()
            except Exception as e:  # noqa: BLE001 - every failure is counted
                failed += 1
                errors.append(f"{type(e).__name__}: {e}"[:500])
                return None
            finally:
                tracer.enabled = False

        def one(traced: bool) -> dict | None:
            tracer.enabled = traced
            tracer.iteration = attempted
            r = op(lambda: _checked(wl, tracer, jvm_pid))
            if r is not None:
                r["iteration"] = tracer.iteration
                samples.append((traced, r))
                wl.cleanup(r)
            return r

        cold = one(False)
        samples.clear()
        if a.trace:
            # One untraced and one traced iteration of one session, so the
            # overhead compares like with like.
            one(False)
            one(True)
        else:
            t_end = time.perf_counter() + a.seconds
            n = 0
            while (time.perf_counter() < t_end or n < wl.min_iterations) and failed <= 3:
                one(False)
                n += 1
        serves = a.trace and hasattr(wl, "serve")
        served = None
        if serves and samples:
            # Its spans count toward the traced iteration.
            tracer.enabled = True
            served = op(lambda: wl.serve(tracer))
        env["load_end"] = os.getloadavg()
        rss = _rss_mb("self") + _rss_mb(jvm_pid)

        untraced = [r for t, r in samples if not t]
        traced = [r for t, r in samples if t]
        measured = (cold is not None and bool(untraced) and (bool(traced) or not a.trace)
                    and (served is not None or not serves))
        ok = measured and failed == 0
        gen_med = statistics.median(gen_s)
        if not measured:
            values = {}
        elif a.trace:
            values = M.per_layer(tracer, wl.rows, cold, traced, untraced, session_s, gen_med,
                                 lookup_s=served["lat"] if served else [])
            os.makedirs(WORK, exist_ok=True)
            with open(os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json"), "w",
                      encoding="utf-8") as fh:
                json.dump([s.__dict__ for s in tracer.spans], fh)
        else:
            values = M.end_to_end(untraced, setup_s=session_s + gen_med,
                                  cold_cpu_s=cold["cpu_s"], rss_mb=rss)
        detail = {
            "workload": a.workload, "seed": a.seed, "env": env,
            "setup": {"session_s": session_s, "gen_s": gen_s, "oracle_s": oracle_s},
            "iterations": {"untraced": len(untraced), "traced": len(traced)},
            "iteration_s": {"cold": cold and cold["s"], "untraced": [r["s"] for r in untraced],
                            "traced": [r["s"] for r in traced]},
            "iteration_cpu_s": {"cold": cold and cold["cpu_s"],
                                "untraced": [r["cpu_s"] for r in untraced]},
            "failed_frac": failed / max(1, attempted),
            "mix": truth.mix,
            "rows": {"shares": truth.n_shares, "public": truth.n_public,
                     "replies": truth.n_replies, "documents": truth.n_documents},
            "errors": errors[:5],
        }
        print(json.dumps(detail, default=str))
    finally:
        spark.stop()
        _stop_jvm(sc)
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": values,
    }))
    return 0


def _checked(wl, tracer, jvm_pid: int) -> dict:
    c = _cpu_s(jvm_pid)
    r = wl.iteration(tracer)
    r["cpu_s"] = _cpu_s(jvm_pid) - c
    wl.check(r)
    return r


def _stop_jvm(sc) -> None:
    """Shut the gateway down and wait for the JVM to exit (it exits when
    its stdin closes)."""
    gw = sc._gateway
    proc = gw.proc
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - already gone
        pass
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())

"""Class-data-sharing (AppCDS) archive for the driver JVM that ``get_spark``
starts.

Session start is mostly class loading: the driver JVM loads and verifies
~10.5k classes from Spark's jars before any query runs. JDK 17 can record
the classes a JVM loaded into a dynamic archive when it exits
(``-XX:ArchiveClassesAtExit``) and map that archive into later JVMs
(``-XX:SharedArchiveFile``), which skips the parse and verification.
JDK 19 automates this as ``-XX:+AutoCreateSharedArchive``; this module does
the same by hand for JDK 17:

- the first launch on an install records ``<key>.<pid>.tmp``, and at the
  launching Python process's exit ``publish`` moves it to
  ``<key>.<size>.jsa`` once the JVM exited 0 and a throwaway
  ``java -Xshare:on`` accepted it (a torn archive makes the JVM die with
  SIGBUS at startup, so nothing else is ever handed to a JVM);
- every later launch maps that archive, if its size is still the one in
  its name.

The archive lives in ``${XDG_CACHE_HOME:-~/.cache}/spark-graft/`` so every
checkout of one install shares it. Its key is the JDK build plus the
ordered jar list with sizes and mtimes; archives of other keys are pruned.
Delete the directory to start over.

JDK 17 will not record or map an archive while a classpath entry is a
non-empty directory, and Spark puts its conf dir first on the classpath.
So the archive is used only when ``SPARK_CONF_DIR`` is unset and the conf
dir holds nothing Spark reads (only ``*.template`` files); the gateway is
then launched with ``SPARK_CONF_DIR`` pointing at an empty directory in the
cache. Any other classpath input, a heap of 32g or more (no compressed
oops, which the archive was recorded with), caller-set
``spark.driver.defaultJavaOptions`` or an unwritable cache means the launch
is exactly what it would be without this module.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import re
import shutil
import subprocess
from dataclasses import dataclass
from typing import Callable, Mapping

# Environment variables and confs that add to the driver's classpath (the
# prepend and testing switches add build directories), carry spark-submit
# arguments or select another kind of session (an existing gateway, Spark
# Connect); when any is set the archive is not used. JVM
# options from ``SPARK_SUBMIT_OPTS`` can at worst keep an archive from
# mapping, which the JVM then ignores.
_CLASSPATH_ENV = (
    "SPARK_CONF_DIR",
    "SPARK_CLASSPATH",
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_PREPEND_CLASSES",
    "SPARK_TESTING",
    "PYSPARK_SUBMIT_ARGS",
    "PYSPARK_GATEWAY_PORT",
    "SPARK_REMOTE",
)
_CLASSPATH_CONF = (
    "spark.driver.defaultJavaOptions",
    "spark.jars",
    "spark.jars.packages",
    "spark.driver.extraClassPath",
    "spark.remote",
    "spark.api.mode",
)
# Compressed oops stop at a 32 GiB heap; an archive recorded with them does
# not map into a JVM without them.
_MAX_HEAP_MB = 32 * 1024
# The recording JVM dumps the archive as it exits: ~11 s for a bare session,
# more after a long one.
_EXIT_WAIT_S = 120
_CHECK_WAIT_S = 60
# Logging tags whose warnings JDK 17 prints on stdout while recording or
# when an archive does not map.
_QUIET = "-Xlog:cds*=off"


@dataclass(frozen=True)
class Launch:
    """How to launch one driver JVM with the archive: ``java_options`` goes
    into ``spark.driver.defaultJavaOptions`` and ``conf_dir`` into
    ``SPARK_CONF_DIR`` for the launch only. The JVM either maps ``archive``
    or, when that is None, records ``recording`` as it exits."""

    key: str
    conf_dir: str
    archive: str | None
    recording: str | None

    @property
    def java_options(self) -> str:
        if self.archive:
            return f"-XX:SharedArchiveFile={self.archive} {_QUIET}"
        return f"-XX:ArchiveClassesAtExit={self.recording} {_QUIET}"


def _java_home(env: Mapping[str, str]) -> str | None:
    """The JDK that ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on
    ``PATH``."""
    if env.get("JAVA_HOME"):
        return env["JAVA_HOME"]
    java = shutil.which("java", path=env.get("PATH"))
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def archive_key(jdk: str, jars_dir: str) -> str:
    """Digest of the JDK build (its ``release`` file and ``libjvm.so``) and of
    the jar list, in the directory order in which the JVM expands
    ``jars/*``, with each jar's size and mtime."""
    h = hashlib.sha256()
    with open(os.path.join(jdk, "release"), "rb") as fh:
        h.update(fh.read())
    st = os.stat(os.path.join(jdk, "lib", "server", "libjvm.so"))
    h.update(f"libjvm.so {st.st_size} {st.st_mtime_ns}\n".encode())
    for name in os.listdir(jars_dir):
        if name.endswith(".jar"):
            st = os.stat(os.path.join(jars_dir, name))
            h.update(f"{name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def heap_mb(value: str) -> float | None:
    """A JVM memory string (``16g``, ``512m``, ``2048``: MiB) in MiB; None
    when it does not parse."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)(b?)", value.strip().lower())
    if not m:
        return None
    n, unit, b = m.groups()
    if b and not unit:
        return int(n) / 2**20
    return int(n) * {"": 1, "k": 2**-10, "m": 1, "g": 2**10, "t": 2**20, "p": 2**30}[unit]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _scan(cache: str, key: str) -> tuple[str | None, bool]:
    """This key's archive in ``cache`` (None if there is none) and whether a
    live process is recording one. Everything else is pruned: other keys'
    archives, temp files of dead recorders, and an archive whose size is not
    the one it was published with (a torn file would crash the JVM)."""
    archive, live = None, False
    for entry in os.scandir(cache):
        if not entry.is_file():
            continue
        m = re.fullmatch(re.escape(key) + r"\.(\d+)\.(jsa|tmp)", entry.name)
        if m and m.group(2) == "jsa" and archive is None and entry.stat().st_size == int(m.group(1)):
            archive = entry.path
            continue
        if m and m.group(2) == "tmp" and _alive(int(m.group(1))):
            live = True
            continue
        with contextlib.suppress(FileNotFoundError):
            os.remove(entry.path)
    return archive, live


def plan(conf: Mapping[str, str], env: Mapping[str, str], spark_home: str) -> Launch | None:
    """The archive launch for a driver with ``conf`` (the session confs this
    module reads: ``spark.driver.memory`` and the classpath and Java-option
    keys) started from ``env``, or None to launch as if the archive did not
    exist. One process at a time records."""
    if any(env.get(k) for k in _CLASSPATH_ENV) or any(conf.get(k) for k in _CLASSPATH_CONF):
        return None
    mb = heap_mb(conf.get("spark.driver.memory", "1g"))
    if mb is None or mb >= _MAX_HEAP_MB:
        return None
    spark_conf = os.path.join(spark_home, "conf")
    if os.path.isdir(spark_conf) and any(
        not (e.is_file() and e.name.endswith(".template")) for e in os.scandir(spark_conf)
    ):
        return None
    jdk, jars = _java_home(env), os.path.join(spark_home, "jars")
    cache = os.path.join(
        env.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache"),
        "spark-graft")
    # Spark splits Java options on whitespace and quotes.
    if jdk is None or not os.path.isdir(jars) or re.search(r"[\s\"'\\]", cache):
        return None
    conf_dir = os.path.join(cache, "conf")
    try:
        key = archive_key(jdk, jars)
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cache, os.W_OK):
            return None
        archive, live = _scan(cache, key)
    except OSError:
        return None
    if archive:
        return Launch(key, conf_dir, archive, None)
    if live:
        return None
    return Launch(key, conf_dir, None, os.path.join(cache, f"{key}.{os.getpid()}.tmp"))


def check(java: str, archive: str, classpath: str) -> bool:
    """Whether a throwaway JVM with ``-Xshare:on`` (fail rather than run
    without it) maps ``archive`` for ``classpath``. A torn file kills it
    with SIGABRT, so its crash log goes next to ``archive``, not into the
    caller's working directory, and is removed."""
    cache = os.path.dirname(archive)
    try:
        rc = subprocess.run(
            [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
             f"-XX:ErrorFile={cache}/hs_err_%p.log", "-cp", classpath, "-version"],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=_CHECK_WAIT_S,
        ).returncode
    except (OSError, subprocess.TimeoutExpired):
        return False
    finally:
        for log in glob.glob(os.path.join(glob.escape(cache), "hs_err_*.log")):
            with contextlib.suppress(FileNotFoundError):
                os.remove(log)
    return rc == 0


def publish(recording: str, key: str, returncode: int | None,
            valid: Callable[[str], bool]) -> str | None:
    """Move ``recording`` to ``<key>.<size>.jsa`` next to it if the JVM that
    wrote it exited 0 and ``valid`` accepts it, and return that path;
    otherwise delete it. Only a file that passed both, flushed to disk,
    ever gets an archive's name."""
    try:
        size = os.path.getsize(recording)
        if returncode == 0 and size > 0 and valid(recording):
            with open(recording, "rb") as fh:
                os.fsync(fh.fileno())
            archive = os.path.join(os.path.dirname(recording), f"{key}.{size}.jsa")
            os.replace(recording, archive)
            return archive
    except OSError:
        pass
    with contextlib.suppress(FileNotFoundError):
        os.remove(recording)
    return None


def get_or_create(builder, launch: Launch):
    """``builder.getOrCreate()`` with the driver JVM launched as ``launch``
    says. ``SPARK_CONF_DIR`` is set for the launch only. A recording launch
    registers the exit hook that ends the JVM (closing its stdin makes the
    gateway exit, which dumps the archive), waits for it at most
    ``_EXIT_WAIT_S`` and publishes the recording."""
    builder = builder.config("spark.driver.defaultJavaOptions", launch.java_options)
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
    if launch.recording is None:
        return spark
    system = spark._jvm.java.lang.System
    java = os.path.join(system.getProperty("java.home"), "bin", "java")
    classpath = system.getProperty("java.class.path")
    sc, owner = spark.sparkContext, os.getpid()
    proc = sc._gateway.proc

    def finish() -> None:
        if os.getpid() != owner:  # a forked child inherited the hook
            return
        if proc.poll() is None:
            # Stop the accumulator server first, as SparkContext.stop does:
            # its handler thread, still alive while this waits, prints an
            # EOFError traceback when the exiting JVM closes its connection.
            if getattr(sc, "_accumulatorServer", None):
                sc._accumulatorServer.shutdown()
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=_EXIT_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        publish(launch.recording, launch.key, proc.returncode,
                lambda path: check(java, path, classpath))

    atexit.register(finish)
    return spark

"""The driver JVM's class-data-sharing archive (``cds``): its key, the guard
that keeps every other launch as it was, publishing and pruning (no Spark),
then one record-and-map round trip in child processes."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import types

import pytest

from cernbox_migration_database_spark import cds, session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(path, data: bytes = b"x") -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)
    return path


@pytest.fixture()
def install(tmp_path):
    """A fake JDK and Spark install whose conf dir holds only templates,
    and the environment that launches from them."""
    jdk, home = tmp_path / "jdk", tmp_path / "spark"
    _write(str(jdk / "release"), b'JAVA_RUNTIME_VERSION="17.0.20+8"\n')
    _write(str(jdk / "lib" / "server" / "libjvm.so"))
    for name in ("a.jar", "b.jar"):
        _write(str(home / "jars" / name))
    _write(str(home / "conf" / "log4j2.properties.template"))
    env = {"JAVA_HOME": str(jdk), "XDG_CACHE_HOME": str(tmp_path / "cache")}
    return str(jdk), str(home), env


CONF = {"spark.driver.memory": "2g"}


def test_key_tracks_jdk_build_and_each_jar(install):
    jdk, home, _ = install
    jar = os.path.join(home, "jars", "a.jar")
    keys = [cds.archive_key(jdk, os.path.join(home, "jars"))]

    def again():
        keys.append(cds.archive_key(jdk, os.path.join(home, "jars")))
        assert keys[-1] != keys[-2]

    _write(jar, b"xy")  # size
    again()
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))  # mtime
    again()
    _write(os.path.join(jdk, "release"), b'JAVA_RUNTIME_VERSION="17.0.21+6"\n')  # JDK build
    again()
    st = os.stat(os.path.join(jdk, "lib", "server", "libjvm.so"))
    os.utime(os.path.join(jdk, "lib", "server", "libjvm.so"),
             ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    again()
    assert keys[-1] == cds.archive_key(jdk, os.path.join(home, "jars"))


def test_heap_sizes_parse_like_spark():
    assert cds.heap_mb("16g") == 16 * 1024
    assert cds.heap_mb("512m") == cds.heap_mb("512MB") == cds.heap_mb("512") == 512
    assert cds.heap_mb("2t") == 2 * 1024 * 1024
    assert cds.heap_mb("lots") is None


def test_guard_passes_only_a_plain_launch(install, tmp_path):
    jdk, home, env = install
    launch = cds.plan(CONF, env, home)
    assert launch is not None and launch.archive is None
    assert launch.recording.endswith(f".{os.getpid()}.tmp")
    assert "-XX:ArchiveClassesAtExit=" in launch.java_options
    assert "-Xlog:cds*=off" in launch.java_options
    assert os.listdir(launch.conf_dir) == []

    for var in ("SPARK_CONF_DIR", "SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH",
                "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        assert cds.plan(CONF, {**env, var: str(tmp_path)}, home) is None, var
    for key in ("spark.jars", "spark.driver.extraClassPath",
                "spark.driver.defaultJavaOptions"):
        assert cds.plan({**CONF, key: "x"}, env, home) is None, key
    assert cds.plan({"spark.driver.memory": "32g"}, env, home) is None
    assert cds.plan({"spark.driver.memory": "31g"}, env, home) is not None
    assert cds.plan(CONF, {**env, "XDG_CACHE_HOME": str(tmp_path / "a b")}, home) is None
    _write(os.path.join(home, "conf", "spark-defaults.conf"))  # Spark reads this
    assert cds.plan(CONF, env, home) is None


class _Builder:
    """Stands in for ``SparkSession.builder``: records the confs and the
    ``SPARK_CONF_DIR`` that a launch would see."""

    def __init__(self):
        self.options, self.conf_dir = {}, "unread"

    def appName(self, name):
        return self.config("spark.app.name", name)

    def master(self, master):
        return self.config("spark.master", master)

    def config(self, key, value):
        self.options[key] = value
        return self

    def getOrCreate(self):
        self.conf_dir = os.environ.get("SPARK_CONF_DIR")
        return self

    @property
    def sparkContext(self):
        return self

    def setLogLevel(self, level):
        pass


def _get_spark(monkeypatch, home, env):
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=builder))
    monkeypatch.setattr(session, "SparkContext", types.SimpleNamespace(_gateway=None))
    monkeypatch.setattr(session, "_find_spark_home", lambda: home)
    for var, value in env.items():
        monkeypatch.setenv(var, value)
    before = dict(os.environ)
    session.get_spark()
    assert dict(os.environ) == before
    return builder


def test_guarded_launch_is_unchanged(install, monkeypatch, tmp_path):
    """When the guard does not pass, get_spark hands Spark the same confs
    and environment it would without the archive."""
    _, home, env = install
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    plain = _get_spark(monkeypatch, home, {**env, "SPARK_CONF_DIR": str(tmp_path)})
    assert "spark.driver.defaultJavaOptions" not in plain.options
    assert plain.conf_dir == str(tmp_path)

    monkeypatch.delenv("SPARK_CONF_DIR")
    _write(os.path.join(home, "conf", "spark-env.sh"))
    plain = _get_spark(monkeypatch, home, env)
    assert "spark.driver.defaultJavaOptions" not in plain.options
    assert plain.conf_dir is None
    os.remove(os.path.join(home, "conf", "spark-env.sh"))

    # The archive launch: only defaultJavaOptions and, during the launch
    # only, SPARK_CONF_DIR differ. Its JVM would record, so the exit hook
    # would need a live gateway; map a published archive instead.
    launch = cds.plan(CONF, env, home)
    _write(os.path.join(os.path.dirname(launch.recording), f"{launch.key}.1.jsa"))
    mapped = _get_spark(monkeypatch, home, env)
    assert mapped.conf_dir == launch.conf_dir
    opts = mapped.options.pop("spark.driver.defaultJavaOptions")
    assert opts.startswith(f"-XX:SharedArchiveFile={os.path.dirname(launch.recording)}")
    assert mapped.options == plain.options


def test_publish_only_renames_a_clean_validated_recording(tmp_path):
    def recording():
        return _write(str(tmp_path / f"k.{os.getpid()}.tmp"), b"archive")

    checked = []

    def valid(ok):
        return lambda path: checked.append(path) or ok

    for returncode, ok in ((1, True), (-9, True), (None, True), (0, False)):
        path = recording()
        assert cds.publish(path, "k", returncode, valid(ok)) is None
        assert os.listdir(tmp_path) == []
    assert checked == [path]  # only the clean exit was validated

    path = recording()
    assert cds.publish(path, "k", 0, valid(True)) == str(tmp_path / "k.7.jsa")
    assert os.listdir(tmp_path) == ["k.7.jsa"]

    empty = _write(str(tmp_path / "k.1.tmp"), b"")
    assert cds.publish(empty, "k", 0, valid(True)) is None
    assert not os.path.exists(empty)


def test_scan_prunes_other_keys_torn_archives_and_dead_recorders(install):
    jdk, home, env = install
    launch = cds.plan(CONF, env, home)
    cache, key = os.path.dirname(launch.recording), launch.key
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    kept_live = _write(os.path.join(cache, f"{key}.{os.getpid()}.tmp"))
    for name in (f"{'0' * 20}.3.jsa", f"{'0' * 20}.{os.getpid()}.tmp",
                 f"{key}.{dead.pid}.tmp", f"{key}.99.jsa", "hs_err_1.log"):
        _write(os.path.join(cache, name), b"abc")
    # A live recorder and no archive: launch as if there were no archive.
    assert cds.plan(CONF, env, home) is None
    assert sorted(os.listdir(cache)) == sorted(["conf", os.path.basename(kept_live)])

    archive = _write(os.path.join(cache, f"{key}.3.jsa"), b"abc")
    launch = cds.plan(CONF, env, home)
    assert launch.archive == archive and launch.recording is None


CHILD = textwrap.dedent("""
    import sys
    sys.path.insert(0, {root!r})
    from cernbox_migration_database_spark.session import get_spark
    conf = {{"spark.driver.extraJavaOptions": "-Xlog:class+load=info:file=" + sys.argv[1]}}
    spark = get_spark(app_name="cds-test", extra_conf=conf)
    assert spark.range(10).count() == 10
    acc = spark.sparkContext.accumulator(0)  # opens the JVM's accumulator connection
    spark.sparkContext.parallelize(range(10), 2).foreach(lambda x: acc.add(x))
    assert acc.value == 45
    print(spark.conf.get("spark.driver.defaultJavaOptions", "none"), file=sys.stderr)
    print("done")
""").format(root=ROOT)


def _child(env, log):
    out = subprocess.run([sys.executable, "-c", CHILD, log], env=env, capture_output=True,
                         text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout == "done\n"  # the JVM printed nothing on stdout
    return out.stderr


def _shared_top(log) -> int:
    with open(log, encoding="utf-8") as fh:
        return sum("source: shared objects file (top)" in line for line in fh)


def test_first_session_records_and_the_next_maps(tmp_path):
    env = {k: v for k, v in os.environ.items() if k not in cds._CLASSPATH_ENV}
    env.update(XDG_CACHE_HOME=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_CPUS="2")
    cache = os.path.join(tmp_path, "spark-graft")
    err = _child(env, str(tmp_path / "first.log"))
    assert "Traceback" not in err  # the exit hook ends the JVM quietly
    assert _shared_top(tmp_path / "first.log") == 0
    [archive] = [n for n in os.listdir(cache) if n.endswith(".jsa")]
    assert sorted(os.listdir(cache)) == sorted([archive, "conf"])  # no temp, no crash log

    # A torn copy under a temp name of a live process is never handed over.
    key = archive.split(".")[0]
    planted = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
    with open(os.path.join(cache, archive), "rb") as src, open(planted, "wb") as dst:
        dst.write(src.read(os.path.getsize(src.name) // 2))
    err = _child(env, str(tmp_path / "second.log"))
    assert f"-XX:SharedArchiveFile={os.path.join(cache, archive)}" in err
    assert ".tmp" not in err
    assert _shared_top(tmp_path / "second.log") > 1000

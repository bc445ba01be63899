"""Session defaults come from the machine unless the environment says
otherwise, and the driver JVM's class-data-sharing archive falls back to
a plain start whenever it cannot be used. Only the last test starts
Spark (in subprocesses); the others load session.py or fake the
builder."""

from __future__ import annotations

import importlib.util
import io
import json
import os
import subprocess
import sys
import threading
import types
from unittest import mock

import pyspark
import pytest
from pyspark.find_spark_home import _find_spark_home

from rust_query_engine_greatest_spark import session as session_mod

PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "rust_query_engine_greatest_spark", "session.py")


def _load_session():
    # a name inside the package, so session.py's relative imports resolve
    spec = importlib.util.spec_from_file_location(
        "rust_query_engine_greatest_spark.session_under_test", PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_cpus_default_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _load_session().DEFAULT_CPUS == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _load_session().DEFAULT_CPUS == 3


@pytest.mark.parametrize("total_kb, heap", [
    (16_479_424, "5g"),       # 15.7 GiB box
    (2 * 2**20, "1g"),        # never below 1g
    (512 * 2**20, "28g"),     # never above 28g (compressed oops)
])
def test_driver_mem_is_a_third_of_ram(total_kb, heap):
    session = _load_session()
    session.open = lambda path: io.StringIO(f"MemTotal:   {total_kb} kB\nMemFree: 1 kB\n")
    assert session.default_driver_mem() == heap


class _Builder:
    """SparkSession.builder stand-in: records the confs and the
    SPARK_CONF_DIR the JVM launch would see."""

    def __init__(self):
        self.conf, self.conf_dirs = {}, []

    def master(self, _):
        return self

    appName = master

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        self.conf_dirs.append(os.environ.get("SPARK_CONF_DIR"))
        return mock.MagicMock()


@pytest.fixture
def fake_launch(tmp_path, monkeypatch):
    """get_spark with a faked builder, a store under tmp_path, no JVM yet
    in this process, and atexit registrations recorded, not run."""
    builders, exits = [], []

    def builder():
        builders.append(_Builder())
        return builders[-1]

    monkeypatch.setattr(session_mod, "CDS_DIR", str(tmp_path / "cds"))
    monkeypatch.setattr(session_mod, "CLASS_SHARING", {"archive": None, "mapped": False})
    monkeypatch.setattr(session_mod, "SparkContext", types.SimpleNamespace(_gateway=None))
    monkeypatch.setattr(session_mod, "atexit", types.SimpleNamespace(
        register=lambda *a: exits.append(a)))
    monkeypatch.setattr(session_mod, "SparkSession", type(
        "S", (), {"builder": property(lambda self: builder())})())
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(v, raising=False)
    conf_dir = tmp_path / "spark" / "conf"  # the launcher's default
    conf_dir.mkdir(parents=True)
    (conf_dir / "spark-defaults.conf.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_HOME", str(tmp_path / "spark"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return types.SimpleNamespace(builders=builders, exits=exits, conf_dir=conf_dir)


def _java_opts(builder) -> str:
    return builder.conf.get("spark.driver.extraJavaOptions", "")


@pytest.mark.parametrize("preset", [False, True])
def test_templates_only_conf_dir_is_swapped_for_the_launch(fake_launch, monkeypatch, preset):
    """A conf dir of *.template files only, named by SPARK_CONF_DIR or
    the default under SPARK_HOME: the JVM launch sees the store's empty
    conf dir (CDS refuses a non-empty classpath dir), the first session
    dumps, and SPARK_CONF_DIR is as before afterwards."""
    if preset:
        monkeypatch.setenv("SPARK_CONF_DIR", str(fake_launch.conf_dir))
    session_mod.get_spark(cpus=1, extra_conf={
        "spark.driver.extraJavaOptions": "-Duser.opt=1"})
    b, = fake_launch.builders
    assert "-XX:ArchiveClassesAtExit=" in _java_opts(b)
    assert _java_opts(b).endswith("-Duser.opt=1")
    assert b.conf_dirs == [os.path.join(session_mod.CDS_DIR, "conf")]
    assert os.environ.get("SPARK_CONF_DIR") == (str(fake_launch.conf_dir) if preset else None)
    assert len(fake_launch.exits) == 1


def test_live_conf_file_gets_no_class_sharing(fake_launch, monkeypatch):
    """A live file in the conf dir (a user's spark-defaults.conf) must
    stay visible to the launcher: no CDS options, SPARK_CONF_DIR left
    as it was, nothing dumped."""
    (fake_launch.conf_dir / "spark-defaults.conf").write_text("spark.x 1\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(fake_launch.conf_dir))
    session_mod.get_spark(cpus=1)
    b, = fake_launch.builders
    assert "spark.driver.extraJavaOptions" not in b.conf
    assert b.conf_dirs == [str(fake_launch.conf_dir)]
    assert os.environ["SPARK_CONF_DIR"] == str(fake_launch.conf_dir)
    assert fake_launch.exits == []
    assert session_mod.CLASS_SHARING == {"archive": None, "mapped": False}


def test_existing_jvm_is_untouched(fake_launch, monkeypatch):
    """A session whose JVM is already up (or supplied by a driver) gets
    no CDS options: they could not reach the running JVM."""
    monkeypatch.setattr(session_mod, "SparkContext", types.SimpleNamespace(_gateway=object()))
    session_mod.get_spark(cpus=1)
    assert "spark.driver.extraJavaOptions" not in fake_launch.builders[0].conf


def test_archive_name_tracks_spark_and_jdk(tmp_path, monkeypatch):
    """A JDK, Spark version or jar change names a new archive."""
    java_home, spark_home = tmp_path / "jdk", tmp_path / "spark"
    java_home.mkdir()
    (spark_home / "jars").mkdir(parents=True)
    (java_home / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"x")
    monkeypatch.setenv("JAVA_HOME", str(java_home))

    def name():
        return session_mod.archive_name(str(spark_home), "/conf")

    base = name()
    assert base == name()
    (java_home / "release").write_text('JAVA_VERSION="17.0.21"\n')
    jdk = name()
    monkeypatch.setattr(pyspark, "__version__", "9.9.9")
    spark = name()
    (spark_home / "jars" / "extra.jar").write_bytes(b"y")
    jars = name()
    assert len({base, jdk, spark, jars}) == 4


def test_only_a_sealed_archive_is_used(fake_launch):
    """JDK 17 crashes on a truncated or garbage archive, so one that is
    not exactly what a completed dump sealed is never passed to the JVM:
    the session dumps a fresh one instead."""
    session_mod.get_spark(cpus=1)
    archive = _java_opts(fake_launch.builders[0]).split("ArchiveClassesAtExit=")[1].split()[0]
    final = archive.rsplit(".", 2)[0]
    os.remove(final + ".lock")  # as if that dump had finished
    with open(final, "wb") as f:
        f.write(b"\0" * 4096)
    with open(final + ".seal", "w") as f:
        json.dump(session_mod.stats._files(final), f)
    assert session_mod._sealed(final)
    os.truncate(final, 1024)
    assert not session_mod._sealed(final)
    session_mod.get_spark(cpus=1)
    assert "-XX:ArchiveClassesAtExit=" in _java_opts(fake_launch.builders[1])
    os.remove(final + ".lock")
    with open(final + ".seal", "w") as f:
        json.dump(session_mod.stats._files(final), f)
    session_mod.get_spark(cpus=1)
    assert f"-XX:SharedArchiveFile={final} -Xshare:auto" in _java_opts(fake_launch.builders[2])
    assert session_mod.CLASS_SHARING == {"archive": os.path.basename(final), "mapped": False}


def test_racing_sessions_dump_at_most_once(fake_launch):
    """Sessions starting together with no archive: one dumps, the others
    start plain while its lock is held by a live process; a lock left by
    a process that has exited is taken over, with its unfinished dump."""
    barrier = threading.Barrier(4)

    def start():
        barrier.wait()
        session_mod.get_spark(cpus=1)

    threads = [threading.Thread(target=start) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    opts = [_java_opts(b) for b in fake_launch.builders]
    assert sum("ArchiveClassesAtExit" in o for o in opts) == 1
    assert sum(o == "" for o in opts) == 3
    lock, = [os.path.join(session_mod.CDS_DIR, n)
             for n in os.listdir(session_mod.CDS_DIR) if n.endswith(".lock")]
    dead = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True).stdout.strip()
    with open(lock, "w") as f:
        f.write(dead)
    leftover = f"{lock[:-len('.lock')]}.{dead}.tmp"  # its unfinished dump
    open(leftover, "w").close()
    session_mod.get_spark(cpus=1)
    assert "ArchiveClassesAtExit" in _java_opts(fake_launch.builders[-1])
    assert not os.path.exists(leftover)


_CHILD = """
import json, sys
import duckdb
from rust_query_engine_greatest_spark import instrument, session
from rust_query_engine_greatest_spark.queries import REGISTRY
from rust_query_engine_greatest_spark.sources.catalog import TABLES
from tests.conftest import SF_DIR, assert_frames_match
session.CDS_DIR = sys.argv[1]
spark = session.get_spark(app_name="cds-test", cpus=2)
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
q = REGISTRY["tpch_q1"]
assert_frames_match(q.build(spark, SF_DIR), con.sql(q.oracle))
print("SHARING", json.dumps(instrument.run_context(spark)["class_sharing"]))
"""


def test_truncated_archive_starts_plain_then_heals(tmp_path):
    """End to end, in fresh JVMs: a truncated archive at the expected
    path gives a normal start that returns q1's oracle rows and reports
    sharing not mapped; that session dumps a sealed archive at exit, and
    the next one maps it and still returns the oracle's rows."""
    store = tmp_path / "cds"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    home = os.environ.get("SPARK_HOME") or _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    if any(not n.endswith(".template") for n in os.listdir(conf)):
        pytest.skip("live Spark conf dir: class sharing is off by design")
    store.mkdir()
    final = store / session_mod.archive_name(home, str(store / "conf"))
    final.write_bytes(b"\xa8\xab\x0b\xf0" + b"\0" * 8192)
    with open(f"{final}.seal", "w") as f:
        json.dump(session_mod.stats._files(str(final)), f)
    os.truncate(final, 4096)

    def child():
        out = subprocess.run([sys.executable, "-c", _CHILD, str(store)], cwd=root,
                             env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g"),
                             capture_output=True, text=True, timeout=600)
        line = [ln for ln in out.stdout.splitlines() if ln.startswith("SHARING")]
        assert out.returncode == 0 and line, out.stderr[-3000:]
        return json.loads(line[0].split(" ", 1)[1])

    try:
        assert child() == {"archive": final.name, "mapped": False}
        assert session_mod._sealed(str(final))
        assert sorted(os.listdir(store)) == sorted(
            ["conf", final.name, f"{final.name}.seal"])
        assert child() == {"archive": final.name, "mapped": True}
    finally:
        for p in store.glob("*.jsa*"):
            p.unlink()

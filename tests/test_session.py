"""The driver's class-data-sharing (CDS) archive (`session.py`).

All but the last test start no JVM: they drive the key, the launch
context and the temp-file publishing against a fake Spark home, JDK and
cache directory. The last one launches two real driver JVMs on a fresh
cache directory and checks the second one loads Spark's classes from
the archive the first one recorded.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import pytest

from distributed_mapreduce_spark import session
from distributed_mapreduce_spark.session import (
    _CDS_MAGIC,
    _JAVA_OPTS,
    _cds_archive,
    _cds_key,
    _class_data_sharing,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def box(tmp_path, monkeypatch):
    """A Spark home with two jars and a templates-only conf dir, a JDK
    with a ``release`` file, and an empty CDS cache directory."""
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    for jar in ("a.jar", "b.jar"):
        (spark_home / "jars" / jar).write_bytes(b"PK" + jar.encode())
    jdk = tmp_path / "jdk"
    jdk.mkdir()
    (jdk / "release").write_text('JAVA_RUNTIME_VERSION="17.0.20+8"\n')
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setattr(session, "CDS_DIR", str(tmp_path / "cds"))
    return spark_home, jdk


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_cds_key_tracks_jar_sizes_and_jdk_release(box):
    spark_home, _ = box
    release = b'JAVA_RUNTIME_VERSION="17.0.20+8"\n'
    key = _cds_key(str(spark_home), release)
    assert key == _cds_key(str(spark_home), release)
    assert key != _cds_key(str(spark_home), b'JAVA_RUNTIME_VERSION="17.0.21+9"\n')
    jar = spark_home / "jars" / "a.jar"
    st = os.stat(jar)
    jar.write_bytes(jar.read_bytes() + b"!")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))  # size alone moves
    assert _cds_key(str(spark_home), release) != key


def test_cds_flags_keep_the_callers_java_options(box):
    conf = {_JAVA_OPTS: "-Dfoo=1"}
    with _class_data_sharing(conf):
        assert os.environ["SPARK_CONF_DIR"] == os.path.join(session.CDS_DIR, "conf")
        assert os.listdir(os.environ["SPARK_CONF_DIR"]) == []
    opts = conf[_JAVA_OPTS].split()
    assert opts[0] == "-Dfoo=1"
    assert any(o.startswith("-XX:ArchiveClassesAtExit=") for o in opts)
    assert "-Xlog:cds=off" in opts

    # Once an archive is published, the next launch reads it.
    spark_home, jdk = box
    key = _cds_key(str(spark_home), (jdk / "release").read_bytes())
    with open(os.path.join(session.CDS_DIR, f"{key}.jsa"), "wb") as f:
        f.write(_CDS_MAGIC)
    conf = {_JAVA_OPTS: "-Dfoo=1"}
    with _class_data_sharing(conf):
        pass
    opts = conf[_JAVA_OPTS].split()
    assert opts[0] == "-Dfoo=1"
    assert any(o.startswith("-XX:SharedArchiveFile=") for o in opts)


def test_cds_is_off_when_the_conf_dir_holds_a_real_file(box, tmp_path, monkeypatch):
    spark_home, _ = box
    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    conf = {_JAVA_OPTS: "-Dfoo=1"}
    with _class_data_sharing(conf):
        assert "SPARK_CONF_DIR" not in os.environ
    assert conf == {_JAVA_OPTS: "-Dfoo=1"}

    user_conf = tmp_path / "user_conf"
    user_conf.mkdir()
    (user_conf / "log4j2.properties").write_text("rootLogger.level = info\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(user_conf))
    conf = {}
    with _class_data_sharing(conf):
        assert os.environ["SPARK_CONF_DIR"] == str(user_conf)
    assert conf == {}


def test_environment_is_restored_after_launch(box, tmp_path, monkeypatch):
    before = dict(os.environ)
    with _class_data_sharing({}):
        assert os.environ["SPARK_CONF_DIR"] != before.get("SPARK_CONF_DIR")
    assert dict(os.environ) == before

    templates = tmp_path / "templates_conf"
    templates.mkdir()
    (templates / "log4j2.properties.template").write_text("# template\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(templates))
    before = dict(os.environ)
    with pytest.raises(RuntimeError):
        with _class_data_sharing({}):
            assert os.environ["SPARK_CONF_DIR"] == os.path.join(session.CDS_DIR, "conf")
            raise RuntimeError("gateway failed to start")
    assert dict(os.environ) == before


def test_unfinished_dump_is_never_published(box):
    cds = session.CDS_DIR
    os.makedirs(cds)
    key = "k" * 16
    live = os.path.join(cds, f"{key}.{os.getpid()}.tmp")
    dead = os.path.join(cds, f"{key}.{_dead_pid()}.tmp")
    for path in (live, dead):
        with open(path, "wb") as f:
            f.write(b"\0" * 4 + b"classes")
    other = os.path.join(cds, "0" * 16 + ".jsa")
    with open(other, "wb") as f:
        f.write(_CDS_MAGIC)

    # A live writer's dump in progress is left alone and blocks a second
    # recording; a dead writer's is deleted; neither is published.
    assert _cds_archive(key) == (None, True)
    assert os.path.exists(live)
    assert not os.path.exists(dead)
    assert not os.path.exists(other)  # an archive under another key

    with open(live, "r+b") as f:
        f.write(_CDS_MAGIC)
    archive = os.path.join(cds, f"{key}.jsa")
    assert _cds_archive(key) == (archive, False)
    assert not os.path.exists(live)


_SESSION = """
import sys
sys.path.insert(0, {repo!r})
from distributed_mapreduce_spark import session
session.CDS_DIR = {cds!r}
spark = session.get_spark("cds", cpus=1, extra_conf={{
    "spark.driver.memory": "1g",
    "spark.driver.extraJavaOptions": "-Xlog:class+load=info:file={log}",
}})
assert spark.range(3).count() == 3
"""


def _session(cds: str, log: str) -> None:
    code = _SESSION.format(repo=REPO, cds=cds, log=log)
    subprocess.run([sys.executable, "-c", code], check=True, timeout=300,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def _spark_context_source(log: str) -> str:
    with open(log) as f:
        for line in f:
            if " org.apache.spark.SparkContext source: " in line:
                return line.split(" source: ", 1)[1].strip()
    raise AssertionError(f"SparkContext never loaded in {log}")


def test_second_session_loads_spark_classes_from_the_archive(tmp_path):
    cds = str(tmp_path / "cds")
    try:
        _loads_from_archive(cds, tmp_path)
    finally:
        shutil.rmtree(cds, ignore_errors=True)  # ~140 MB


def _loads_from_archive(cds, tmp_path) -> None:
    _session(cds, str(tmp_path / "first.log"))
    assert _spark_context_source(str(tmp_path / "first.log")) != "shared objects file (top)"
    # The driver JVM dumps at exit, after the Python process is gone.
    deadline = time.monotonic() + 120
    while True:
        tmps = [n for n in os.listdir(cds) if n.endswith(".tmp")]
        if tmps:
            with open(os.path.join(cds, tmps[0]), "rb") as f:
                if f.read(4) == _CDS_MAGIC:
                    break
        assert time.monotonic() < deadline, os.listdir(cds)
        time.sleep(0.2)
    _session(cds, str(tmp_path / "second.log"))
    assert _spark_context_source(str(tmp_path / "second.log")) == "shared objects file (top)"
    assert [n for n in os.listdir(cds) if n.endswith(".jsa")]

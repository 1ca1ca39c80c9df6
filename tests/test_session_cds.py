"""Lifecycle of the driver JVM's class-data-sharing archive
(kwery_spark/session.py ``_cds_options``): a recording is promoted only
once its writer is dead and a JVM maps it cleanly, a bad or foreign
archive is never handed to the JVM, the classpath precondition leaves
the environment untouched when it fails, and the key follows the JDK
and the Spark jars. Most cases need no Spark session: they run against
a fake ``SPARK_HOME`` and archive directory under ``tmp_path``."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from kwery_spark import catalog, session

DEAD_PID = 999999999  # above pid_max, so no process can have it
REAL_SPARK_HOME = session._find_spark_home()


@pytest.fixture(scope="module")
def complete_archive(tmp_path_factory):
    """A small complete dynamic archive (the classes of ``java -version``)."""
    path = str(tmp_path_factory.mktemp("jsa") / "complete.jsa")
    subprocess.run(
        [session._java_binary(), f"-XX:ArchiveClassesAtExit={path}",
         *session._CDS_QUIET.split(), "-version"],
        capture_output=True, timeout=60, check=True,
    )
    assert session._archive_ok(session._java_binary(), path)
    return path


@pytest.fixture
def truncated(complete_archive, tmp_path):
    path = tmp_path / "truncated.jsa"
    with open(complete_archive, "rb") as f:
        data = f.read()
    path.write_bytes(data[: len(data) // 2])
    return str(path)


@pytest.fixture
def fake_home(tmp_path, monkeypatch):
    """A SPARK_HOME with one jar and a template-only conf directory, an
    archive directory under tmp_path, and no classpath env vars."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "a.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-env.sh.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    for var in session._CDS_CLASSPATH_ENV:
        # setenv first, so that monkeypatch restores the live value
        monkeypatch.setenv(var, "x")
        monkeypatch.delenv(var)
    cds = tmp_path / "scratch" / "cds"
    cds.mkdir(parents=True)
    monkeypatch.setattr(session, "_CDS_DIR", str(cds))
    monkeypatch.chdir(tmp_path)
    return home


def _archive_path(home) -> str:
    key = session._cds_key(str(home), session._java_binary())
    return os.path.join(session._CDS_DIR, f"spark-{key}.jsa")


def test_missing_archive_records(fake_home):
    archive = _archive_path(fake_home)
    opts = session._cds_options()
    assert opts.split() == [
        f"-XX:ArchiveClassesAtExit={archive}_pid{os.getpid()}", *session._CDS_QUIET.split()
    ]
    assert os.environ["SPARK_CONF_DIR"] == os.path.join(session._CDS_DIR, "conf")
    assert os.listdir(os.environ["SPARK_CONF_DIR"]) == []


def test_truncated_recording_is_deleted_never_used(fake_home, truncated, tmp_path):
    assert not session._archive_ok(session._java_binary(), truncated)
    tmp = f"{_archive_path(fake_home)}_pid{DEAD_PID}"
    os.replace(truncated, tmp)
    opts = session._cds_options()
    assert not os.path.exists(tmp)
    assert tmp not in opts and "SharedArchiveFile" not in opts
    assert "ArchiveClassesAtExit" in opts
    assert not [n for n in os.listdir(tmp_path) if n.startswith("hs_err")]


def test_finished_recording_is_promoted(fake_home, complete_archive, truncated):
    archive = _archive_path(fake_home)
    foreign = os.path.join(session._CDS_DIR, "spark-0123456789abcdef.jsa")
    os.symlink(complete_archive, foreign)
    os.symlink(complete_archive, f"{archive}_pid{DEAD_PID}")
    os.replace(truncated, f"{archive}_pid{DEAD_PID - 1}")
    opts = session._cds_options()
    assert opts.split()[0] == f"-XX:SharedArchiveFile={archive}"
    # one archive per key: the foreign key and the other recording go
    assert sorted(os.listdir(session._CDS_DIR)) == ["conf", os.path.basename(archive)]
    assert session._archive_ok(session._java_binary(), archive)


def test_live_recording_is_left_alone(fake_home, truncated):
    writer = subprocess.Popen(["sleep", "60"])
    try:
        tmp = f"{_archive_path(fake_home)}_pid{writer.pid}"
        os.replace(truncated, tmp)
        opts = session._cds_options()
        assert os.path.exists(tmp) and tmp not in opts
        assert not os.path.exists(_archive_path(fake_home))
    finally:
        writer.kill()
        writer.wait(timeout=10)


def test_spark_defaults_skips_archive(fake_home):
    (fake_home / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    assert session._cds_options() is None
    assert "SPARK_CONF_DIR" not in os.environ
    assert os.listdir(session._CDS_DIR) == []


@pytest.mark.parametrize("var", session._CDS_CLASSPATH_ENV)
def test_classpath_env_skips_archive(fake_home, monkeypatch, var):
    monkeypatch.setenv(var, "/elsewhere")
    assert session._cds_options() is None
    assert os.environ[var] == "/elsewhere"
    assert all(os.environ.get(v) is None for v in session._CDS_CLASSPATH_ENV if v != var)


def test_key_follows_jars_and_java(fake_home, tmp_path):
    java = tmp_path / "java"
    java.write_bytes(b"1")
    key = session._cds_key(str(fake_home), str(java))
    assert session._cds_key(str(fake_home), str(java)) == key
    (fake_home / "jars" / "a.jar").write_bytes(b"jar2")
    jar_key = session._cds_key(str(fake_home), str(java))
    assert jar_key != key
    java.write_bytes(b"22")
    assert session._cds_key(str(fake_home), str(java)) != jar_key
    other = tmp_path / "java2"
    other.write_bytes(b"22")
    os.utime(other, ns=(java.stat().st_atime_ns, java.stat().st_mtime_ns))
    assert session._cds_key(str(fake_home), str(other)) != session._cds_key(
        str(fake_home), str(java)
    )


def test_live_session_carries_one_archive_option(spark):
    if not session._cds_applies(session._find_spark_home()):
        pytest.skip("the classpath precondition does not hold here")
    args = list(spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
                .getInputArguments())
    cds = [a for a in args if a.startswith(("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="))]
    assert len(cds) == 1
    path = cds[0].split("=", 1)[1]
    assert os.path.commonpath([catalog._SCRATCH, path]) == catalog._SCRATCH


_CHILD = """
import sys
sys.path.insert(0, {root!r})
from kwery_spark import session
session._CDS_DIR = {cds!r}
session._SCRATCH_SWEPT = True  # leave the checkout's own scratch alone
spark = session.get_spark("cds-test", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
# a Python task, so the accumulator server is connected when the JVM exits
print(spark.sparkContext.parallelize([1, 2, 3]).map(lambda x: x).count())
"""


def test_session_starts_past_bad_archives_and_records(fake_home, complete_archive, truncated,
                                                      tmp_path, monkeypatch):
    # A real start with a truncated recording and a foreign-key archive
    # present: the session starts, the JVM prints nothing about the
    # archive and leaves no crash log, and its recording (finished before
    # the child process exits) is promoted by the next session.
    monkeypatch.setenv("SPARK_HOME", REAL_SPARK_HOME)
    key = session._cds_key(REAL_SPARK_HOME, session._java_binary())
    archive = os.path.join(session._CDS_DIR, f"spark-{key}.jsa")
    os.replace(truncated, f"{archive}_pid{DEAD_PID}")
    os.symlink(complete_archive, os.path.join(session._CDS_DIR, "spark-0123456789abcdef.jsa"))
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    child = subprocess.Popen(
        [sys.executable, "-c", _CHILD.format(root=root, cds=session._CDS_DIR)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, cwd=tmp_path,
        env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g"),
    )
    out, err = child.communicate(timeout=240)
    assert child.returncode == 0, err[-2000:]
    assert out.splitlines() == ["3"]
    noise = ("cds", ".jsa", "hs_err", "Traceback", "Exception")
    assert [ln for ln in err.splitlines() if any(w in ln for w in noise)] == []
    assert not [n for n in os.listdir(tmp_path) if n.startswith("hs_err")]
    assert sorted(os.listdir(session._CDS_DIR)) == [
        "conf", "spark-0123456789abcdef.jsa", f"spark-{key}.jsa_pid{child.pid}"
    ]
    try:
        assert session._cds_options().split()[0] == f"-XX:SharedArchiveFile={archive}"
        assert sorted(os.listdir(session._CDS_DIR)) == ["conf", os.path.basename(archive)]
    finally:
        if os.path.exists(archive):
            os.unlink(archive)  # ~140 MB; pytest keeps recent tmp dirs

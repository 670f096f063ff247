"""The driver JVM's class-data-sharing archive (``session._jvm_launch``).

The test session's JVM is up already, so every launch here runs in a fresh
Python process that points ``session.JVM_ARCHIVE_DIR`` at a temporary
directory: each must start normally and count ``spark.range(3)`` right,
whatever the directory holds. The launch rules that need no JVM are checked
in this process."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from sparkfusion import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: one session in a fresh process; argv: archive dir, then "clean" (stop and
#: let the JVM exit, writing an archive it was asked for) or "kill"
_CHILD = r"""
import json, os, sys
from sparkfusion import session
session.JVM_ARCHIVE_DIR = sys.argv[1]
conf_dir = os.environ.get("SPARK_CONF_DIR")
spark = session.get_session("jvm-archive-test", cpus=1)
from pyspark import SparkContext
gw = SparkContext._gateway
with open(f"/proc/{gw.proc.pid}/cmdline") as f:
    cmd = f.read().split("\0")
with open(f"/proc/{gw.proc.pid}/maps") as f:
    mapped = sorted({ln.split()[-1] for ln in f.read().splitlines() if ln.endswith(".jsa")})
out = {
    "count": spark.range(3).count(),
    "flags": [c for c in cmd if c.startswith(("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="))],
    "mapped": mapped,
    "conf_dir_kept": os.environ.get("SPARK_CONF_DIR") == conf_dir,
}
spark.stop()
gw.shutdown()
if sys.argv[2] == "clean":
    gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
    out["rc"] = gw.proc.wait(timeout=240)
else:
    gw.proc.kill()
    gw.proc.wait()
print("RESULT " + json.dumps(out), flush=True)
"""


def _launch(archive_dir, exit_mode: str) -> dict:
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, str(archive_dir), exit_mode],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=400,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stdout[-2000:] + proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out["count"] == 3 and out["conf_dir_kept"], out
    return out


def _key_path(archive_dir) -> str:
    """The archive path a launch with ``archive_dir`` would use."""
    prev = session.JVM_ARCHIVE_DIR
    session.JVM_ARCHIVE_DIR = str(archive_dir)
    try:
        return session._jvm_archive_path()
    finally:
        session.JVM_ARCHIVE_DIR = prev


@pytest.fixture(scope="module")
def written(tmp_path_factory):
    """An archive dir after one session on a fresh checkout stopped cleanly."""
    archive_dir = tmp_path_factory.mktemp("jvm_archive")
    return archive_dir, _launch(archive_dir, "clean")


def test_no_archive_starts_and_writes_one_at_clean_exit(written):
    archive_dir, out = written
    archive = _key_path(archive_dir)
    assert out["flags"] == [f"-XX:ArchiveClassesAtExit={archive}"]
    assert out["rc"] == 0
    assert session._archive_complete(archive)


def test_complete_archive_is_mapped(written):
    archive_dir, _ = written
    archive = _key_path(archive_dir)
    out = _launch(archive_dir, "kill")
    assert out["flags"] == [f"-XX:SharedArchiveFile={archive}"]
    assert archive in out["mapped"]


def test_moved_checkout_writes_its_own_archive(written, tmp_path):
    """The archive records the conf dir's absolute path on its classpath,
    so a copy of the checkout cannot map it: the copy's launch keys a new
    archive, deletes the copied one and writes its own at a clean exit."""
    archive_dir, _ = written
    copied = _key_path(archive_dir)
    moved_dir = tmp_path / "moved" / ".jvm_archive"
    shutil.copytree(archive_dir, moved_dir)
    archive = _key_path(moved_dir)
    assert os.path.basename(archive) != os.path.basename(copied)
    out = _launch(moved_dir, "clean")
    assert out["flags"] == [f"-XX:ArchiveClassesAtExit={archive}"]
    assert out["rc"] == 0
    assert session._archive_complete(archive)
    assert not os.path.exists(moved_dir / os.path.basename(copied))


@pytest.mark.parametrize(
    "content",
    [b"\0" * 65536, b"not a class-data archive\n" * 100],
    ids=["zero-header", "garbage"],
)
def test_incomplete_archive_is_replaced(tmp_path, content):
    """A header of zeros (what a dump killed midway leaves: the JVM writes
    the header last) and garbage are deleted before the launch, which then
    asks the JVM to write a new archive."""
    archive_dir = tmp_path / ".jvm_archive"
    archive = _key_path(archive_dir)
    archive_dir.mkdir()
    with open(archive, "wb") as f:
        f.write(content)
    out = _launch(archive_dir, "kill")
    assert out["flags"] == [f"-XX:ArchiveClassesAtExit={archive}"]
    assert not os.path.exists(archive)  # deleted, and the killed JVM wrote none


def test_archive_for_another_classpath_is_ignored(tmp_path):
    """A complete archive at the key path that holds Spark classes loaded
    from another classpath (the jars without Spark's conf dir and slf4j
    entries ahead of them): the JVM finds the mismatch, unmaps the archive
    under ``-Xshare:auto`` and starts as if there were none."""
    archive_dir = tmp_path / ".jvm_archive"
    archive = _key_path(archive_dir)
    archive_dir.mkdir()
    # the java the key names, so only the classpath differs
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=error",
         "-cp", os.path.join(_find_spark_home(), "jars", "*"),
         "org.apache.spark.deploy.SparkSubmit", "--version"],
        check=True, capture_output=True, timeout=120,
    )
    assert session._archive_complete(archive)
    out = _launch(archive_dir, "kill")
    assert out["flags"] == [f"-XX:SharedArchiveFile={archive}"]
    assert archive not in out["mapped"]


# -- launch rules, no JVM started -------------------------------------------


@pytest.fixture
def no_jvm(monkeypatch, tmp_path):
    """This process as if no JVM were up yet, with its archive dir in
    ``tmp_path`` and no caller launch settings."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "JVM_ARCHIVE_DIR", str(tmp_path / ".jvm_archive"))
    for var in ("PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR",
                *session._CLASSPATH_ENV):
        monkeypatch.delenv(var, raising=False)
    return tmp_path


def test_launch_asks_for_an_archive_by_default(no_jvm):
    java_opts, conf_dir = session._jvm_launch_conf()
    assert java_opts.startswith(f"-XX:ArchiveClassesAtExit={session._jvm_archive_path()} ")
    assert conf_dir == os.path.join(session.JVM_ARCHIVE_DIR, "conf")
    assert os.listdir(conf_dir) == []


def test_new_archive_request_deletes_other_archives(no_jvm):
    """Archives of another JDK or jar set go when this key asks for its own;
    a complete archive for this key is used and leaves them alone."""
    os.makedirs(session.JVM_ARCHIVE_DIR)
    other = os.path.join(session.JVM_ARCHIVE_DIR, "0123456789abcdef.jsa")
    with open(other, "wb") as f:
        f.write(session._DYNAMIC_ARCHIVE_MAGIC.to_bytes(4, sys.byteorder))
    archive = session._jvm_archive_path()
    with open(archive, "wb") as f:
        f.write(session._DYNAMIC_ARCHIVE_MAGIC.to_bytes(4, sys.byteorder))
    assert session._jvm_launch_conf()[0].startswith("-XX:SharedArchiveFile=")
    assert os.path.exists(other)
    os.remove(archive)
    assert session._jvm_launch_conf()[0].startswith("-XX:ArchiveClassesAtExit=")
    assert not os.path.exists(other)


def _conf_dir_with_defaults(tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.driver.memory 2g\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))


def _caller_default_java_options(tmp_path, monkeypatch):
    monkeypatch.setenv(
        "PYSPARK_SUBMIT_ARGS", "--conf spark.driver.defaultJavaOptions=-Dx=1 pyspark-shell"
    )


def _jvm_up(tmp_path, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())


def _caller_driver_class_path(tmp_path, monkeypatch):
    monkeypatch.setenv(
        "PYSPARK_SUBMIT_ARGS", f"--conf spark.driver.extraClassPath={tmp_path} pyspark-shell"
    )


def _classpath_env(var):
    def setup(tmp_path, monkeypatch):
        monkeypatch.setenv(var, str(tmp_path))

    setup.__name__ = f"_{var}"
    return setup


@pytest.mark.parametrize(
    "setup",
    [
        _conf_dir_with_defaults,
        _caller_default_java_options,
        _jvm_up,
        _caller_driver_class_path,
        *map(_classpath_env, session._CLASSPATH_ENV),
    ],
    ids=lambda setup: setup.__name__.lstrip("_"),
)
def test_no_archive_flag(no_jvm, monkeypatch, setup):
    setup(no_jvm, monkeypatch)
    assert session._jvm_launch_conf() is None


@pytest.mark.parametrize("raises", [False, True])
@pytest.mark.parametrize("caller_conf_dir", [None, "templates"])
def test_get_session_restores_spark_conf_dir(no_jvm, monkeypatch, caller_conf_dir, raises):
    if caller_conf_dir is not None:
        caller_conf_dir = str(no_jvm / caller_conf_dir)
        os.makedirs(caller_conf_dir)
        open(os.path.join(caller_conf_dir, "spark-defaults.conf.template"), "w").close()
        monkeypatch.setenv("SPARK_CONF_DIR", caller_conf_dir)
    seen = {}

    class _Session:
        class sparkContext:
            @staticmethod
            def setLogLevel(level):
                pass

    def get_or_create(builder):
        seen["conf_dir"] = os.environ.get("SPARK_CONF_DIR")
        if raises:
            raise RuntimeError("launch failed")
        return _Session()

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    if raises:
        with pytest.raises(RuntimeError):
            session.get_session("t")
    else:
        session.get_session("t")
    assert seen["conf_dir"] == os.path.join(session.JVM_ARCHIVE_DIR, "conf")
    assert os.environ.get("SPARK_CONF_DIR") == caller_conf_dir

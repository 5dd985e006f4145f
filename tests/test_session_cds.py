"""The driver's class archive (session.py): promotion of a finished dump,
the fallbacks, and the conf-directory rule. Every test points the temp
dir at its own ``tmp_path``, so none touches the suite's archive."""

import os
import stat
import subprocess
import sys
import tempfile

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from mapreduce_model_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """The archive cache under an empty temp dir, with the default
    (templates-only) conf directory; ``SPARK_CONF_DIR`` is restored after."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return tmp_path / "spark-graft-cds"


@pytest.fixture
def launch(monkeypatch):
    """``get_spark`` as if no driver JVM were running, returning the
    options it would start the JVM with, instead of starting it."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))


def _key() -> str:
    return session._archive_key(session._java(), os.path.join(_find_spark_home(), "jars"))


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _dumper_exited(cache, classpath: str) -> tuple[str, int]:
    """A lock left by a dumping JVM that has exited: (key, its pid)."""
    key, pid = _key(), _dead_pid()
    (cache / "conf").mkdir(parents=True)
    (cache / f"{key}.lock").write_text(f"{pid}\n{classpath}\n")
    return key, pid


def test_truncated_dump_is_deleted_not_promoted(cache):
    key, pid = _dumper_exited(cache, f"{cache}/conf/")
    tmp = cache / f"{key}.{pid}.tmp"
    tmp.write_bytes(b"\0" * 100)
    # this start runs without an archive; the next one dumps again
    assert session.ClassArchive.open("8g") is None
    assert not tmp.exists() and not (cache / f"{key}.jsa").exists()
    assert not (cache / f"{key}.lock").exists()
    assert "SPARK_CONF_DIR" not in os.environ
    retry = session.ClassArchive.open("8g")
    assert retry.dumping and "-XX:ArchiveClassesAtExit=" in retry.java_options
    assert os.environ["SPARK_CONF_DIR"] == str(cache / "conf")
    retry.release()
    assert not (cache / f"{key}.lock").exists()


def test_verified_dump_is_promoted_and_replaces_other_keys(cache):
    classpath = f"{cache}/conf/"
    key, pid = _dumper_exited(cache, classpath)
    tmp = cache / f"{key}.{pid}.tmp"
    # a real (small) dynamic archive over the same class path
    subprocess.run([session._java(), f"-XX:ArchiveClassesAtExit={tmp}", "-cp", classpath, "-version"],
                   capture_output=True, check=True)
    stale = cache / "0123456789abcdef.jsa"
    stale.write_bytes(b"old")
    archive = session.ClassArchive.open("8g")
    assert (cache / f"{key}.jsa").exists() and not tmp.exists() and not stale.exists()
    assert not (cache / f"{key}.lock").exists()
    assert f"-XX:SharedArchiveFile={cache}/{key}.jsa" in archive.java_options
    assert "-Xshare:auto" in archive.java_options and "-Xlog:cds=off" in archive.java_options
    assert not archive.dumping


def test_a_live_lock_holder_keeps_others_from_dumping(cache):
    first = session.ClassArchive.open("8g")
    assert first.dumping
    held = (cache / f"{_key()}.lock").read_text()
    assert held == f"{os.getpid()}\n"
    assert session.ClassArchive.open("8g") is None
    assert (cache / f"{_key()}.lock").read_text() == held
    assert stat.S_IMODE(cache.stat().st_mode) == 0o700
    first.release()


@pytest.mark.parametrize("shared", ["mode_777", "symlink"])
def test_a_cache_others_can_write_is_not_used(cache, tmp_path, shared):
    """A cache writable by another user (mode 0777, or a symlink to a
    directory anyone may have made) could hold an archive they planted:
    the start runs without an archive and writes nothing there."""
    if shared == "mode_777":
        cache.mkdir()
        cache.chmod(0o777)
        planted = cache
    else:
        planted = tmp_path / "elsewhere"
        planted.mkdir(mode=0o700)
        cache.symlink_to(planted)
    assert session.ClassArchive.open("8g") is None
    assert os.listdir(planted) == [] and "SPARK_CONF_DIR" not in os.environ


def test_a_cache_owned_by_another_user_is_not_used(cache):
    if os.getuid() != 0:
        pytest.skip("making a directory owned by another user needs root")
    cache.mkdir(mode=0o755)
    os.chown(cache, 65534, 65534)
    assert session.ClassArchive.open("8g") is None
    assert os.listdir(cache) == [] and "SPARK_CONF_DIR" not in os.environ


@pytest.mark.parametrize(
    "real_conf,extra_conf",
    [
        (True, {}),
        (False, {"spark.driver.extraJavaOptions": "-Dx=1"}),
        (False, {"spark.driver.extraClassPath": "x.jar"}),
        (False, {"spark.jars.packages": "a:b:1"}),
    ],
)
def test_real_conf_or_jvm_conf_is_left_alone(cache, launch, tmp_path, monkeypatch, real_conf, extra_conf):
    if real_conf:
        conf = tmp_path / "conf"
        conf.mkdir()
        (conf / "spark-defaults.conf").write_text("spark.executor.memory 1g\n")
        monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    before = os.environ.get("SPARK_CONF_DIR")
    opts = session.get_spark(extra_conf=extra_conf)
    assert opts.get("spark.driver.extraJavaOptions") == extra_conf.get("spark.driver.extraJavaOptions")
    assert os.environ.get("SPARK_CONF_DIR") == before
    assert not cache.exists()


def test_garbage_archive_still_starts_quietly(tmp_path):
    """A session over a corrupt ``<key>.jsa`` runs its job and prints
    nothing of the JVM's on stdout."""
    cache = tmp_path / "spark-graft-cds"
    cache.mkdir()
    (cache / f"{_key()}.jsa").write_bytes(bytes(range(256)) * 16)
    env = dict(os.environ, TMPDIR=str(tmp_path))
    env.pop("SPARK_CONF_DIR", None)
    code = (
        "from mapreduce_model_spark import get_spark\n"
        "s = get_spark(cpus=2)\n"
        "opts = s.sparkContext.getConf().get('spark.driver.extraJavaOptions')\n"
        "print(s.range(1000).count(), '-XX:SharedArchiveFile=' in opts)\n"
        "s.stop()\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout == "1000 True\n"

"""The driver JVM's class-data archive (tf_datapipeline_spark/cds.py):
its key, the locked build on a miss, and the launch check that keeps a
driver JVM from running unshared."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
import time

import pytest

from tests.conftest import REPO_DIR
from tf_datapipeline_spark import cds

HEAP = "8g"  # the `spark` fixture's heap, so these share its archive
SHARED = "org.apache.spark.SparkContext source: shared objects file (top)"


def _python(code: str, cwd, submit_args: str = "", timeout: float = 600):
    """Run `code` in a fresh Python with the repo importable."""
    env = dict(os.environ, PYTHONPATH=REPO_DIR, SPARK_GRAFT_DRIVER_MEM=HEAP)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if submit_args:
        env["PYSPARK_SUBMIT_ARGS"] = f"{submit_args} pyspark-shell"
    return subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def _start_logged(tmp_path, name: str = "class-load", prelude: str = "") -> str:
    """Start a session in a new process, after running `prelude` there,
    logging the driver JVM's class loads to `<name>.log`; return the log."""
    log = tmp_path / f"{name}.log"
    proc = _python(
        prelude
        + """
from tf_datapipeline_spark.session import get_spark
print(get_spark("cds-test").range(3).count())
""",
        tmp_path,
        f"--conf spark.driver.extraJavaOptions=-Xlog:class+load:file={log}",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not (tmp_path / f"{name}.log.0").exists(), "more than one driver JVM"
    return log.read_text()


def test_archive_key_follows_jdk_jars_and_oops_mode(tmp_path):
    jdk, jars = tmp_path / "jdk", tmp_path / "jars"
    jdk.mkdir()
    jars.mkdir()
    release = jdk / "release"
    release.write_text('JAVA_VERSION="17.0.20"\n')
    jar = jars / "spark-core.jar"
    jar.write_bytes(b"x" * 10)

    def key(oops: bool = True) -> str:
        return cds.archive_key(str(jdk), str(jars), oops)

    base = key()
    assert key() == base
    assert key(oops=False) != base

    mtime = jar.stat().st_mtime_ns
    jar.write_bytes(b"x" * 11)
    os.utime(jar, ns=(mtime, mtime))  # size alone
    assert key() != base
    jar.write_bytes(b"x" * 10)
    os.utime(jar, ns=(mtime, mtime))
    assert key() == base
    os.utime(jar, ns=(mtime, mtime + 10**9))  # mtime alone
    assert key() != base
    os.utime(jar, ns=(mtime, mtime))

    release.write_text('JAVA_VERSION="17.0.21"\n')
    assert key() != base

    # the oops mode comes from the heap: compressed below 32 GB
    assert cds.archive_path("1g") == cds.archive_path("8192m")
    assert cds.archive_path("8g") != cds.archive_path("48g")


def test_conf_dir_must_hold_only_templates(tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    cds.use_empty_conf_dir()
    assert os.environ["SPARK_CONF_DIR"] == cds.CONF_DIR
    assert os.listdir(cds.CONF_DIR) == []

    (conf / "spark-defaults.conf").write_text("spark.foo bar\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    with pytest.raises(RuntimeError, match="spark-defaults.conf"):
        cds.use_empty_conf_dir()


_STUB_BUILD = """
import os, sys, time
from tf_datapipeline_spark import cds

path, log, seconds = sys.argv[1], sys.argv[2], float(sys.argv[3])

def build(tmp, heap):
    with open(log, "a") as f:
        f.write(f"{os.getpid()}\\n")
    with open(tmp, "wb") as f:
        f.write(b"partial")
        f.flush()
        time.sleep(seconds)
        f.write(b" archive")

cds.ensure_archive(path, "1g", build=build)
"""


def _stub_builds(tmp_path, seconds: float, n: int) -> list[subprocess.Popen]:
    env = dict(os.environ, PYTHONPATH=REPO_DIR)
    args = [str(tmp_path / "k.jsa"), str(tmp_path / "builds.log"), str(seconds)]
    return [
        subprocess.Popen([sys.executable, "-c", _STUB_BUILD, *args], env=env)
        for _ in range(n)
    ]


def test_concurrent_misses_build_once(tmp_path):
    """Two processes that miss together: one builds under the lock, the
    other waits for it and uses its archive. No JVM starts."""
    procs = _stub_builds(tmp_path, seconds=2.0, n=2)
    for p in procs:
        assert p.wait(timeout=60) == 0
    assert len((tmp_path / "builds.log").read_text().split()) == 1
    assert (tmp_path / "k.jsa").read_bytes() == b"partial archive"
    assert sorted(os.listdir(tmp_path)) == [
        "builds.log", "k.jsa", "k.jsa.stamp", "k.lock"
    ]


def test_killed_build_leaves_only_tmp(tmp_path):
    """A build killed midway leaves `<key>.jsa.tmp` and no archive; the
    next miss ignores it and builds afresh. No JVM starts."""
    (proc,) = _stub_builds(tmp_path, seconds=60.0, n=1)
    tmp = tmp_path / "k.jsa.tmp"
    deadline = time.monotonic() + 30
    while not (tmp.exists() and tmp.stat().st_size) and time.monotonic() < deadline:
        time.sleep(0.05)
    proc.kill()
    proc.wait(timeout=30)
    assert tmp.read_bytes() == b"partial"
    assert not (tmp_path / "k.jsa").exists()

    built = []

    def build(out, heap):
        built.append(heap)
        with open(out, "wb") as f:
            f.write(b"fresh")

    cds.ensure_archive(str(tmp_path / "k.jsa"), "1g", build=build)
    assert built == ["1g"]
    assert (tmp_path / "k.jsa").read_bytes() == b"fresh"
    assert not tmp.exists()
    cds.ensure_archive(str(tmp_path / "k.jsa"), "1g", build=build)
    assert built == ["1g"]  # intact: no second build


def test_driver_classes_come_from_the_archive(tmp_path):
    """A caller's own spark.driver.extraJavaOptions leaves the archive
    in place: SparkContext is loaded from it."""
    assert SHARED in _start_logged(tmp_path)


def test_truncated_archive_is_rebuilt(tmp_path):
    """A truncated archive (which a JVM would map and crash on) is
    rebuilt before the driver JVM starts, and that one JVM runs shared.
    The rebuild copies the archive as it was, instead of running the
    warm-up again."""
    path = cds.archive_path(HEAP)
    _start_logged(tmp_path, "before")  # the archive exists and is intact
    good = tmp_path / "good.jsa"
    shutil.copyfile(path, good)
    # a new file over the name: JVMs that map the old one keep it
    with open(path + ".cut", "wb") as f:
        f.write(good.read_bytes()[: good.stat().st_size // 3])
    os.replace(path + ".cut", path)

    builds = tmp_path / "builds"
    prelude = f"""
import shutil
from tf_datapipeline_spark import cds

def copy(tmp, heap):
    with open({str(builds)!r}, "a") as f:
        f.write(heap + "\\n")
    shutil.copyfile({str(good)!r}, tmp)

cds._build = copy
"""
    assert SHARED in _start_logged(tmp_path, "after", prelude)
    assert builds.read_text().split() == [HEAP]
    assert os.path.getsize(path) == good.stat().st_size


def test_rejected_archive_never_runs_unshared(tmp_path):
    """An archive the JVM rejects (here: garbage, as a stale or
    mismatched archive would be) is rebuilt once; when the JVM rejects
    the rebuilt one too, get_spark stops the JVM and raises instead of
    handing back an unshared session."""
    proc = _python(
        f"""
        import os
        from pyspark import SparkContext
        from tf_datapipeline_spark import cds, session

        builds = []

        def garbage(tmp, heap):
            builds.append(heap)
            with open(tmp, "wb") as f:
                f.write(os.urandom(1 << 20))

        cds.archive_path = lambda heap: {str(tmp_path / "bad.jsa")!r}
        cds._build = garbage
        try:
            session.get_spark("cds-test")
        except RuntimeError as e:
            assert "did not map the class-data archive" in str(e), e
        else:
            raise SystemExit("get_spark returned an unshared session")
        assert builds == ["{HEAP}", "{HEAP}"], builds
        assert SparkContext._gateway is None
        assert SparkContext._active_spark_context is None
        print("ok")
        """,
        tmp_path,
    )
    assert proc.returncode == 0 and proc.stdout.strip() == "ok", proc.stderr[-3000:]


def test_driver_heap_fits_the_host_unless_set(monkeypatch):
    """With SPARK_GRAFT_DRIVER_MEM unset the driver heap stays below the
    host's physical memory (half of it, at most 48g); when set, its value
    is used unchanged."""
    from tf_datapipeline_spark import session

    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = cds.heap_bytes(session.driver_heap())
    assert 0 < heap < phys
    assert heap <= 48 << 30
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "48g")
    assert session.driver_heap() == "48g"

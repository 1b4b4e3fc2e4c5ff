"""get_spark defaults: a session works on this host with no hand-set
environment — master sized to the CPUs this process may run on, Python
workers that can import the package, the JVM's GC-time goal, the
64 KiB file split floor, the daemon that skips unchanged zip archives and
Unix-domain sockets between the JVM and Python in a private directory,
also where the temp dirs are too long for a socket path."""

import os
import shutil
import stat
import subprocess
import sys
import tempfile
import textwrap

import pytest
from pyspark import SparkContext

from pyogrio_spark.session import socket_conf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import os, stat, sys
    sys.path.insert(0, sys.argv[1])  # for this process only; the Python workers get no such help
    from pyogrio_spark import get_spark

    spark = get_spark("session_defaults")
    try:
        assert spark.sparkContext.master == f"local[{len(os.sched_getaffinity(0))}]", spark.sparkContext.master
        conf = spark.sparkContext.getConf()
        assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
        sock_dir = conf.get("spark.python.unix.domain.socket.dir")
        assert stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700, oct(os.stat(sock_dir).st_mode)

        def probe(batches):
            import zipimport

            from pyogrio_spark.geometry.predicates import PreparedPolygon  # noqa: F401

            code = zipimport.zipimporter.invalidate_caches.__code__
            for pdf in batches:
                yield pdf.assign(fn=f"{code.co_filename}:{code.co_name}")

        rows = spark.range(10).mapInPandas(probe, schema="id long, fn string").collect()
        print("ROWS", len(rows))
        fns = {r.fn for r in rows}
        assert len(fns) == 1 and fns.pop().endswith("pyogrio_spark/_daemon.py:invalidate_caches"), fns
        assert spark.sparkContext.getConf().get("spark.python.daemon.module") == "pyogrio_spark._daemon"
        jvm_args = list(spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
        assert "-XX:GCTimeRatio=19" in jvm_args, jvm_args
        assert spark._jsparkSession.sessionState().conf().filesOpenCostInBytes() == 64 << 10
    finally:
        spark.stop()
    """
)


def test_default_session_python_workers_import_package(tmp_path):
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_JAVA_OPTS")}
    script = tmp_path / "drive.py"
    script.write_text(_SCRIPT)
    proc = subprocess.run(
        [sys.executable, str(script), ROOT],
        cwd=tmp_path,  # keep the repo root off the workers' implicit path
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 10" in proc.stdout


_LONG_TMP_SCRIPT = textwrap.dedent(
    """
    import os, stat, sys
    sys.path.insert(0, sys.argv[1])
    import pandas as pd
    from pyogrio_spark import get_spark

    spark = get_spark("long_tmp", master="local[2]")
    conf = spark.sparkContext.getConf()
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    print("SOCK_DIR", sock_dir, flush=True)
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    if sys.argv[2] == "java_tmp":
        assert spark._jvm.java.lang.System.getProperty("java.io.tmpdir") == os.environ["TMPDIR"]
    assert len(os.fsencode(sock_dir)) <= 61 and stat.S_IMODE(os.stat(sock_dir).st_mode) == 0o700

    def double(batches):
        for pdf in batches:
            yield pdf.assign(y=pdf.id * 2)

    rows = spark.range(4).mapInPandas(double, schema="id long, y long").collect()
    assert sorted(r.y for r in rows) == [0, 2, 4, 6], rows
    assert [r.a for r in spark.createDataFrame(pd.DataFrame({"a": [1, 2, 3]})).collect()] == [1, 2, 3]
    spark.stop()
    print("OK")
    """
)


def _drive_with_temp_dir(tmp_path, temp_dir: str, java_tmp: bool) -> None:
    """Run _LONG_TMP_SCRIPT with TMPDIR (and, if ``java_tmp``,
    java.io.tmpdir) set to ``temp_dir``; it leaves no socket directory."""
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS", "JAVA_TOOL_OPTIONS")}
    env.update(TMPDIR=temp_dir)
    if java_tmp:
        env.update(JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={temp_dir}")
    script = tmp_path / "drive.py"
    script.write_text(_LONG_TMP_SCRIPT)
    proc = subprocess.run([sys.executable, str(script), ROOT, "java_tmp" if java_tmp else "-"], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    sock_dir = proc.stdout.split("SOCK_DIR ", 1)[1].split()[0]
    assert "OK" in proc.stdout
    assert not os.path.exists(sock_dir)
    assert not [p for p in os.listdir(temp_dir) if p.startswith("pyogrio_spark_uds_")]


def test_long_temp_dirs_keep_unix_sockets(tmp_path):
    """With TMPDIR and java.io.tmpdir too long for a socket path (Spark's
    own default dir would fail the session start) the session starts,
    runs Python jobs and collects, and leaves no socket directory."""
    long_tmp = tmp_path / ("t" * max(1, 101 - len(str(tmp_path))))
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 100
    _drive_with_temp_dir(tmp_path, str(long_tmp), java_tmp=True)


def test_mid_length_temp_dir_keeps_unix_sockets(tmp_path):
    """A 36-byte TMPDIR leaves room for a socket path under it, but a
    socket dir there would pass Spark's 61-character limit (the session
    would start and its first collect fail): the dir goes under /tmp and
    Python jobs and collects run."""
    mid = tempfile.mkdtemp(prefix="p" * (36 - len("/tmp/") - 8), dir="/tmp")
    try:
        assert len(mid) == 36
        _drive_with_temp_dir(tmp_path, mid, java_tmp=False)
    finally:
        shutil.rmtree(mid)


def test_socket_conf(tmp_path, monkeypatch):
    """Only a local master gets Unix sockets, in a new 0700 directory short
    enough for a socket path; extra_conf naming the option keeps TCP."""
    assert socket_conf("spark://h:7077") == {}
    assert socket_conf("yarn") == {}
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    assert socket_conf("local[2]", {"spark.python.unix.domain.socket.enabled": "false"}) == {}
    long_tmp = tmp_path / ("t" * 80)
    long_tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(long_tmp))
    for master in ("local", "local[2]"):
        conf = socket_conf(master)
        d = conf.pop("spark.python.unix.domain.socket.dir")
        try:
            assert conf == {"spark.python.unix.domain.socket.enabled": "true"}
            assert os.path.dirname(d) == "/tmp" and len(os.fsencode(d)) <= 61
            assert stat.S_IMODE(os.stat(d).st_mode) == 0o700
        finally:
            shutil.rmtree(d)


@pytest.mark.parametrize("nbytes", [35, 36, 37])
def test_socket_conf_bounds_dir_by_sparks_limit(monkeypatch, nbytes):
    """A 35-37-byte temp dir fits a socket path but not Spark's 61-character
    socket dir limit: the dir goes under /tmp, within both bounds."""
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    mid = tempfile.mkdtemp(prefix="p" * (nbytes - len("/tmp/") - 8), dir="/tmp")
    monkeypatch.setattr(tempfile, "tempdir", mid)
    try:
        assert len(mid) == nbytes
        d = socket_conf("local[2]")["spark.python.unix.domain.socket.dir"]
        shutil.rmtree(d)
        assert os.path.dirname(d) == "/tmp" and len(d) <= 61
    finally:
        shutil.rmtree(mid)

"""get_spark defaults: a session works on this host with no hand-set
environment — master sized to the CPUs this process may run on, Python
workers that can import the package, the JVM's GC-time goal, the
64 KiB file split floor and the daemon that skips unchanged zip archives."""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import os, sys
    sys.path.insert(0, sys.argv[1])  # for this process only; the Python workers get no such help
    from pyogrio_spark import get_spark

    spark = get_spark("session_defaults")
    try:
        assert spark.sparkContext.master == f"local[{len(os.sched_getaffinity(0))}]", spark.sparkContext.master

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

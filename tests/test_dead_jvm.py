"""A dead Spark JVM stops the test run once, naming the cause, instead
of failing every later test with ConnectionRefused (tests/conftest.py
pytest_runtest_logreport). Checked in a child pytest run whose first
test kills its own JVM."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent

_CHILD = '''
import os, signal

def test_kill_the_jvm(spark):
    os.kill(spark.sparkContext._gateway.proc.pid, signal.SIGKILL)
    spark.sparkContext._gateway.proc.wait()

def test_first_casualty(spark):
    spark.range(1).count()

def test_never_runs(spark):
    spark.range(1).count()
'''


def test_dead_jvm_stops_the_run_once(tmp_path):
    (tmp_path / "test_child.py").write_text(_CHILD)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "-p", "tests.conftest", "-q",
         "-p", "no:cacheprovider", "--rootdir", str(tmp_path),
         str(tmp_path / "test_child.py")],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    out = proc.stdout + proc.stderr
    assert proc.returncode == 3, out
    assert "the Spark JVM is gone" in out and "test_first_casualty" in out, out
    assert "1 failed, 1 passed" in out, out

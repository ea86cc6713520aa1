"""Set-up for the benchmark's own tests (``python3 -m pytest perfbench``):
the benchmark modules and the package on ``sys.path``, a scratch
directory inside the checkout, and one small local Spark session."""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]


@pytest.fixture(scope="session")
def work():
    path = os.path.join(ROOT, ".perfbench_work", f"tests-{os.getpid()}")
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)
    try:  # the parent too, unless a benchmark run still uses it
        os.rmdir(os.path.dirname(path))
    except OSError:
        pass


@pytest.fixture(scope="session")
def spark(work):
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.driver.memory", "1g")
        .getOrCreate()
    )
    yield session
    session.stop()

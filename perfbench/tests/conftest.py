from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def bench_spark(tmp_path_factory):
    """A session started the way the benchmark starts it, with the
    process environment restored afterwards."""
    from perfbench import bench

    saved = dict(os.environ)
    paths = bench.Paths(ROOT, str(tmp_path_factory.mktemp("run")))
    bench.prepare_env(paths)
    spark = bench.start_session(paths)
    try:
        yield spark
    finally:
        bench.stop_session(spark)
        os.environ.clear()
        os.environ.update(saved)

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    """One benchmark session (built the way run.py builds it) per module."""
    from perfbench import run

    run._isolate(str(tmp_path_factory.mktemp("spark")))
    cpus = len(os.sched_getaffinity(0))
    spark = run.start_session(cpus)
    yield spark, cpus
    run.stop_session(spark)

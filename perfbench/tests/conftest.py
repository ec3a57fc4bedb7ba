from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import run
    from ensembl_database_loader_spark.session import get_spark

    conf = run._environment(ROOT, str(tmp_path_factory.mktemp("perfbench")))
    spark = get_spark(app_name="perfbench-tests", extra_conf=conf)
    yield spark
    spark.stop()

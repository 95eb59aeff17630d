import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]


@pytest.fixture(scope="session")
def sources():
    from run import Unavailable, source_dirs

    try:
        return source_dirs()
    except Unavailable as exc:
        pytest.skip(str(exc))


@pytest.fixture(scope="session")
def sf_smoke(sources):
    d = sources.get("sf0.001")
    if not d or not os.path.isdir(d):
        pytest.skip("sf0.001 source tables not present")
    return d


@pytest.fixture(scope="session")
def spark():
    from impc_etl_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]",
                  extra_conf={"spark.ui.showConsoleProgress": "false",
                              "spark.sql.shuffle.partitions": "4"})
    yield s
    s.stop()

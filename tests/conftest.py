import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pydoxtools_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pydoxtools-spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def reliable_mode(spark, tmp_path_factory):
    """Operator results in local vs reliable-checkpoint mode, computed
    once: the reliable session is a subprocess (see reliable_mode.py)."""
    from reliable_mode import run

    return run(spark, str(tmp_path_factory.mktemp("reliable") / "ckpt"))

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]


@pytest.fixture(scope="session")
def spark():
    from vcfdbr_spark import get_spark

    spark = get_spark(
        app_name="perfbench-tests",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"},
    )
    yield spark
    spark.stop()

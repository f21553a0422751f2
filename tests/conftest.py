from __future__ import annotations

import os
import pathlib

import pytest

FIXTURE = pathlib.Path(__file__).parent / "fixtures" / "index.html"


@pytest.fixture(scope="session")
def spark():
    from mechaml_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    s = get_spark(app_name="mechaml_spark_tests", master=f"local[{cpus}]",
                  shuffle_partitions=cpus)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_html() -> str:
    return FIXTURE.read_text()

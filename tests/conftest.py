from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_frame_demo_etl_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    extra = {"spark.sql.shuffle.partitions": os.environ.get("TEST_SHUFFLE", "4")}
    for kv in os.environ.get("TEST_EXTRA_CONF", "").split(","):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k] = v
    s = get_spark(
        app_name="tests",
        master=f"local[{os.environ.get('TEST_CPUS', '4')}]",
        extra_conf=extra,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir() -> str:
    return SF_ORACLE

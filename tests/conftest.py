import os
from pathlib import Path

import pytest

# the checkout these tests belong to, wherever it lives
REPO = Path(__file__).resolve().parents[1]
SF_DIR = "/root/testdata/sf0.001"

# sf0.001 inputs need a small driver heap; set before any session
# starts so the CLI subprocess JVMs the transcript tests launch
# inherit it too (get_session's default is 16g)
os.environ.setdefault("XETL_DRIVER_MEM", "2g")


@pytest.fixture(scope="session")
def spark():
    from xetl_spark.session import get_session

    s = get_session("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR

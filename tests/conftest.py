from pathlib import Path

import pytest

# the checkout these tests belong to, wherever it lives
REPO = Path(__file__).resolve().parents[1]
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from xetl_spark.session import get_session

    s = get_session("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR

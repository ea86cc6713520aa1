from __future__ import annotations

import pytest

from asset_prices_parquet_saver_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def pin_seam(monkeypatch):
    """Setter for the ``functions.pins.ENABLED`` seam; monkeypatch puts
    the original value back when the test ends, pass or fail."""
    from asset_prices_parquet_saver_spark.functions import pins

    def set_seam(value: bool) -> None:
        monkeypatch.setattr(pins, "ENABLED", value)

    return set_seam

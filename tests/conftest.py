from __future__ import annotations

import pytest

from article_extraction_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="tests",
        master="local[4]",
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark
    spark.stop()

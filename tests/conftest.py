import pytest


@pytest.fixture(scope="session")
def spark():
    from vectortiles_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]")
    yield s
    s.stop()

import pytest

from gdal2mbtiles_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app="gdal2mbtiles_spark-tests",
                  shuffle_partitions=8)
    yield s
    s.stop()

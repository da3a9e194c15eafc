import os

import pytest

from gdal2mbtiles_spark.session import get_spark

# The suite's largest job peaks near 6 GB of JVM resident memory under
# this heap, against about 11 GB under the 32g library default, which
# the JVM grows into and keeps for the rest of the session.  An
# explicit SPARK_GRAFT_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app="gdal2mbtiles_spark-tests",
                  shuffle_partitions=8)
    yield s
    s.stop()

import os

import pytest

# the suite's one local JVM holds the driver and every task slot; a heap
# the size of get_spark()'s 16g default can outgrow a small machine over
# a full run instead of being collected.  Set before any test module
# can start the JVM.
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    from rsoup_spark.session import get_spark

    s = get_spark("pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


SF_SMALL = "/root/testdata/sf0.001"

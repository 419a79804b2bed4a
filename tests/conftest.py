import os

import pytest

# get_spark's driver-memory default is half of physical RAM, up to 24g
# (a 24g heap on a 15 GB, 4-core host once grew until the kernel's OOM
# killer ended it mid-suite). The tests' data is small; cap the heap at
# 8g unless the caller chose a size.
os.environ.setdefault("FASTLINK_DRIVER_MEM", "8g")


@pytest.fixture(scope="session")
def spark():
    from fastlink_spark.session import get_spark

    s = get_spark(app_name="fastlink_tests", master="local[8]", shuffle_partitions=8)
    yield s

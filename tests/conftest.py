import os

import pytest

# get_spark's 24g driver-memory default lets the local-mode JVM heap
# outgrow a small host over a full suite run (seen: a 14 GB JVM killed
# by the kernel's OOM killer mid-suite on a 15 GB, 4-core host). The
# tests' data is small; cap the heap unless the caller chose a size.
os.environ.setdefault("FASTLINK_DRIVER_MEM", "8g")


@pytest.fixture(scope="session")
def spark():
    from fastlink_spark.session import get_spark

    s = get_spark(app_name="fastlink_tests", master="local[8]", shuffle_partitions=8)
    yield s

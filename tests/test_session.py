"""Session factory defaults (nrsr_crawler_spark/session.py)."""

from __future__ import annotations

import os
import re

import pytest

from nrsr_crawler_spark import session


@pytest.mark.parametrize(
    "spec, mb", [("24g", 24576), ("4G", 4096), ("512m", 512), ("1.5g", 1536), ("2gb", 2048), ("4096", 4096)]
)
def test_size_mb(spec, mb):
    assert session._size_mb(spec) == mb


def test_default_heap_fits_the_machine():
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap = session._default_heap_mb()
    assert 1024 <= heap <= 24 * 1024
    assert heap <= max(1024, ram_mb * 0.4)


def test_session_pins_initial_heap_below_its_max(spark):
    # -Xms above -Xmx stops the JVM from starting at all
    heap = session._size_mb(spark.conf.get("spark.driver.memory"))
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        assert heap == session._default_heap_mb()
    xms = re.search(r"-Xms(\S+)", spark.conf.get("spark.driver.extraJavaOptions"))
    assert xms is None or session._size_mb(xms.group(1)) <= heap

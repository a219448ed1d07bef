"""Session sizing derives from the host."""

import os

from ctcityscraper_spark.session import MAX_DRIVER_MEMORY_MB, default_driver_memory


def test_default_driver_memory_fits_the_host():
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    value = default_driver_memory()
    assert value.endswith("m")
    mb = int(value[:-1])
    assert 0 < mb < phys_mb
    assert mb <= phys_mb // 2
    assert mb <= MAX_DRIVER_MEMORY_MB

import os

from hatchery_spark.session import default_driver_memory


def test_default_heap_fits_the_host():
    # a local-mode heap above physical memory lets the JVM grow until the
    # OOM killer ends the run; the default stays at 60% of the host, 1g-80g
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = default_driver_memory()
    assert mem.endswith("g")
    heap = int(mem[:-1]) << 30
    assert 1 << 30 <= heap <= min(80 << 30, max(int(host * 0.6), 1 << 30))

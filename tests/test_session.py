"""Session defaults sized from the host (Spark-free)."""

from scardina_spark.session import driver_memory

GIB = 1 << 30


def _meminfo(gib: int) -> str:
    return (f"MemTotal:       {gib * (GIB >> 10)} kB\n"
            f"MemFree:        {GIB >> 10} kB\n")


def test_driver_memory_is_half_of_memtotal():
    assert driver_memory(_meminfo(16)) == "8192m"
    # cgroup v2 without a limit, and v1's "unlimited" sentinel
    assert driver_memory(_meminfo(16), "max\n") == "8192m"
    assert driver_memory(_meminfo(16), "9223372036854771712\n") == "8192m"


def test_driver_memory_follows_cgroup_limit():
    assert driver_memory(_meminfo(16), f"{4 * GIB}\n") == "2048m"


def test_driver_memory_capped_at_48g():
    assert driver_memory(_meminfo(256)) == "49152m"
    assert driver_memory(_meminfo(256), f"{200 * GIB}\n") == "49152m"

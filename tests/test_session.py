"""The engine's SparkSession defaults."""

from __future__ import annotations

from pennsieve_streaming_spark.session import default_driver_memory


def _meminfo(kb: int) -> str:
    return (
        f"MemTotal:       {kb} kB\n"
        "MemFree:         1234567 kB\n"
        "MemAvailable:    2345678 kB\n"
    )


def test_default_driver_memory_is_a_quarter_of_memtotal():
    # a 15.7 GB box: a quarter is about 4 GB
    assert default_driver_memory(_meminfo(16_456_384)) == "4018m"
    assert default_driver_memory(_meminfo(8 * 1024 * 1024)) == "2048m"


def test_default_driver_memory_caps_at_8g():
    assert default_driver_memory(_meminfo(32 * 1024 * 1024)) == "8192m"
    assert default_driver_memory(_meminfo(256 * 1024 * 1024)) == "8192m"


def test_default_driver_memory_floors_at_1g():
    assert default_driver_memory(_meminfo(2 * 1024 * 1024)) == "1024m"
    assert default_driver_memory(_meminfo(512 * 1024)) == "1024m"

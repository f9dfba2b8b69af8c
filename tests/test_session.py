"""Session defaults that must be safe on the host in use."""

from __future__ import annotations

from georaster_spark.session import default_driver_memory

GiB = 2**30


def test_driver_memory_is_half_of_host_ram():
    assert default_driver_memory(15 * GiB) == "7680m"
    assert default_driver_memory(64 * GiB) == "32768m"


def test_driver_memory_is_clamped():
    assert default_driver_memory(1 * GiB) == "1024m"
    assert default_driver_memory(512 * GiB) == "49152m"

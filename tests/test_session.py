"""Session defaults that depend on the machine, checked without a JVM."""

from __future__ import annotations

import os

from entity_resolver_spark.session import default_driver_memory

GiB = 2**30


def test_driver_memory_is_half_of_physical():
    assert default_driver_memory(15 * GiB) == "7680m"
    assert default_driver_memory(8 * GiB) == "4096m"


def test_driver_memory_is_capped_and_floored():
    assert default_driver_memory(256 * GiB) == "24576m"
    assert default_driver_memory(GiB) == "1024m"


def test_driver_memory_default_fits_this_machine():
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    mib = int(default_driver_memory().rstrip("m"))
    assert mib * 2**20 <= max(phys // 2, GiB)

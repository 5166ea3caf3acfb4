"""Session sizing from the host (Spark-free: no session is started)."""

from __future__ import annotations

import pytest

from columnar_aware_dedup_spark.session import default_driver_memory

GIB = 1 << 30


@pytest.mark.parametrize(
    "mem_total_bytes, heap",
    [
        (16456384 * 1024, "8035m"),  # a 15.7 GiB host: half of it
        (4 * GIB, "2048m"),
        (32 * GIB, "16384m"),  # the ceiling is reached exactly
        (256 * GIB, "16384m"),  # and never exceeded
    ],
)
def test_default_driver_memory_is_half_the_host_capped_at_16g(
    mem_total_bytes, heap
):
    assert default_driver_memory(mem_total_bytes) == heap

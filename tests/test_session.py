"""Spark-free checks of the session factory's host-fitted defaults."""

from __future__ import annotations

import pytest

from avro_topic_replication_spark.session import default_driver_memory


@pytest.mark.parametrize(
    "available_kib, want",
    [
        (15 * 1024 * 1024, "11520m"),  # a 15 GiB host: three quarters of it
        (64 * 1024 * 1024, "16384m"),  # a large host: the 16g cap
        (2 * 1024 * 1024 + 1000, "1536m"),  # rounds down
    ],
)
def test_driver_memory_is_three_quarters_of_available_up_to_16g(tmp_path, available_kib, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        "MemTotal:       65536000 kB\n"
        "MemFree:         1000000 kB\n"
        f"MemAvailable:   {available_kib} kB\n"
        "Buffers:          100000 kB\n"
    )
    assert default_driver_memory(str(meminfo)) == want


def test_driver_memory_falls_back_to_16g(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "16g"
    no_available = tmp_path / "meminfo"
    no_available.write_text("MemTotal:       65536000 kB\n")
    assert default_driver_memory(str(no_available)) == "16g"


def test_driver_memory_reads_this_host():
    got = default_driver_memory()
    assert got == "16g" or 0 < int(got.rstrip("m")) <= 16 * 1024

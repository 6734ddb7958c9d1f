"""Session defaults that depend on the host."""

from nuclei_feature_extraction_spark.session import driver_heap_mb

GIB = 1 << 30


def test_driver_heap_mb_is_an_eighth_of_ram_clamped_to_1_8_gib():
    assert driver_heap_mb(16 * GIB) == 2048
    assert driver_heap_mb(16_851_337_216) == 2008  # MemTotal of a "16 GB" VM
    assert driver_heap_mb(4 * GIB) == 1024  # floor: 1 GiB
    assert driver_heap_mb(512 << 20) == 1024
    assert driver_heap_mb(64 * GIB) == 8192
    assert driver_heap_mb(1 << 40) == 8192  # cap: 8 GiB

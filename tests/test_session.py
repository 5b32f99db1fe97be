"""Session defaults sized to the host."""

from loc2vec_spark.session import MAX_DRIVER_MEM_MB, default_driver_memory


def _meminfo(tmp_path, total_kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\n"
                 f"MemFree:        {total_kb // 2} kB\n")
    return str(p)


def test_driver_memory_is_half_of_ram_on_small_hosts(tmp_path):
    # a 15.7 GiB host: a flat 16g heap would exceed physical memory
    assert default_driver_memory(_meminfo(tmp_path, 16_462_168)) == "8038m"


def test_driver_memory_capped_at_16g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 128 * 1024 ** 2)) \
        == f"{MAX_DRIVER_MEM_MB}m" == "16384m"


def test_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "16384m"
    bad = tmp_path / "bad"
    bad.write_text("MemTotal: lots\n")
    assert default_driver_memory(str(bad)) == "16384m"

"""Pure-Python tests (no Spark session) of the session's driver-memory
default."""

from nise_dedup.session import default_driver_memory

GIB = 2**30


def _meminfo(tmp_path, total_bytes):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_bytes // 1024} kB\n"
                 "MemFree:         1024 kB\n")
    return str(p)


def _limit(tmp_path, raw):
    p = tmp_path / "memory.max"
    p.write_text(raw + "\n")
    return str(p)


def test_half_of_memtotal_without_cgroup_limit(tmp_path):
    meminfo = _meminfo(tmp_path, 15 * GIB)
    assert default_driver_memory(meminfo, ()) == f"{15 * 1024 // 2}m"
    # "max" (cgroup v2 unlimited) and missing files mean no limit
    assert default_driver_memory(
        meminfo, (_limit(tmp_path, "max"), str(tmp_path / "absent"))
    ) == f"{15 * 1024 // 2}m"


def test_smaller_cgroup_limit_wins(tmp_path):
    meminfo = _meminfo(tmp_path, 64 * GIB)
    got = default_driver_memory(meminfo, (_limit(tmp_path, str(6 * GIB)),))
    assert got == "3072m"
    # a limit above MemTotal does not raise the default
    got = default_driver_memory(meminfo, (_limit(tmp_path, str(128 * GIB)),))
    assert got == f"{32 * 1024}m"


def test_floor_on_tiny_machines(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 256 * 2**20), ()) \
        == "512m"

"""Pure-Python tests (no Spark session) of the session's driver-memory
default and the task-width rule."""

from types import SimpleNamespace

from nise_dedup.session import default_driver_memory, task_width

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


def _session(cores, shuffle_partitions):
    """The two session values task_width reads, without a JVM."""
    conf = {"spark.sql.shuffle.partitions": str(shuffle_partitions)}
    return SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=cores),
        conf=SimpleNamespace(get=conf.__getitem__))


def test_task_width_per_core_count():
    # one task per core, floor 16, capped by the session's shuffle width
    assert task_width(_session(4, 64)) == 16
    assert task_width(_session(8, 64)) == 16
    assert task_width(_session(32, 64)) == 32
    assert task_width(_session(4, 8)) == 8
    assert task_width(_session(32, 16)) == 16
    # with items: one task per 512, at least 1, at most 4x the cap
    # (cap = 2 x cores, as perfbench and bench.py size their sessions)
    for cores in (4, 8, 32):
        s = _session(cores, 2 * cores)
        assert task_width(s, 0) == 1
        assert task_width(s, 512 * cores) == cores          # below the cap
        assert task_width(s, 512 * cores + 1) == cores + 1
        assert task_width(s, 512 * 6 * cores) == 6 * cores  # cap .. 4x cap
        assert task_width(s, 10**7) == 8 * cores            # above 4x cap

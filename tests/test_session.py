"""The session factory's host-sized driver heap."""

from ilogtail_spark.session import default_driver_memory


def _meminfo(tmp_path, text):
    path = tmp_path / "meminfo"
    path.write_text(text)
    return str(path)


def _size(tmp_path, meminfo, cgroup=None):
    cgroup_max = str(tmp_path / "absent")
    if cgroup is not None:
        cgroup_max = tmp_path / "memory.max"
        cgroup_max.write_text(cgroup)
    return default_driver_memory(_meminfo(tmp_path, meminfo), str(cgroup_max))


def test_driver_memory_is_half_the_host_in_whole_gib(tmp_path):
    # 16 479 424 kB is 15.7 GiB: half is 7.86, rounded down to 7g
    info = "MemTotal:       16479424 kB\nMemFree:         1000000 kB\n"
    assert _size(tmp_path, info) == "7g"
    info = "MemFree: 1 kB\nMemTotal: 67108864 kB\n"
    assert _size(tmp_path, info) == "32g"


def test_driver_memory_takes_a_smaller_cgroup_limit(tmp_path):
    info = "MemTotal: 67108864 kB\n"  # 64 GiB host
    assert _size(tmp_path, info, f"{6 << 30}\n") == "3g"
    assert _size(tmp_path, info, "max\n") == "32g"
    # a limit above the host's RAM does not raise the heap
    assert _size(tmp_path, info, f"{256 << 30}\n") == "32g"


def test_driver_memory_floor_is_1g(tmp_path):
    assert _size(tmp_path, "MemTotal: 1048576 kB\n") == "1g"
    assert _size(tmp_path, "MemFree: 5 kB\n") == "1g"
    assert _size(tmp_path, "MemTotal: 67108864 kB\n", f"{1 << 30}\n") == "1g"
    absent = str(tmp_path / "absent")
    assert default_driver_memory(absent, absent) == "1g"

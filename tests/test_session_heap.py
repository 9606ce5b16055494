"""The default driver heap follows the memory the process can have,
including a cgroup limit set on a parent of its own cgroup."""

from __future__ import annotations

import io
import os

from calcite_spark import session

_PHYS = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _heap(limit: int) -> str:
    return f"{max(min(_PHYS, limit) // 2 >> 20, 512)}m"


def _fake_files(monkeypatch, files: dict[str, str]):
    def fake_open(path, *a, **k):
        if path not in files:
            raise FileNotFoundError(path)
        return io.StringIO(files[path])

    monkeypatch.setattr(session, "open", fake_open, raising=False)


def test_v2_limit_on_a_parent_cgroup(monkeypatch):
    _fake_files(monkeypatch, {
        "/proc/self/cgroup": "0::/pod/ctr\n",
        "/sys/fs/cgroup/pod/ctr/memory.max": "max\n",
        "/sys/fs/cgroup/pod/memory.max": "1073741824\n",
    })
    assert list(session._cgroup_limits()) == [1 << 30]
    assert session._host_heap() == _heap(1 << 30)


def test_v1_memory_controller(monkeypatch):
    _fake_files(monkeypatch, {
        "/proc/self/cgroup": "4:memory:/job\n1:cpu:/job\n0::/\n",
        "/sys/fs/cgroup/memory/job/memory.limit_in_bytes": "2147483648\n",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes": "9223372036854771712\n",
    })
    assert sorted(session._cgroup_limits()) == [1 << 31, 9223372036854771712]
    assert session._host_heap() == _heap(1 << 31)


def test_no_cgroup_file_falls_back_to_physical_ram(monkeypatch):
    _fake_files(monkeypatch, {})
    assert list(session._cgroup_limits()) == []
    assert session._host_heap() == _heap(_PHYS)

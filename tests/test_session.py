"""Local-mode defaults of ``session.get_session`` follow the host (checked
on the helper, so no second session starts)."""

from __future__ import annotations

import os

from hybridbackend_spark import session


def test_local_cores_default_to_the_affinity_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._local_defaults()[0] == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._local_defaults()[0] == "3"


def test_local_driver_memory_is_half_the_host_capped(monkeypatch):
    def host(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * (1 << 30) // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
        return session._local_defaults()[1]

    assert host(15) == "7g"
    assert host(64) == "32g"
    assert host(512) == "48g"
    assert host(1) == "1g"

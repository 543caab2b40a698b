"""get_spark's host-fitted defaults, checked without starting a session."""

from __future__ import annotations

import os

import pytest

from etdtransform_spark import session

GIB = 2**30


@pytest.fixture
def host(monkeypatch):
    """A 4-CPU, 15 GiB host with neither override set."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2, 3})
    monkeypatch.setattr(session, "_physical_memory_bytes", lambda: 15 * GIB)
    return monkeypatch


def test_defaults_fit_the_host(host):
    # 3/4 of 15 GiB = 11.25 GiB = 11520 MiB
    assert session.host_sizing() == (4, "11520m")


def test_heap_is_capped_at_48g(host):
    host.setattr(session, "_physical_memory_bytes", lambda: 512 * GIB)
    assert session.host_sizing() == (4, f"{48 * 1024}m")


def test_env_overrides_win(host):
    host.setenv("SPARK_GRAFT_CPUS", "2")
    host.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert session.host_sizing() == (2, "3g")


def test_physical_memory_is_positive():
    assert session._physical_memory_bytes() > 0

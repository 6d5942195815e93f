"""Session defaults that depend on the host: the RAM-backed scratch dir
and the driver heap. Host facts are monkeypatched, so no Spark starts."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from flink_join_scaling_spark import session

GIB = 1 << 30


def _host(monkeypatch, ram_bytes: int, shm_free_bytes: int) -> None:
    page = 4096
    sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_bytes // page}
    monkeypatch.setattr(os, "sysconf", lambda name: sysconf[name])
    monkeypatch.setattr(
        os,
        "statvfs",
        lambda path: SimpleNamespace(f_frsize=page, f_bavail=shm_free_bytes // page),
    )
    monkeypatch.setattr(os, "access", lambda path, mode: True)


@pytest.mark.parametrize(
    "ram_bytes, shm_free_bytes, local_dir, driver_mem",
    [
        # small host: /dev/shm too small to hold shuffle scratch, heap
        # is half of a 15 GiB machine rather than a fixed 16g
        (15 * GIB + GIB // 2, 2 * GIB, None, "7g"),
        (GIB, GIB, None, "1g"),
        # big host: /dev/shm has room, heap stays at the 16g ceiling
        (256 * GIB, 64 * GIB, "/dev/shm/fjss-spark-local", "16g"),
        (32 * GIB, 4 * GIB, "/dev/shm/fjss-spark-local", "16g"),
    ],
)
def test_defaults_fit_host(monkeypatch, ram_bytes, shm_free_bytes, local_dir, driver_mem):
    _host(monkeypatch, ram_bytes, shm_free_bytes)
    assert session._default_local_dir() == local_dir
    assert session._default_driver_memory() == driver_mem


def test_unwritable_shm_keeps_spark_default(monkeypatch):
    _host(monkeypatch, 256 * GIB, 64 * GIB)
    monkeypatch.setattr(os, "access", lambda path, mode: False)
    assert session._default_local_dir() is None

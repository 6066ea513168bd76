"""Driver-memory default of the session builder."""

from __future__ import annotations

import os

import pytest

from fhir2sql_spark.session import driver_memory

_PAGE = 4096


def _fake_sysconf(phys_gb: int):
    values = {"SC_PAGE_SIZE": _PAGE, "SC_PHYS_PAGES": phys_gb * 2**30 // _PAGE}
    return values.__getitem__


@pytest.mark.parametrize(
    "phys_gb,expected",
    [(4, "2048m"), (16, "8192m"), (48, "24576m"), (256, "24576m")],
)
def test_driver_memory_is_half_of_physical_capped_at_24g(
    monkeypatch, phys_gb, expected
):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(phys_gb))
    assert driver_memory() == expected


def test_driver_memory_env_overrides_default(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(256))
    assert driver_memory() == "2g"

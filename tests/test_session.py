"""Driver-memory default of the session builder, and worker imports."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

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


def test_workers_import_the_package_found_through_sys_path(tmp_path):
    """A driver that finds the package only through ``sys.path`` (run
    from another directory, ``PYTHONPATH`` unset) still gets an apply
    job whose Python workers can import it."""
    repo = str(Path(__file__).resolve().parent.parent)
    script = tmp_path / "one_sync.py"
    script.write_text(textwrap.dedent(f"""
        import json, sqlite3, sys
        sys.path.insert(0, {repo!r})
        from fhir2sql_spark.session import get_spark
        from fhir2sql_spark.sinks import jdbc_upsert
        from fhir2sql_spark.sync.pipeline import sync_resources

        def connect():
            return sqlite3.connect({str(tmp_path / "mirror.db")!r}, timeout=60)

        spark = get_spark("worker-imports")
        docs = [json.dumps({{"id": f"p{{i}}", "meta": {{"versionId": "1"}}}}) for i in range(3)]
        jdbc_upsert.create_mirror_tables(connect, ["patient"])
        stats = sync_resources(spark, spark.createDataFrame([(d,) for d in docs], "resource string"),
                               connect, "patient")
        print("inserts", stats.inserts, "mirror", stats.mirror_count_after)
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "inserts 3 mirror 3" in out.stdout

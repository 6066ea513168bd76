"""A throwaway PostgreSQL server for the sync workload.

Started like the repo's real-server round-trip test: ``initdb
--no-sync`` and a unix socket only, with ``fsync=off`` and
``synchronous_commit=off``. PostgreSQL refuses to run as root, so as
root the server runs as ``nobody``; it keeps the ``dac_read_search``
capability so it can reach a data directory under a private home.
"""

from __future__ import annotations

import os
import shutil
import subprocess
from functools import partial

from fhir2sql_spark.sinks import psql_dbapi

# Flush policy of the mirror, recorded with every result. The source
# side is files the generator wrote, with no fsync either.
FLUSH_SETTINGS = {"fsync": "off", "synchronous_commit": "off", "initdb": "--no-sync"}

_BINS = ("initdb", "pg_ctl", "postgres", "psql")


class PgServer:
    """Owns one cluster directory; ``stop`` shuts the server down."""

    def __init__(self, root: str) -> None:
        missing = [b for b in _BINS if shutil.which(b) is None]
        if missing:
            raise RuntimeError(f"PostgreSQL binaries not found: {missing}")
        self.root = os.path.abspath(root)
        self.data = os.path.join(self.root, "data")
        self.sock = os.path.join(self.root, "sock")
        self._as_root = os.geteuid() == 0
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.data)
        os.makedirs(self.sock)
        if self._as_root:
            subprocess.run(["chown", "-R", "nobody:nogroup", self.root], check=True)
        self._env = {**os.environ, "HOME": self.root, "LC_ALL": "C"}
        self._run(["initdb", "-D", self.data, "-U", "fhir", "--auth=trust", "--no-sync"])
        opts = f"-c listen_addresses='' -k {self.sock}" + "".join(
            f" -c {k}={v}" for k, v in FLUSH_SETTINGS.items() if k != "initdb"
        )
        self._run(
            ["pg_ctl", "-D", self.data, "-w", "-l", os.path.join(self.root, "log"),
             "-o", opts, "start"]
        )
        self.connect_fn = partial(psql_dbapi.connect, host=self.sock, user="fhir")
        with open(os.path.join(self.data, "postmaster.pid")) as fh:
            self.pid = int(fh.readline())

    def _run(self, args: list[str]) -> None:
        if self._as_root:
            args = [
                "setpriv", "--reuid=nobody", "--regid=nogroup", "--clear-groups",
                "--inh-caps=+dac_read_search", "--ambient-caps=+dac_read_search",
                "--", *args,
            ]
        subprocess.run(args, check=True, env=self._env, capture_output=True, text=True)

    def query(self, sql: str) -> list[tuple[str, ...]]:
        conn = self.connect_fn()
        try:
            return conn.cursor().execute(sql).fetchall()
        finally:
            conn.close()

    def stop(self) -> None:
        try:
            self._run(["pg_ctl", "-D", self.data, "stop", "-m", "immediate"])
        finally:
            shutil.rmtree(self.root, ignore_errors=True)

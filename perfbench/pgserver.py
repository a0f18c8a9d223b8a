"""An ephemeral Postgres cluster owned by one benchmark run.

The data directory and the unix socket live in the run's own work
directory; the server listens on no TCP port. Postgres refuses to run
as root, so as root the server binaries run in a user namespace that
maps the ``postgres`` account onto the calling user: the server sees a
non-root uid, while the kernel still checks file access as the caller,
so a work directory below a mode-0700 home stays reachable and the run
writes nothing outside it.
"""

from __future__ import annotations

import os
import shutil
import subprocess


def _pg_bin(name: str) -> str:
    """Server binaries: the ``/usr/local/bin`` wrappers when present,
    else whatever ``PATH`` finds."""
    local = os.path.join("/usr/local/bin", name)
    found = local if os.access(local, os.X_OK) else shutil.which(name)
    if found is None:
        raise FileNotFoundError(f"{name} not found")
    return found


def _as_server_user(argv: list[str]) -> list[str]:
    if os.geteuid() == 0:
        return ["unshare", "--map-user=postgres", "--map-group=postgres"] + argv
    return argv


class PgServer:
    def __init__(self, base: str):
        self.base = os.path.abspath(base)
        self.data = os.path.join(self.base, "pgdata")
        self.sock = self.base  # unix socket directory
        self.env = dict(os.environ, PGTZ="UTC")

    def start(self) -> None:
        os.makedirs(self.base, exist_ok=True)
        subprocess.run(
            _as_server_user([_pg_bin("initdb"), "-D", self.data, "-E", "UTF8",
                             "--no-locale", "-A", "trust", "-U", "postgres"]),
            check=True, capture_output=True, timeout=120,
        )
        opts = (
            f"-c listen_addresses='' -c unix_socket_directories={self.sock} "
            "-c timezone=UTC -c fsync=off -c synchronous_commit=off "
            "-c full_page_writes=off -c shared_buffers=128MB"
        )
        subprocess.run(
            _as_server_user([_pg_bin("pg_ctl"), "-D", self.data, "-l",
                             os.path.join(self.base, "pg.log"), "-o", opts,
                             "-w", "start"]),
            check=True, capture_output=True, timeout=120,
        )

    def stop(self) -> None:
        if os.path.exists(os.path.join(self.data, "postmaster.pid")):
            subprocess.run(
                _as_server_user([_pg_bin("pg_ctl"), "-D", self.data, "-m",
                                 "immediate", "-w", "stop"]),
                capture_output=True, timeout=120,
            )

    def postmaster_pid(self) -> int | None:
        try:
            with open(os.path.join(self.data, "postmaster.pid")) as f:
                return int(f.readline())
        except (OSError, ValueError):
            return None

    def psql(self, sql: str | None = None, db: str = "postgres",
             script: str | None = None) -> str:
        argv = ["psql", "--no-psqlrc", "--quiet", "-h", self.sock, "-U",
                "postgres", "-d", db, "-v", "ON_ERROR_STOP=1",
                "--tuples-only", "--pset=format=unaligned"]
        if sql is not None:
            argv += ["-c", sql]
        proc = subprocess.run(
            argv, input=script, capture_output=True, text=True,
            env=self.env, timeout=300,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"psql failed: {proc.stderr.strip()[:2000]}")
        return proc.stdout

    def clone_db(self, template: str, name: str) -> None:
        """Fresh database ``name`` as a file-level copy of ``template``."""
        self.psql(f"DROP DATABASE IF EXISTS {name}")
        self.psql(f"CREATE DATABASE {name} TEMPLATE {template}")

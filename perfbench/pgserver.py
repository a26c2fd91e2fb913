"""Lifecycle of the scratch Postgres server the connector workloads
read from and write to.

The server is a fresh `initdb` cluster with default settings, run as
the `postgres` system user (the server refuses to run as root). Its
data directory and unix socket live in a private directory under
/tmp: the `postgres` user cannot enter a checkout inside root's home
directory, and a unix socket path must stay under ~100 bytes. TCP is disabled; the
port only names the socket file. `stop()` always runs `pg_ctl stop -m
immediate`, waits for the postmaster to exit and removes the
directory, also after a failed start.
"""

from __future__ import annotations

import os
import pwd
import shutil
import socket
import subprocess
import tempfile
import time


def _find_pg_bin() -> str:
    """The directory holding initdb, pg_ctl and postgres: PATH first,
    then /usr/local/bin, where source builds install them."""
    for d in os.environ.get("PATH", "").split(os.pathsep) + ["/usr/local/bin"]:
        if d and all(os.access(os.path.join(d, b), os.X_OK)
                     for b in ("initdb", "pg_ctl", "postgres")):
            return d
    raise ServerUnavailable(
        "no Postgres server binaries (initdb, pg_ctl, postgres) on PATH "
        "or in /usr/local/bin")


class ServerUnavailable(RuntimeError):
    """The host cannot run a scratch Postgres server."""


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def alive(pid: int) -> bool:
    """True while `pid` runs; a zombie awaiting its reaper has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


class PgServer:
    """`with PgServer() as srv:` starts a cluster; `srv.dsn` reaches it."""

    def __init__(self, user: str = "postgres"):
        self.user = user
        self.root: str | None = None
        self.dsn = ""
        self.version = ""
        self.init_s = 0.0

    def _pg(self, cmd: list[str], timeout: float = 60):
        return subprocess.run(
            ["runuser", "-u", self.user, "--"] + cmd, cwd="/tmp",
            capture_output=True, text=True, timeout=timeout)

    def start(self) -> "PgServer":
        if shutil.which("runuser") is None:
            raise ServerUnavailable("runuser not found in PATH")
        try:
            pw = pwd.getpwnam(self.user)
        except KeyError:
            raise ServerUnavailable(f"no {self.user!r} system user") from None
        bin_dir = self._bin_dir = _find_pg_bin()
        t0 = time.perf_counter()
        self.root = tempfile.mkdtemp(prefix="perfbench_pg_", dir="/tmp")
        os.chown(self.root, pw.pw_uid, pw.pw_gid)
        data = os.path.join(self.root, "data")
        r = self._pg([f"{bin_dir}/initdb", "-D", data, "-A", "trust",
                      "-U", self.user, "--no-sync"])
        if r.returncode != 0:
            raise ServerUnavailable(f"initdb failed: {r.stderr[-400:]}")
        port = _free_port()
        r = self._pg([f"{bin_dir}/pg_ctl", "-D", data,
                      "-l", os.path.join(self.root, "server.log"),
                      "-o", f"-k {self.root} -h '' -p {port}", "-w", "start"])
        if r.returncode != 0:
            raise ServerUnavailable(f"pg_ctl start failed: {r.stderr[-400:]}")
        self.init_s = time.perf_counter() - t0
        self.dsn = (f"host={self.root} port={port} user={self.user} "
                    "dbname=postgres")
        r = subprocess.run([f"{bin_dir}/postgres", "--version"],
                           capture_output=True, text=True)
        self.version = r.stdout.strip()
        return self

    def _postmaster_pid(self) -> int | None:
        try:
            with open(os.path.join(self.root, "data", "postmaster.pid")) as f:
                return int(f.readline())
        except (OSError, ValueError):
            return None

    def stop(self) -> None:
        if self.root is None:
            return
        pid = self._postmaster_pid()
        if pid is not None:
            self._pg([f"{self._bin_dir}/pg_ctl", "-D",
                      os.path.join(self.root, "data"), "-m", "immediate",
                      "-w", "stop"])
            deadline = time.monotonic() + 20
            while alive(pid):
                if time.monotonic() > deadline:
                    os.kill(pid, 9)
                    break
                time.sleep(0.05)
        shutil.rmtree(self.root, ignore_errors=True)
        self.root = None

    def __enter__(self) -> "PgServer":
        try:
            return self.start()
        except BaseException:
            self.stop()
            raise

    def __exit__(self, *exc) -> None:
        self.stop()

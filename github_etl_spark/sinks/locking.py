"""Single-writer serialization for snapshot partitions (SURVEY §7.4 risk 5).

Dynamic partition overwrite makes each individual table write atomic
per partition, but a snapshot load spans FOUR tables: two concurrent
writers targeting the same `(repo, snapshot_date)` can interleave
their per-table overwrites and leave the warehouse with
`pull_requests` from writer A and `comments` from writer B — each
table internally consistent, the snapshot as a whole torn. (The
reference has the same exposure one layer down: its probe-then-delete
sequence races between the `SELECT 1` probe and the `DELETE`,
reference main.py:552-638.)

A transactional table format (Delta/Iceberg) closes this with a
multi-table commit; on plain parquet the standard closure is a
single-writer lock scoped to the partition. This module implements it
as an atomic-create lock file under `<warehouse>/_locks/`:

- `O_CREAT | O_EXCL` is atomic on every POSIX filesystem and on HDFS
  (`create(overwrite=false)`); on S3 the same protocol maps to a
  conditional `PUT If-None-Match`.
- The lock key is `(repo, snapshot_date)` — writers to DIFFERENT
  partitions never contend, so fleet-wide load parallelism is
  untouched; only same-partition replays serialize.
- Crash recovery: a holder that died leaves a lock file behind; a
  waiter breaks locks older than `stale_after` (the holder refreshes
  the mtime via `touch()` for long loads). Breaking is best-effort —
  it recovers from crashes, it is not a fairness protocol.
- `release()` only removes the file when the embedded token matches,
  so a holder whose lock was broken cannot delete a successor's lock.
"""

from __future__ import annotations

import json
import os
import time
import uuid


def _escape(value: str) -> str:
    """Filesystem-safe lock-key component (repo slugs contain '/')."""
    return "".join(f"%{ord(c):02X}" if c in '/\\%:"*?<>|' else c for c in value)


class LockTimeout(TimeoutError):
    pass


class PartitionLock:
    """Advisory single-writer lock for one `(repo, snapshot_date)`.

    Usage::

        with PartitionLock(base_dir, repo, date):
            ...  # all per-table writes of this snapshot load
    """

    def __init__(
        self,
        base_dir: str,
        repo: str,
        snapshot_date,
        stale_after: float = 3600.0,
    ):
        date = (
            snapshot_date.isoformat()
            if hasattr(snapshot_date, "isoformat")
            else str(snapshot_date)
        )
        self.path = os.path.join(
            base_dir, "_locks", f"{_escape(repo)}__{date}.lock"
        )
        self.stale_after = stale_after
        self.poll = 0.05
        self.token = uuid.uuid4().hex
        self._held = False

    def acquire(self, timeout: float = 600.0) -> "PartitionLock":
        deadline = time.monotonic() + timeout
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        payload = json.dumps(
            {"token": self.token, "pid": os.getpid(), "acquired_at": time.time()}
        ).encode()
        while True:
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, payload)
                finally:
                    os.close(fd)
                self._held = True
                return self
            except FileExistsError:
                self._maybe_break_stale()
                if time.monotonic() >= deadline:
                    raise LockTimeout(
                        f"could not acquire {self.path} within {timeout}s"
                    )
                time.sleep(self.poll)

    def _maybe_break_stale(self) -> None:
        try:
            st = os.stat(self.path)
        except FileNotFoundError:
            return  # released between our create attempt and the stat
        if time.time() - st.st_mtime > self.stale_after:
            # Best-effort crash recovery: remove and let the normal
            # atomic-create race decide the next holder.
            try:
                os.unlink(self.path)
            except FileNotFoundError:
                pass

    def touch(self) -> None:
        """Refresh the lock mtime mid-load so long loads aren't broken
        as stale by impatient waiters."""
        if self._held:
            try:
                os.utime(self.path, None)
            except FileNotFoundError:
                pass

    def release(self) -> None:
        if not self._held:
            return
        self._held = False
        try:
            with open(self.path, encoding="utf-8") as f:
                owner = json.load(f).get("token")
        except (FileNotFoundError, ValueError):
            return
        if owner == self.token:
            try:
                os.unlink(self.path)
            except FileNotFoundError:
                pass

    def __enter__(self) -> "PartitionLock":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()

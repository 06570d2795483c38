"""Multi-process write safety for table lifecycles.

The reference guards concurrent ingest/digest/query across unix
processes with pid-stamped lock files, bounded retry, and stale-lock
recovery (reference src/lib/table_lock.go:11-430: Grab/Release/
Recover, is_active_pid via signal 0, LOCK_US=3ms x LOCK_TRIES=50);
its shell stress interleaves ingest+digest processes on one table
(reference scripts/stress_ingest_digest.sh:1-27). This module is the
same protocol re-expressed for the Spark lifecycle:

- a lock is a DIRECTORY (`<scope>/<name>.lock/`), taken with atomic
  `os.mkdir` — the one filesystem primitive that is create-and-fail
  atomically everywhere local and on NFS, unlike O_EXCL files on NFS
  or lockf over shared mounts;
- the owner stamps `pid` inside; contenders poll it with signal 0.
  A lock whose owner is dead — or that has no pid past a grace
  window (owner crashed between mkdir and stamp) — is STOLEN by
  renaming the lock dir to a tombstone. Takeover is two-phase to
  close the observe/steal TOCTOU: a stealer must first win an
  O_EXCL `claim` file INSIDE the lock dir (exactly one contender
  holds it), then RE-VERIFY the owner is still dead before the
  rename — so a faster stealer that already took over and
  re-created a LIVE lock can never have its fresh lock tombstoned
  by a contender acting on a stale observation;
- stale-lock RECOVERY is not a lock concern here, by design: every
  guarded writer is crash-recoverable on entry, which is what lets
  takeover be a rename+retry instead of the reference's
  per-lock-type Recover() hooks. Tables re-adopt stranded staging
  dirs in recover_stages (digest/compact entry) and rollups drop an
  uncommitted increment in _recover_pending; a store dir's
  half-finished staged swap is undone by `commit.recover`, which
  `path_lock` runs right after the lock is taken, before the holder
  reads the store.

What it protects (each was a real race before this module):
- two `digest`s staging the same ingest files (the loser's rename
  storm strands a half-staged dir) and double-counting int_info;
- `recover_stages` adopting files out of a LIVE stage dir;
- `digest` / `compact_blocks` / `trim -delete` mutating blocks/
  under each other;
- query-cache `vacuum` deleting partials a concurrent writer is
  publishing;
- rollup / unigram-model compaction swapping a directory out from
  under a live stream's append: writers share the lock, so a
  micro-batch BLOCKS (up to its 300 s timeout) behind an in-flight
  compaction and vice versa; past the timeout the batch fails with
  LockHeld BEFORE its checkpoint commit, so it replays rather than
  being lost (blocking=False fail-fast exists for callers that
  prefer erroring immediately).

Readers take no lock, exactly like the reference: queries run
against whatever committed blocks exist (writers stage + rename, so
readers never see half-written files — and a Spark scan that has
already listed its files is immune to a concurrent swap's renames).
"""

from __future__ import annotations

import os
import time
import uuid

from sybil_spark.sources import commit


class LockHeld(RuntimeError):
    """The lock is held by a live process and the wait budget ran
    out (or blocking=False)."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True       # exists, owned by someone else (EPERM)
    return True


class DirLock:
    """`with DirLock(scope, name): ...` — mutual exclusion across
    processes on one filesystem. Non-reentrant. `blocking=False`
    raises LockHeld immediately when contended (the fail-fast mode
    the streaming compactors use)."""

    #: reference cadence: LOCK_US=3ms x LOCK_TRIES=50 (~150ms); the
    #: Spark jobs these guard run seconds, so the default budget is
    #: proportionally longer but still bounded — a deadlock surfaces
    #: as LockHeld with the owner pid, never a silent hang.
    POLL_S = 0.05
    #: grace before a pid-less lock dir counts as a mkdir/stamp crash
    STAMP_GRACE_S = 5.0

    def __init__(self, scope: str, name: str = "lifecycle",
                 timeout_s: float = 60.0, blocking: bool = True):
        self.dir = os.path.join(scope, f"{name}.lock")
        self.timeout_s = timeout_s
        self.blocking = blocking
        self._held = False

    # -- protocol ----------------------------------------------------
    def acquire(self) -> "DirLock":
        deadline = time.monotonic() + self.timeout_s
        os.makedirs(os.path.dirname(self.dir), exist_ok=True)
        while True:
            try:
                os.mkdir(self.dir)
            except FileExistsError:
                owner = self._owner()
                if owner == "stale":
                    if not self._steal():
                        time.sleep(self.POLL_S)   # claim contended
                    continue
                desc = (f"pid {owner}" if isinstance(owner, int)
                        else "an unstamped young lock (owner "
                             "between mkdir and pid stamp)")
                if not self.blocking:
                    raise LockHeld(f"{self.dir} held by {desc}")
                if time.monotonic() >= deadline:
                    raise LockHeld(
                        f"{self.dir} held by {desc} past "
                        f"{self.timeout_s}s — if the owner is a "
                        "stuck job, kill it; takeover is automatic "
                        "once it dies")
                time.sleep(self.POLL_S)
                continue
            with open(os.path.join(self.dir, "pid"), "w") as f:
                f.write(str(os.getpid()))
            self._held = True
            return self

    def release(self) -> None:
        if not self._held:
            return
        self._held = False
        # only ever delete our own lock: a crashed-us may have been
        # stolen and the dir re-owned in the meantime
        try:
            with open(os.path.join(self.dir, "pid")) as f:
                if int(f.read().strip()) != os.getpid():
                    return
        except (OSError, ValueError):
            return
        self._remove(self.dir)

    # -- internals ---------------------------------------------------
    def _owner(self) -> int | str:
        """Live owner pid, or 'stale' when the lock is takeable."""
        pid_p = os.path.join(self.dir, "pid")
        try:
            with open(pid_p) as f:
                pid = int(f.read().strip())
        except FileNotFoundError:
            # no stamp: young lock mid-stamp, or a crash between
            # mkdir and stamp — age decides
            try:
                age = time.time() - os.stat(self.dir).st_mtime
            except FileNotFoundError:
                return "stale"     # released under us; retry mkdir
            return "stale" if age > self.STAMP_GRACE_S else "young"
        except (OSError, ValueError):
            return "stale"         # unreadable stamp == broken lock
        return pid if _pid_alive(pid) else "stale"

    def _try_claim(self) -> bool:
        """O_EXCL-create the steal-claim file inside the lock dir —
        at most one contender holds it, so at most one process can
        be in the verify→rename critical section. A claim whose
        stamped claimer is dead (or that is unstamped past the
        grace window — claimer crashed mid-stamp) is cleared so a
        crashed stealer can't wedge takeover forever."""
        claim = os.path.join(self.dir, "claim")
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileNotFoundError:
            return False           # dir vanished; retry mkdir
        except FileExistsError:
            try:
                with open(claim) as f:
                    dead = not _pid_alive(int(f.read().strip()))
            except FileNotFoundError:
                return False       # claimer just finished; re-loop
            except (OSError, ValueError):
                try:               # unstamped claim: age decides
                    dead = (time.time() - os.stat(claim).st_mtime
                            > self.STAMP_GRACE_S)
                except FileNotFoundError:
                    return False
            if dead:
                try:
                    os.unlink(claim)
                except FileNotFoundError:
                    pass
            return False
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True

    def _steal(self) -> bool:
        """Two-phase takeover of a stale lock. Phase 1: win the
        exclusive claim file (serializes stealers). Phase 2:
        RE-VERIFY the owner is still dead, then tombstone-rename and
        delete. The re-verify under the claim is what closes the
        TOCTOU where a faster stealer completed its takeover and
        re-created a LIVE lock between this contender's _owner()
        observation and its rename — acting on that stale
        observation would tombstone the fresh live lock and leave
        two processes holding it. Returns True when the dir was
        removed (or vanished) and mkdir is worth retrying now."""
        try:
            pre = os.stat(self.dir)
        except FileNotFoundError:
            return True
        if not self._try_claim():
            return False
        owner = self._owner()
        if owner == "young":
            # our own claim-create just refreshed the dir mtime, so
            # the age probe can no longer see staleness. Same inode
            # as the pre-claim stat proves this is the SAME dir we
            # observed stale (a takeover re-creates the dir under a
            # new inode); pid still absent + pre-claim age past
            # grace re-confirms the crashed-mid-stamp case.
            try:
                cur = os.stat(self.dir)
                if (cur.st_ino == pre.st_ino
                        and time.time() - pre.st_mtime
                        > self.STAMP_GRACE_S
                        and not os.path.exists(
                            os.path.join(self.dir, "pid"))):
                    owner = "stale"
            except FileNotFoundError:
                owner = "stale"
        if owner != "stale":
            # live re-owner appeared between observation and claim:
            # back off WITHOUT touching the dir. (Unlink of our
            # claim races only with the owner's own rmtree-release.)
            try:
                os.unlink(os.path.join(self.dir, "claim"))
            except FileNotFoundError:
                pass
            return False
        # claim held + owner verifiably dead: nobody else can rename
        # (claim is exclusive), nobody can mkdir (dir exists), the
        # owner cannot release (it is dead) — the rename is safe.
        tomb = f"{self.dir}.tomb-{uuid.uuid4().hex[:8]}"
        try:
            os.rename(self.dir, tomb)
        except FileNotFoundError:
            return True
        self._remove(tomb)
        return True

    @staticmethod
    def _remove(d: str) -> None:
        import shutil
        shutil.rmtree(d, ignore_errors=True)

    def __enter__(self) -> "DirLock":
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self.release()


class _StoreLock(DirLock):
    """path_lock's lock: once held, `commit.recover` finishes whatever
    a crashed staged swap left of the store it guards."""

    def acquire(self) -> "DirLock":
        super().acquire()
        try:
            commit.recover(self.dir[:-len(".lifecycle.lock")])
        except BaseException:
            self.release()
            raise
        return self


def path_lock(path: str, **kw) -> DirLock:
    """Lifecycle lock for a standalone store directory (rollup dir,
    unigram model dir, index dir, ...). The lock dir lives BESIDE the
    store — `<parent>/<name>.lifecycle.lock` — never inside it: the
    staged compactors RENAME the store away mid-swap, and a lock
    inside would travel with it. Taking it runs `commit.recover` on
    the store, so every `commit.staged_swap(path)` runs under it."""
    path = os.path.abspath(path.rstrip("/"))
    parent = os.path.dirname(path)
    os.makedirs(parent, exist_ok=True)
    return _StoreLock(parent, os.path.basename(path) + ".lifecycle", **kw)


def table_lock(table, **kw) -> DirLock:
    """The per-table lifecycle lock (digest / compact / trim /
    rebuild / cache-vacuum all serialize on it). Lives inside the
    table dir so it travels with the table."""
    os.makedirs(table.path, exist_ok=True)
    return DirLock(table.path, "lifecycle", **kw)

"""Crash-safe publish of a state directory (LOCAL POSIX FS only).

Every state writer — rollup builds and folds, table models,
incremental-model merges, SCD2 snapshots — replaces its directory
through :func:`publish_dir`, and every reader that decides between
reading and bootstrapping asks :func:`recover_dir` first.

Protocol: write ``<path>__tmp_<token>`` → take the ``<path>__lock``
flock → rename the live dir aside to ``<path>__old_<token>`` → promote
the tmp → delete the aside → sweep older ``__old_`` asides and stale
``__tmp_`` dirs. A crash at any step leaves a complete version on disk:
``path`` itself, or an ``__old_`` aside that :func:`recover_dir` renames
back. A write that raises (including a caller's refusal) removes its tmp
and leaves ``path`` untouched.

SINGLE-WRITER contract: the lock serializes the rename window against a
same-machine :func:`recover_dir`, it does not make two concurrent
read-merge-publish cycles safe (the second promote discards the first's
merge). Object stores lack atomic directory rename and cross-machine
writers are beyond ``flock`` — use a transactional table format there.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from typing import Callable

# a __tmp_ dir younger than this may be another process's in-flight write
# (the Spark write runs outside the lock); the sweep leaves it alone
_TMP_MAX_AGE_S = 3600


@contextmanager
def _lock(path: str):
    """``flock`` on ``<path>__lock`` beside the state dir; released
    automatically when the holder dies, so no stale-lock sweeps."""
    fd = os.open(f"{path}__lock", os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)  # closing the descriptor releases the flock


def recover_dir(path: str) -> bool:
    """Adopt the newest ``__old_`` aside when ``path`` is missing (a crash
    landed between the rename-aside and the promote) and return whether
    ``path`` exists afterwards. Callers that would otherwise bootstrap
    from scratch must ask this, not ``os.path.exists`` — a bootstrap
    would replace the last committed version with one batch."""
    path = path.rstrip("/")
    if os.path.exists(path):
        return True
    parent = os.path.dirname(path) or "."
    if not os.path.isdir(parent):
        return False
    with _lock(path):
        if os.path.exists(path):
            return True
        prefix = f"{os.path.basename(path)}__old_"
        asides = sorted(
            (os.path.join(parent, n) for n in os.listdir(parent)
             if n.startswith(prefix)),
            key=os.path.getmtime,
        )
        if asides:
            os.rename(asides[-1], path)
        return bool(asides)


def publish_dir(path: str, write: Callable[[str], None]) -> None:
    """Replace the directory at ``path`` with what ``write(tmp)`` writes
    into the fresh sibling ``tmp``. ``write`` may raise to refuse; any
    exception before the promote removes ``tmp`` and re-raises with
    ``path`` untouched. Callers build what ``write`` reads only after
    :func:`recover_dir` — recovering here would adopt an aside the new
    version never saw."""
    path = path.rstrip("/")
    token = uuid.uuid4().hex[:8]
    tmp, old = f"{path}__tmp_{token}", f"{path}__old_{token}"
    promoted = False
    try:
        write(tmp)
        with _lock(path):
            if os.path.exists(path):
                os.rename(path, old)
            os.rename(tmp, path)
            promoted = True
            if os.path.exists(old):
                shutil.rmtree(old)
            # residue of earlier crashes is swept only now, after a newer
            # version was promoted
            parent = os.path.dirname(path) or "."
            base = os.path.basename(path)
            for name in os.listdir(parent):
                full = os.path.join(parent, name)
                if name.startswith(f"{base}__old_"):
                    shutil.rmtree(full, ignore_errors=True)
                elif name.startswith(f"{base}__tmp_"):
                    try:
                        age = time.time() - os.path.getmtime(full)
                    except OSError:
                        continue
                    if age > _TMP_MAX_AGE_S:
                        shutil.rmtree(full, ignore_errors=True)
    finally:
        if not promoted:
            shutil.rmtree(tmp, ignore_errors=True)

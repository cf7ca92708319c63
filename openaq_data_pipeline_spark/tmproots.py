"""Crash-robust temp-index hygiene (VERDICT r6 'What's wrong' #2 /
next #8).

Every temp-rooted index (`temp_index`, `temp_fuzzy_index`,
`temp_simhash_index`, `temp_ivf_index`, `temp_bm25_index`) and the
streaming drain sink allocate their directories through
:func:`session_tmpdir`, which roots them under ONE per-process
session directory::

    /tmp/openaq_spark_tmp/<pid>_<token>/<prefix><random>/

The context-manager ``__exit__``/``drop()`` path still removes each
index's own dir promptly; the session root is the backstop for the
path that actually leaked in round 6 — a process killed between
``mkdtemp`` and ``__exit__`` (the driver's own bench run left
``/tmp/simhash_index_vluk_5mz`` behind). Two reapers close that
window:

- this process removes its own root at interpreter exit (atexit);
- :func:`reap_stale_roots` — called once per process from
  ``get_spark()`` — removes any sibling root whose owning pid is no
  longer alive. Pid-liveness (not age) is the guard, so a
  concurrently RUNNING session on the same box (bench + pytest
  overlap is real on this host) is never swept.

Legacy flat-prefix dirs (``dedup_index_*`` … ``stream_drain_*``
directly in /tmp, from code before this module) are also reaped, but
only when the NEWEST mtime anywhere in the tree is past a 6-hour age
gate: nothing creates them anymore, yet an old binary might still be
running, and a live process appends/compacts files deep inside the
dir without ever touching the top-level mtime (ADVICE r7 #4 — the
top-level gate could sweep a live index from under a >6h-old
process). Age of the most-recent write is the closest liveness
signal we have for ownerless dirs.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

ROOT_PARENT = os.path.join(tempfile.gettempdir(), "openaq_spark_tmp")

# prefixes the pre-hygiene code mkdtemp'ed straight into /tmp
LEGACY_PREFIXES = (
    "dedup_index_",
    "fuzzy_index_",
    "simhash_index_",
    "ivf_index_",
    "bm25_index_",
    "stream_drain_",
)
LEGACY_MAX_AGE_SEC = 6 * 3600

_session_root: str | None = None


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else — leave it alone
    return True


def session_root() -> str:
    """This process's temp root, created lazily and removed at
    interpreter exit."""
    global _session_root
    if _session_root is None or not os.path.isdir(_session_root):
        os.makedirs(ROOT_PARENT, exist_ok=True)
        _session_root = os.path.join(
            ROOT_PARENT, f"{os.getpid()}_{uuid.uuid4().hex[:8]}"
        )
        os.makedirs(_session_root, exist_ok=True)
        atexit.register(shutil.rmtree, _session_root, ignore_errors=True)
    return _session_root


def session_tmpdir(prefix: str) -> str:
    """mkdtemp under the session root — drop-in for
    ``tempfile.mkdtemp(prefix=...)`` at every temp-index call site."""
    return tempfile.mkdtemp(prefix=prefix, dir=session_root())


def reap_stale_roots(now: float | None = None) -> list[str]:
    """Remove session roots owned by dead pids and over-age legacy
    flat-prefix dirs. Returns the paths removed (for tests/logging).
    Safe to call concurrently — removal races are tolerated."""
    import time

    removed: list[str] = []
    if os.path.isdir(ROOT_PARENT):
        for entry in os.listdir(ROOT_PARENT):
            path = os.path.join(ROOT_PARENT, entry)
            pid_part = entry.split("_", 1)[0]
            if not pid_part.isdigit():
                continue
            if int(pid_part) == os.getpid() or _pid_alive(int(pid_part)):
                continue
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
    now = time.time() if now is None else now
    tmp = tempfile.gettempdir()
    try:
        entries = os.listdir(tmp)
    except OSError:
        entries = []
    for entry in entries:
        if not entry.startswith(LEGACY_PREFIXES):
            continue
        path = os.path.join(tmp, entry)
        if not os.path.isdir(path):
            continue
        # gate on the NEWEST mtime in the whole tree: a still-running
        # pre-hygiene process writes files deep inside the dir without
        # refreshing the top-level mtime
        if now - _tree_mtime(path) > LEGACY_MAX_AGE_SEC:
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
    return removed


def _tree_mtime(path: str) -> float:
    """Newest mtime of any file or directory under ``path``
    (inclusive). Index dirs are small (hundreds of files), so the
    walk is cheap; on error, returns +inf so the caller never reaps
    a dir it couldn't fully inspect."""
    try:
        newest = os.path.getmtime(path)
        for dirpath, dirnames, filenames in os.walk(path):
            for name in dirnames + filenames:
                try:
                    newest = max(
                        newest, os.path.getmtime(os.path.join(dirpath, name))
                    )
                except OSError:
                    return float("inf")
    except OSError:
        return float("inf")
    return newest

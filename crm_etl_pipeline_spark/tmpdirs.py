"""Per-PID /tmp roots with crash-safe reclamation — shared by every
module that materializes scratch data (bucketed tables, streaming
workdirs, layout stores, persisted indexes).

The contract, generalized from bucketing.py's round-4 fix: roots are
PID-namespaced so parallel runs can't rmtree files the other is
mid-read; this process's roots are removed at exit (atexit); roots
left by dead PIDs (crashed runs never reach atexit) are swept on first
use of the family; and an age gate reclaims roots regardless of
apparent liveness, covering PID reuse by an unrelated long-lived
process AND mkdtemp-style roots whose suffix is not a PID at all. No
legitimate run keeps a scratch root around longer than the age gate.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
import time

STALE_AGE_S = 6 * 3600

_swept_families: set[str] = set()


def _sweep_family(family: str) -> None:
    now = time.time()
    for p in glob.glob(f"{tempfile.gettempdir()}/{family}_*"):
        try:
            if now - os.path.getmtime(p) > STALE_AGE_S:
                shutil.rmtree(p, ignore_errors=True)  # age reclaim: pid-reuse-proof
                continue
        except OSError:
            continue  # raced with another sweeper
        try:
            pid = int(p.rsplit("_", 1)[-1])
        except ValueError:
            continue  # not pid-suffixed (e.g. mkdtemp): age gate is its only reclaim
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # liveness probe only
        except ProcessLookupError:
            shutil.rmtree(p, ignore_errors=True)
        except PermissionError:
            pass  # someone else's live process


def register_family(family: str) -> None:
    """Sweep dead-PID leftovers for this family once per process."""
    if family not in _swept_families:
        _swept_families.add(family)
        _sweep_family(family)


def pid_root(family: str) -> str:
    """Stable per-process root (NOT cleared between invocations):
    /tmp/{family}_{pid}, removed at process exit, family swept."""
    register_family(family)
    root = f"{tempfile.gettempdir()}/{family}_{os.getpid()}"
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def pid_scoped(family: str, *parts: str) -> str:
    """Fresh per-invocation dir /tmp/{family}_{parts…}_{pid}: cleared
    now (re-runs never see stale state), removed at exit, family swept."""
    register_family(family)
    base = os.path.join(
        tempfile.gettempdir(), "_".join((family, *parts, str(os.getpid())))
    )
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return base


def sf_scoped(family: str, sf_dir: str, *tags: str) -> str:
    """``pid_scoped`` dir for one scale factor:
    /tmp/{family}_{tags…}_{basename(sf_dir)}_{pid}."""
    return pid_scoped(family, *tags, os.path.basename(sf_dir.rstrip("/")))

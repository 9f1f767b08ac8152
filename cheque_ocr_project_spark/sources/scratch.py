"""Scratch directories under the temp dir, tagged with the creating pid,
and the one sweep that keeps them bounded.

A query that stages data writes it to ``mkdtemp(prefix)`` and returns a
lazy plan that still reads it, so no run removes its own dirs. Instead,
the next run sweeps hour-old siblings with ``sweep(prefix, ...)``; a
sibling whose creating process is still alive (a concurrent or paused
session) is kept whatever its age.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
import time
from pathlib import Path

MAX_AGE_S = 3600

# "pid<N>-": the random mkdtemp suffix never contains "-".
_PID_TAG = re.compile(r"pid(\d+)-")


def mkdtemp(prefix: str) -> str:
    """``tempfile.mkdtemp`` with this process's pid in the name."""
    return tempfile.mkdtemp(prefix=f"{prefix}pid{os.getpid()}-")


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by another user
    return True


def sweep(*prefixes: str) -> None:
    """Remove temp-dir siblings starting with any of ``prefixes`` that are
    older than ``MAX_AGE_S`` and whose creating pid is not alive. A name
    without a pid tag (made before tagging) goes on age alone."""
    cutoff = time.time() - MAX_AGE_S
    root = Path(tempfile.gettempdir())
    for prefix in prefixes:
        for old in root.glob(f"{prefix}*"):
            tag = _PID_TAG.search(old.name, len(prefix))
            try:
                if (old.is_dir() and old.stat().st_mtime < cutoff
                        and not (tag and _alive(int(tag.group(1))))):
                    shutil.rmtree(old, ignore_errors=True)
            except OSError:
                pass  # a concurrent sweep already removed it

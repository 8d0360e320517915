"""Scratch directories for ops that stage or sink files.

Every such op writes a fresh directory per call. They all live under one
per-process root, made on first use (so a ``TMPDIR`` set before then
applies) and removed with everything under it at interpreter exit. An op
returns a lazy frame that may read its directory at any later point, so
nothing is removed earlier.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading

_root: str | None = None
_lock = threading.Lock()


def scratch_dir(prefix: str) -> str:
    """A new empty directory named ``prefix…`` under the process root."""
    global _root
    with _lock:
        if _root is None:
            _root = tempfile.mkdtemp(prefix="igis-scratch-")
            atexit.register(shutil.rmtree, _root, True)
    return tempfile.mkdtemp(prefix=prefix, dir=_root)

"""One process-owned scratch root for every temporary path the engine writes.

Stream segments and sinks, state tables, fixture images, the zipped
package shipped to Python workers and fsimage inflate sidecars all land in
subdirectories of a single root, created on first use and removed when the
interpreter exits. Spark reads many of these lazily (a parquet sink behind
a returned DataFrame, a sidecar behind a mapInPandas decode), so nothing is
removed while the process can still use it, and nothing outlives it.

The root belongs to the process that created it: a forked child inherits
the exit hook but leaves the parent's root alone and makes its own on
first use.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

_LOCK = threading.Lock()
_root: str | None = None
_owner: int | None = None


def root() -> str:
    """The process's scratch root (created on first call)."""
    global _root, _owner
    with _LOCK:
        if _root is None or _owner != os.getpid():
            _root, _owner = tempfile.mkdtemp(prefix="nna_scratch_"), os.getpid()
            atexit.register(_remove, _root, _owner)
        return _root


def mkdir(prefix: str) -> str:
    """A fresh, uniquely named directory under the scratch root."""
    return tempfile.mkdtemp(prefix=prefix, dir=root())


def _remove(path: str, owner: int) -> None:
    if os.getpid() == owner:
        shutil.rmtree(path, ignore_errors=True)

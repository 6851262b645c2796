"""Shared on-disk artifact store for train-once/serve-many relations
(learned quantization ranges, the real-ledger warehouse build).

Two hazards this module exists to close:

* **Check-then-write races**: two sessions that both observe a missing
  completion marker would previously both run ``write.mode("overwrite")``
  into the SAME directory -- one writer can delete files the other just
  committed, and a concurrent reader sees a partial table.  Here every
  build lands in a unique temp directory and is published with one
  atomic ``os.rename``; the loser of the rename discards its copy and
  reads the winner's.  A published artifact is therefore always
  complete.
* **Split roots**: the root path / env-var default was duplicated per
  consumer module; this is the single definition.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from collections.abc import Callable

ARTIFACT_ROOT = os.environ.get(
    "SPARK_GRAFT_ARTIFACTS", "/tmp/spark_graft_artifacts"
)


def source_key(src: str) -> str:
    """Identity of the source file an artifact is trained from: a short
    hash of its absolute path and mtime, so regenerated data keys a new
    artifact.  A missing file keys as mtime 0."""
    try:
        mtime = os.stat(src).st_mtime_ns
    except OSError:
        mtime = 0
    return hashlib.md5(f"{os.path.abspath(src)}|{mtime}".encode()).hexdigest()[:16]


def build_once(path: str, marker: str, build: Callable[[str], None]) -> str:
    """Ensure the artifact directory ``path`` exists and is complete.

    ``build(tmp_dir)`` materializes the artifact into ``tmp_dir``; this
    function stamps ``marker`` (if the builder did not) and publishes
    the directory atomically.  Safe under concurrent callers in separate
    processes or threads: at most one rename wins, everyone returns a
    complete artifact.  A stale half-built directory left by a crashed
    PRE-atomic writer (no marker) is replaced.
    """
    done = os.path.join(path, marker)
    if os.path.exists(done):
        return path
    tmp = f"{path}.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    try:
        build(tmp)
        tmp_marker = os.path.join(tmp, marker)
        if not os.path.exists(tmp_marker):
            with open(tmp_marker, "w") as f:
                f.write("ok")
        try:
            os.rename(tmp, path)
        except OSError:
            if os.path.exists(done):
                pass  # concurrent builder won; use theirs
            else:
                # pre-atomic leftover without a marker: replace it
                shutil.rmtree(path, ignore_errors=True)
                os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path

"""The package's commit primitives: every pointer and record write goes
through them. Each write stages a per-writer tmp (a shared tmp name lets
writers interleave truncate/replace), fsyncs it before its rename or link
and fsyncs the directory after, so a committed name survives power loss."""

import os
import uuid
from collections.abc import Callable


def _synced_tmp(path: str, payload: str) -> str:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    return tmp


def _sync_dir(path: str) -> None:
    fd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def atomic_write(path: str, payload: str) -> None:
    """Replace ``path``: readers see the old bytes or the new, never part."""
    os.replace(_synced_tmp(path, payload), path)
    _sync_dir(path)


def create_exclusive(path: str, payload: str) -> None:
    """Create ``path`` with its full content, or raise FileExistsError: the
    fail-if-exists step that arbitrates committers (Delta's ``N.json``).
    Linking a fully written tmp is the commit point, so no reader sees the
    empty record ``O_CREAT|O_EXCL`` plus a buffered write would expose."""
    tmp = _synced_tmp(path, payload)
    try:
        os.link(tmp, path)
    finally:
        os.remove(tmp)
    _sync_dir(path)


def advance(path: str, ordinal: int, payload: str, ordinal_of: Callable[[str], int]) -> bool:
    """Forward-only pointer swap: write ``payload`` only when the pointer is
    missing or ``ordinal_of`` reads an ordinal below ``ordinal`` from it.
    Returns whether it moved. Read and replace are two steps: two advances
    racing inside that window can still land the lower ordinal last."""
    try:
        with open(path) as f:
            if ordinal_of(f.read()) >= ordinal:
                return False
    except FileNotFoundError:
        pass
    atomic_write(path, payload)
    return True

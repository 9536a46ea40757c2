"""The package's commit primitives. A commit is one exclusive step: the
fail-if-exists create of a record (:func:`create_exclusive`) or the
rename that claims a name (:func:`claim_rename`); nothing a commit makes
is replaced afterwards. :func:`atomic_write` replaces files that are not
commit points. Each write stages a per-writer tmp (a shared tmp name lets
writers interleave truncate/replace), fsyncs it before its rename or link
and fsyncs the directory after, so a committed name survives power loss."""

import errno
import os
import uuid


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


def claim_rename(src: str, dst: str) -> bool:
    """Move the fully written ``src`` to ``dst`` in one rename, the commit
    point of a claim. A directory is never renamed onto a non-empty one,
    so of racing directory claims exactly one wins; the others get False.
    A file rename replaces, so a file's ``dst`` must be a name its caller
    already owns (an exclusively created claim record)."""
    try:
        os.rename(src, dst)
    except OSError as e:
        if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
            raise
        return False
    _sync_dir(dst)
    return True

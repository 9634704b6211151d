"""Shared file-system idioms of the table writers.

``atomic_write`` is the one implementation of the tmp + rename idiom
every chain/metadata writer uses (review r12: the hand-expanded copies
had a fixed tmp name, which lets two concurrent writers interleave
into the SAME temp file and publish a torn byte-mixture —
``_write_meta``'s uuid suffix exists precisely to prevent that).
``unlink_quietly`` discards writer output that no commit references."""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterable


def atomic_write(path: str, data: bytes | str, fsync: bool = True) -> None:
    """Write ``data`` to a PRIVATE uuid-suffixed temp file, then
    ``os.replace`` onto ``path``: concurrent writers each own their
    tmp (last replace wins whole — never interleaved), readers see
    either version whole, and a crash leaves only ``*.tmp-*`` debris
    (collected by ``remove_orphan_files``). ``fsync`` flushes file
    data before the rename so the published content survives power
    loss; the directory entry itself may still lag (full durability
    would fsync the directory too — the same tradeoff the table's
    ``_write_meta`` takes)."""
    mode = "wb" if isinstance(data, (bytes, bytearray)) else "w"
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, mode) as fh:
        fh.write(data)
        if fsync:
            fh.flush()
            os.fsync(fh.fileno())
    os.replace(tmp, path)


def unlink_quietly(root: str, rel_paths: Iterable[str]) -> None:
    """Best-effort removal of never-committed files (paths relative to
    ``root``): a replayed batch's duplicates, an aborted write's task
    output, a conflicted attempt's rewrite. A file that is already
    gone or cannot be removed is left to ``remove_orphan_files``."""
    for rel in rel_paths:
        try:
            os.remove(os.path.join(root, rel))
        except OSError:
            pass

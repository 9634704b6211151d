"""The snapshot graph of a LakeTable: how an id, a ref or a timestamp
resolves to a snapshot record, the parent-pointer ancestry between
records, and what one commit changed against its parent.

Plain functions over the EXPANDED metadata dict (every record carries
its full file list, see ``table.expand_meta``). Records are returned as
the metadata's own dicts — nothing is parsed — so callers that need
typed entries parse only the record they use. No Spark import: the
stream source's driver-side planning and the unit tests use this
module without a session.
"""

from __future__ import annotations


class SnapshotNotFound(KeyError, ValueError):
    """An id, branch or parent that resolves to no retained record.

    Both a KeyError (LakeTable's lookup contract) and a ValueError (the
    stream source's planning contract), so each caller keeps the
    exception type its users already catch."""

    __str__ = Exception.__str__  # KeyError would quote the message


def _index(meta: dict) -> dict[int, dict]:
    return {sn["snapshot_id"]: sn for sn in meta.get("snapshots") or []}


def get(meta: dict, sid: int) -> dict:
    """The retained record of snapshot ``sid``."""
    sn = _index(meta).get(sid)
    if sn is None:
        raise SnapshotNotFound(f"no snapshot {sid} (expired or never existed)")
    return sn


def ref_head(meta: dict, branch: str | None) -> int:
    """Head snapshot id of a ref — main (``branch=None``) or a named
    branch; 0 when the ref has no commits."""
    if branch is None:
        return meta.get("current_snapshot_id") or 0
    branches = meta.get("branches") or {}
    if branch not in branches:
        raise SnapshotNotFound(
            f"no branch {branch!r}; branches: {sorted(branches)}")
    return branches[branch] or 0


def ancestry(meta: dict, head: int, back_to: int = 0) -> list[dict]:
    """Records (back_to, head] along parent pointers, NEWEST first.

    ``back_to == 0`` (a walk to the root, or a fresh stream consumer):
    an expired tail is tolerated — the walk stops at the oldest
    RETAINED record, Iceberg's semantics for new consumers of a table
    whose early history was expired. The last element's ``parent_id``
    is then None (a root commit) or names an expired record.

    ``back_to != 0`` (a concrete consumed boundary): every record in
    the range AND the boundary itself must exist — the next commit's
    change set diffs against ``back_to``'s file list, so an expired
    boundary makes the range unrecoverable (treating the oldest
    element's missing parent as 'no parent' would redeliver the whole
    table to an exactly-once consumer). Also raises when ``back_to`` is
    not on the ancestry at all (a re-pointed or rewound ref): walking
    past it to the root would replay the entire history."""
    by_id = _index(meta)
    chain: list[dict] = []
    node = head or None
    while node and node != back_to:
        sn = by_id.get(node)
        if sn is None:
            if not back_to:
                break
            raise ValueError(
                f"snapshot {node} in the range ({back_to}, {head}] was "
                f"expired (expire_snapshots) before it was consumed; the "
                f"commits are unrecoverable — a stream must restart from "
                f"a fresh checkpoint"
            )
        chain.append(sn)
        node = sn.get("parent_id")
    if back_to:
        if node != back_to:
            raise ValueError(
                f"snapshot {back_to} is not on the ref's ancestry (the ref "
                f"was re-pointed or rewound); continuing from it would "
                f"replay already-consumed commits — a stream must restart "
                f"from a fresh checkpoint"
            )
        if back_to not in by_id:
            raise ValueError(
                f"snapshot {back_to} (the consumed range boundary) was "
                f"expired (expire_snapshots); the next commit's change set "
                f"diffs against its file list, so the range is "
                f"unrecoverable — a stream must restart from a fresh "
                f"checkpoint"
            )
    return chain


def as_of(meta: dict, ts_ms: int, head: int) -> dict | None:
    """The newest record committed at or before ``ts_ms`` ON ``head``'s
    ANCESTRY (None if there is none). Resolving over all snapshots
    would leak commits staged on other branches (unpublished WAP)."""
    return next(
        (sn for sn in ancestry(meta, head)
         if sn.get("timestamp_ms", 0) <= ts_ms),
        None,
    )


def changes(
    meta: dict, snap: dict, initial_load_ok: bool = False
) -> tuple[list[dict], set, list[dict]]:
    """(files added, paths removed, delete files added) vs the
    snapshot's own parent.

    A parent id that resolves to no record means the parent was
    EXPIRED. That is only interpretable for a fresh (offset-0) start —
    ``initial_load_ok=True`` — where the snapshot's cumulative file list
    IS the initial load a new consumer should receive. Otherwise it
    raises: treating 'parent expired' as 'no parent' would report every
    file the snapshot carries as added, not just the ones it added."""
    pid = snap.get("parent_id")
    parent = None
    if pid is not None:
        parent = _index(meta).get(pid)
        if parent is None and not initial_load_ok:
            raise SnapshotNotFound(
                f"snapshot {snap['snapshot_id']}'s parent {pid} was expired "
                f"(expire_snapshots); its change set is unrecoverable"
            )
    parent_paths = {f["path"] for f in parent["files"]} if parent else set()
    added = [f for f in snap["files"] if f["path"] not in parent_paths]
    removed = parent_paths - {f["path"] for f in snap["files"]}
    parent_dels = {d["path"] for d in (parent or {}).get("delete_files", [])}
    new_dels = [
        d for d in snap.get("delete_files", []) if d["path"] not in parent_dels
    ]
    return added, removed, new_dels

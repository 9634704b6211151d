"""Merge-on-read delete files resolved on the driver: which rows of
which data files a snapshot's delete files kill, as plain Python sets.

Iceberg v2 applies a position delete (content=1) to the rows it names
in the data file it names, and an equality delete (content=2) to every
row whose key equals one of its key rows in a data file with a SMALLER
sequence number. :func:`resolve` turns a read's data files and the
delete files that apply to them into groups of files that share one
kill set, so a reader filters each group with set probes instead of
joining the delete rows to every data row.

Each delete file is decoded with pyarrow once per process, keyed by
its absolute path. Delete files are immutable and uuid-named, so the
cache never needs invalidation; it is bounded by decoded rows
(least-recently-used files go first), so a long table history cannot
grow it without limit. No Spark import.
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

# Decoded delete rows kept across reads. A position row costs about
# 100 bytes of Python objects and a key row about the same, so the
# bound holds the cache near 100 MB.
CACHE_ROWS = 1_000_000

_cache: OrderedDict[tuple, tuple[int, object]] = OrderedDict()
_cached_rows = 0
_lock = threading.Lock()


def _cached(key: tuple, decode: Callable[[], tuple[int, object]]) -> object:
    """``decode()``'s value (its first item is its row count), memoized
    under ``key`` in the row-bounded LRU cache."""
    global _cached_rows
    with _lock:
        hit = _cache.get(key)
        if hit is not None:
            _cache.move_to_end(key)
            return hit[1]
    rows, value = decode()
    with _lock:
        if key not in _cache:
            _cache[key] = (rows, value)
            _cached_rows += rows
            while _cached_rows > CACHE_ROWS and len(_cache) > 1:
                _key, (n, _v) = _cache.popitem(last=False)
                _cached_rows -= n
    return value


def clear_cache() -> None:
    global _cached_rows
    with _lock:
        _cache.clear()
        _cached_rows = 0


def _norm_path(p: str) -> str:
    """A ``file_path`` as a position delete records it, in the domain
    of absolute filesystem paths: a foreign writer may spell it as a
    ``file:`` URI."""
    return re.sub(r"^file:/+", "/", p)


def positions(path: str) -> dict[str, frozenset[int]]:
    """The rows a position-delete file kills: data-file path → row
    ordinals."""
    def decode():
        import pyarrow.parquet as pq

        tbl = pq.read_table(path, columns=["file_path", "pos"])
        out: dict[str, set[int]] = {}
        for f, p in zip(tbl.column("file_path").to_pylist(),
                        tbl.column("pos").to_pylist()):
            out.setdefault(_norm_path(f), set()).add(p)
        return tbl.num_rows, {f: frozenset(ps) for f, ps in out.items()}

    return _cached(("position", path), decode)


def keys(path: str, cols: Sequence[str]) -> frozenset[tuple]:
    """The key tuples of an equality-delete file, read from its
    physical columns ``cols`` (a NULL reads as None)."""
    def decode():
        import pyarrow.parquet as pq

        tbl = pq.read_table(path, columns=list(cols))
        return tbl.num_rows, frozenset(
            zip(*(tbl.column(c).to_pylist() for c in cols)))

    return _cached(("equality", path, tuple(cols)), decode)


def applicable(entries: Sequence, delete_files: Sequence) -> list:
    """The delete files that kill rows in some of ``entries``: position
    deletes referencing one of them, equality deletes newer than one
    of them."""
    paths = {e.path for e in entries}
    min_seq = min((e.seq or 0 for e in entries), default=None)
    return [d for d in delete_files
            if (d.content == "position"
                and any(p in paths for p in d.referenced))
            or (d.content == "equality" and min_seq is not None
                and min_seq < (d.seq or 0))]


@dataclass
class Group:
    """Data files that share one equality kill set.

    ``keys`` maps a key's column names, spelled at the read's schema
    version, to the key tuples whose rows die; ``positions`` maps the
    absolute path of each file of the group that a position delete
    references to the row ordinals that die there."""

    entries: list = field(default_factory=list)
    keys: dict[tuple[str, ...], frozenset[tuple]] = field(default_factory=dict)
    positions: dict[str, frozenset[int]] = field(default_factory=dict)

    def kills(self, abs_path: str, pos: int, row: dict) -> bool:
        """Whether the row at ``pos`` of ``abs_path`` (a file of this
        group) with column values ``row`` is deleted."""
        return (pos in self.positions.get(abs_path, ())
                or any(tuple(row[c] for c in cols) in ks
                       for cols, ks in self.keys.items()))


def resolve(root: str, entries: Sequence, delete_files: Sequence,
            names_at: Callable[[list[str]], list[str]]) -> list[Group]:
    """``entries`` (data files of one snapshot) grouped by kill set.

    ``delete_files`` are the snapshot's delete files; ``names_at`` maps
    an equality delete's column names to their spelling at the read's
    schema version. Entry and delete paths are relative to ``root``
    unless absolute. A group holds the files that the same equality
    deletes apply to and that position deletes either may name or do
    not name; the files no delete file applies to form a group with
    empty kill sets."""
    eq = [d for d in delete_files if d.content == "equality"]
    refs: dict[str, list] = {}
    for d in delete_files:
        if d.content == "position":
            for p in d.referenced:
                refs.setdefault(p, []).append(d)
    by_kind: dict[tuple, list] = {}
    for e in entries:
        newer = tuple(i for i, d in enumerate(eq)
                      if (e.seq or 0) < (d.seq or 0))
        by_kind.setdefault((newer, e.path in refs), []).append(e)
    groups = []
    for (newer, referenced), files in by_kind.items():
        g = Group(entries=files)
        for i in newer:
            d = eq[i]
            cols = tuple(names_at(list(d.equality_cols)))
            found = keys(os.path.join(root, d.path), d.physical_cols)
            g.keys[cols] = g.keys.get(cols, frozenset()) | found
        if referenced:
            for e in files:
                full = os.path.join(root, e.path)
                dead: set[int] = set()
                for d in refs.get(e.path, ()):
                    dead |= positions(os.path.join(root, d.path)).get(
                        full, frozenset())
                if dead:
                    g.positions[full] = frozenset(dead)
        groups.append(g)
    return groups

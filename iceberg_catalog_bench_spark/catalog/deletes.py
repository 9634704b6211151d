"""Merge-on-read delete files: the one owner of which rows of which
data files a snapshot's delete files kill. Four decisions live here
and nowhere else:

- **Applicability** (:func:`applying`). A position delete (Iceberg v2
  content=1) applies to the data files its ``referenced`` list names.
  An equality delete (content=2) applies to every data file with a
  SMALLER sequence number, so an upsert's own rows, written at its
  retraction's sequence number, survive it.
- **Drop-at-commit** (:func:`applicable`). A commit keeps a delete
  file only while it applies to some live data file of the new
  snapshot; a commit that leaves no data file keeps none.
- **Path matching** (:func:`matcher`). A tombstone's ``file_path`` is
  the data file's absolute path at write time, maybe as a ``file:``
  URI. With ``file:`` stripped, it names the file entered as ``path``
  in the table at ``root`` when it equals ``join(root, path)``, or when
  ``path`` is table-relative and it ends with ``"/" + path``: a table
  reached through a symlink, or copied, still reads its tombstones.
- **Kill sets and groups** (:func:`group`, :func:`resolve`). A read's
  data files are grouped by the delete files that apply to them,
  position deletes counted as one (each tombstone names its own file);
  a reader filters each group by set probes or anti-joins.

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
from collections.abc import Callable, Iterable, Sequence
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


def applying(entries: Sequence, delete_files: Sequence) -> dict[str, list]:
    """Each of ``entries``' paths → the ``delete_files`` that apply to
    it (``FileEntry``/``DeleteFileEntry``-shaped): the position deletes
    whose ``referenced`` list names it, then the equality deletes with
    a larger sequence number than its own."""
    eq = [d for d in delete_files if d.content == "equality"]
    named: dict[str, list] = {}
    for d in delete_files:
        if d.content == "position":
            for p in d.referenced:
                named.setdefault(p, []).append(d)
    return {e.path: named.get(e.path, [])
            + [d for d in eq if (e.seq or 0) < (d.seq or 0)]
            for e in entries}


def applicable(entries: Sequence, delete_files: Sequence) -> list:
    """The delete files that apply to some of ``entries``: those a read
    of ``entries`` applies, and those a commit of ``entries`` keeps."""
    hit = {id(d) for ds in applying(entries, delete_files).values()
           for d in ds}
    return [d for d in delete_files if id(d) in hit]


def affected(entries: Sequence, delete_files: Sequence) -> set[str]:
    """Paths of the ``entries`` some delete file applies to."""
    return {p for p, ds in applying(entries, delete_files).items() if ds}


def _norm_path(p: str) -> str:
    """A recorded ``file_path`` in the domain of absolute filesystem
    paths: a foreign writer may spell it as a ``file:`` URI."""
    return re.sub(r"^file:/+", "/", p)


def matcher(root: str, paths: Iterable[str]) -> Callable[[str], str | None]:
    """The function from a recorded tombstone ``file_path`` to the one
    of ``paths`` (data-file paths as entered in the table at ``root``)
    it names, or None."""
    by_full: dict[str, str] = {}
    relative: set[str] = set()
    for p in paths:
        by_full[os.path.join(root, p)] = p
        if not os.path.isabs(p):
            relative.add(p)

    def named(recorded: str) -> str | None:
        r = _norm_path(recorded)
        hit = by_full.get(r)
        i = r.find("/")
        while hit is None and i >= 0:
            if r[i + 1:] in relative:
                hit = r[i + 1:]
            i = r.find("/", i + 1)
        return hit

    return named


def positions(path: str) -> dict[str, frozenset[int]]:
    """The rows a position-delete file kills: recorded data-file path
    (``file:`` stripped) → row ordinals."""
    def decode():
        import pyarrow.parquet as pq

        tbl = pq.read_table(path, columns=["file_path", "pos"])
        out: dict[str, set[int]] = {}
        for f, p in zip(tbl.column("file_path").to_pylist(),
                        tbl.column("pos").to_pylist()):
            out.setdefault(_norm_path(f), set()).add(p)
        return tbl.num_rows, {f: frozenset(ps) for f, ps in out.items()}

    return _cached(("position", path), decode)


def spellings(path: str) -> list[str]:
    """The distinct ``file_path`` values a position-delete file
    records, spelled as recorded."""
    def decode():
        import pyarrow.parquet as pq

        vals = pq.read_table(path, columns=["file_path"]) \
            .column("file_path").unique().to_pylist()
        return len(vals), vals

    return _cached(("spellings", path), decode)


def keys(path: str, cols: Sequence[str]) -> frozenset[tuple]:
    """The key tuples of an equality-delete file, read from its
    physical columns ``cols`` (a NULL reads as None)."""
    def decode():
        import pyarrow.parquet as pq

        tbl = pq.read_table(path, columns=list(cols))
        return tbl.num_rows, frozenset(
            zip(*(tbl.column(c).to_pylist() for c in cols)))

    return _cached(("equality", path, tuple(cols)), decode)


@dataclass
class Group:
    """Data files of one kind (:func:`group`) and the ``deletes`` that
    apply to some of them. :func:`resolve` fills the kill sets:
    ``keys`` maps a key's column names, spelled at the read's schema
    version, to the key tuples whose rows die; ``positions`` maps the
    absolute path of each file a tombstone names to its dead rows."""

    entries: list = field(default_factory=list)
    deletes: list = field(default_factory=list)
    keys: dict[tuple[str, ...], frozenset[tuple]] = field(default_factory=dict)
    positions: dict[str, frozenset[int]] = field(default_factory=dict)

    def kills(self, abs_path: str, pos: int, row: dict) -> bool:
        """Whether the row at ``pos`` of ``abs_path`` (a file of this
        group) with column values ``row`` is deleted."""
        return (pos in self.positions.get(abs_path, ())
                or any(tuple(row[c] for c in cols) in ks
                       for cols, ks in self.keys.items()))


def group(entries: Sequence, delete_files: Sequence) -> list[Group]:
    """``entries`` (data files of one snapshot) grouped by the
    ``delete_files`` that apply to them, with empty kill sets; the
    files no delete file applies to form a group with no deletes."""
    app = applying(entries, delete_files)
    by_kind: dict[tuple, tuple[list, dict]] = {}
    for e in entries:
        ds = app[e.path]
        eq = tuple(id(d) for d in ds if d.content == "equality")
        files, dels = by_kind.setdefault((eq, len(eq) < len(ds)), ([], {}))
        files.append(e)
        dels.update((id(d), d) for d in ds)
    return [Group(entries=files, deletes=list(dels.values()))
            for files, dels in by_kind.values()]


def resolve(root: str, entries: Sequence, delete_files: Sequence,
            names_at: Callable[[list[str]], list[str]]) -> list[Group]:
    """:func:`group` with each group's kill sets.

    ``names_at`` maps an equality delete's column names to their
    spelling at the read's schema version. Entry and delete paths are
    relative to ``root`` unless absolute."""
    groups = group(entries, delete_files)
    for g in groups:
        named = matcher(root, [e.path for e in g.entries])
        dead: dict[str, set[int]] = {}
        for d in g.deletes:
            full = os.path.join(root, d.path)
            if d.content == "equality":
                cols = tuple(names_at(list(d.equality_cols)))
                g.keys[cols] = g.keys.get(cols, frozenset()) \
                    | keys(full, d.physical_cols)
                continue
            for recorded, ps in positions(full).items():
                p = named(recorded)
                if p is not None:
                    dead.setdefault(os.path.join(root, p), set()).update(ps)
        g.positions = {p: frozenset(ps) for p, ps in dead.items()}
    return groups

"""Spark-free property tests for ``catalog.deletes``, the driver-side
resolution of merge-on-read delete files behind every LakeTable read.

Each case builds a random table history as the write path records it:
data files appended or upserted (an upsert's equality delete shares
its data file's sequence number), position deletes naming rows of live
files (their ``file_path`` spelled as a path or a ``file:`` URI),
equality deletes over one or two key columns with NULL keys among
them, a key-column rename (pending equality deletes keep their
physical column names and follow the rename) and compactions that
replace a file by its surviving rows under a new sequence number. The
property: at the head and at a random earlier snapshot, the kill sets
of :func:`deletes.resolve` delete exactly the rows a brute-force
reading of the Iceberg v2 rules deletes.
"""
import os
import subprocess
import sys
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from iceberg_catalog_bench_spark.catalog import deletes

pytestmark = pytest.mark.spark_free

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# field id -> (name before the rename, name after, arrow type)
FIELDS = {1: ("k", "key", pa.int64()), 2: ("s", "s", pa.string()),
          3: ("v", "v", pa.int64())}
KEY_SETS = [(1,), (1, 2)]


@dataclass
class Data:
    path: str
    seq: int
    schema_version: int
    rows: list  # {field id: value}


@dataclass
class Delete:
    path: str
    rows: int
    content: str
    seq: int
    referenced: list = field(default_factory=list)
    equality_cols: list = field(default_factory=list)
    file_cols: list = field(default_factory=list)
    ids: tuple = ()  # key field ids (equality)
    dead: set = field(default_factory=set)  # (abs path, pos) (position)
    keys: list = field(default_factory=list)  # key tuples (equality)

    @property
    def physical_cols(self):
        return self.file_cols or self.equality_cols


def _name(fid: int, version: int) -> str:
    return FIELDS[fid][min(version, 1)]


def _killed(f: Data, pos: int, dels: list) -> bool:
    """The Iceberg v2 rules, row by row."""
    row = f.rows[pos]
    for d in dels:
        if d.content == "position" and (f.path, pos) in d.dead:
            return True
        if (d.content == "equality" and f.seq < d.seq
                and tuple(row[i] for i in d.ids) in d.keys):
            return True
    return False


class History:
    def __init__(self, root: str):
        self.root = root
        self.version = 0
        self.sid = 0
        self.files: list[Data] = []
        self.dels: list[Delete] = []
        self.snaps: list[tuple[list, list, int]] = []
        self.n = 0

    def _path(self, kind: str) -> str:
        self.n += 1
        return os.path.join(self.root, f"{kind}-{self.n}.parquet")

    def _commit(self) -> None:
        live = {f.path for f in self.files}
        min_seq = min((f.seq for f in self.files), default=0)
        self.dels = [d for d in self.dels
                     if (d.content == "position"
                         and any(p in live for p in d.referenced))
                     or (d.content == "equality" and min_seq < d.seq)]
        self.snaps.append((list(self.files), list(self.dels), self.version))

    def _data(self, rows: list) -> Data:
        path = self._path("data")
        pq.write_table(pa.table({
            _name(i, self.version): pa.array([r[i] for r in rows], t)
            for i, (_a, _b, t) in FIELDS.items()}), path)
        return Data(path, self.sid, self.version, rows)

    def _eq(self, ids: tuple, keys: list) -> Delete:
        path = self._path("eqdel")
        cols = [_name(i, self.version) for i in ids]
        pq.write_table(pa.table({
            c: pa.array([k[j] for k in keys], FIELDS[i][2])
            for j, (c, i) in enumerate(zip(cols, ids))}), path)
        return Delete(path, len(keys), "equality", self.sid,
                      equality_cols=cols, ids=ids, keys=list(keys))

    def append(self, rows: list) -> None:
        self.sid += 1
        self.files.append(self._data(rows))
        self._commit()

    def upsert(self, rows: list, ids: tuple) -> None:
        self.sid += 1
        self.files.append(self._data(rows))
        self.dels.append(self._eq(ids, sorted(
            {tuple(r[i] for i in ids) for r in rows}, key=repr)))
        self._commit()

    def eq_delete(self, ids: tuple, keys: list) -> None:
        self.sid += 1
        self.dels.append(self._eq(ids, keys))
        self._commit()

    def pos_delete(self, picks: list, uri: bool) -> None:
        dead = sorted({(f.path, p % len(f.rows)) for f, p in
                       ((self.files[i % len(self.files)], p)
                        for i, p in picks)})
        self.sid += 1
        path = self._path("posdel")
        pq.write_table(pa.table({
            "file_path": [("file://" + f if uri else f) for f, _ in dead],
            "pos": pa.array([p for _, p in dead], pa.int64())}), path)
        self.dels.append(Delete(
            path, len(dead), "position", self.sid,
            referenced=sorted({f for f, _ in dead}), dead=set(dead)))
        self._commit()

    def rename(self) -> None:
        if self.version:
            return
        self.version = 1
        for d in {id(d): d for _f, ds, _v in self.snaps for d in ds}.values():
            if d.content == "equality":
                d.file_cols = d.file_cols or list(d.equality_cols)
                d.equality_cols = [_name(i, 1) for i in d.ids]
        self._commit()

    def compact(self, i: int) -> None:
        old = self.files[i % len(self.files)]
        keep = [r for p, r in enumerate(old.rows)
                if not _killed(old, p, self.dels)]
        self.sid += 1
        self.files.remove(old)
        if keep:
            self.files.append(self._data(keep))
        self._commit()


VALUES = {1: st.one_of(st.none(), st.integers(0, 4)),
          2: st.one_of(st.none(), st.sampled_from(["a", "b"])),
          3: st.integers(0, 9)}
ROW = st.fixed_dictionaries(VALUES)
ROWS = st.lists(ROW, min_size=1, max_size=5)
KEY_IDS = st.sampled_from(KEY_SETS)
STEP = st.one_of(
    st.tuples(st.just("append"), ROWS),
    st.tuples(st.just("upsert"), ROWS, KEY_IDS),
    st.tuples(st.just("eq_delete"), KEY_IDS, st.lists(
        st.tuples(VALUES[1], VALUES[2]), min_size=1, max_size=4)),
    st.tuples(st.just("pos_delete"), st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)),
        min_size=1, max_size=4), st.booleans()),
    st.tuples(st.just("rename")),
    st.tuples(st.just("compact"), st.integers(0, 20)),
)


def _check(h: History, files: list, dels: list, version: int) -> None:
    def names_at(cols):
        now = {_name(i, h.version): i for i in FIELDS}
        return [_name(now[c], version) for c in cols]

    groups = deletes.resolve(h.root, files, dels, names_at)
    applied = deletes.resolve(h.root, files,
                              deletes.applicable(files, dels), names_at)
    assert sorted(f.path for g in groups for f in g.entries) == \
        sorted(f.path for f in files)
    for gs in (groups, applied):
        for g in gs:
            for f in g.entries:
                for pos, row in enumerate(f.rows):
                    named = {_name(i, version): v for i, v in row.items()}
                    assert g.kills(f.path, pos, named) == \
                        _killed(f, pos, dels), (f.path, pos, row)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(steps=st.lists(STEP, min_size=1, max_size=10),
       back=st.integers(0, 10))
def test_kill_sets_match_the_row_model(tmp_path_factory, steps, back):
    h = History(str(tmp_path_factory.mktemp("h")))
    h.append([{1: 0, 2: "a", 3: 0}, {1: None, 2: None, 3: 1}])
    for op, *args in steps:
        if op in ("pos_delete", "compact") and not h.files:
            continue
        if op == "eq_delete":
            ids, keys = args
            args = [ids, [k[:len(ids)] for k in keys]]
        getattr(h, op)(*args)
    _check(h, *h.snaps[-1])
    _check(h, *h.snaps[max(0, len(h.snaps) - 1 - back)])


def test_upsert_images_survive_their_own_retraction(tmp_path):
    h = History(str(tmp_path))
    h.append([{1: 1, 2: "a", 3: 0}, {1: 2, 2: "a", 3: 0}])
    h.upsert([{1: 1, 2: "b", 3: 7}], (1,))
    files, dels, version = h.snaps[-1]
    groups = deletes.resolve(h.root, files, dels, lambda c: c)
    kills = {(f.path, p): g.kills(f.path, p, {_name(i, version): v
                                              for i, v in r.items()})
             for g in groups for f in g.entries
             for p, r in enumerate(f.rows)}
    old, new = files
    assert kills == {(old.path, 0): True, (old.path, 1): False,
                     (new.path, 0): False}


def test_decoded_rows_stay_under_the_cache_bound(tmp_path, monkeypatch):
    monkeypatch.setattr(deletes, "CACHE_ROWS", 5)
    deletes.clear_cache()
    paths = []
    for n in range(4):
        p = str(tmp_path / f"eq{n}.parquet")
        pq.write_table(pa.table({"k": pa.array([n, n + 10, n + 20])}), p)
        paths.append(p)
    for p in paths:
        assert len(deletes.keys(p, ["k"])) == 3
    assert 0 < deletes._cached_rows <= 5
    assert len(deletes._cache) == 1  # the newest file
    deletes.clear_cache()


def test_imports_without_pyspark(tmp_path):
    p = str(tmp_path / "pos.parquet")
    pq.write_table(pa.table({"file_path": ["file:///t/data/a.parquet"],
                             "pos": pa.array([3], pa.int64())}), p)
    code = (
        "import sys\n"
        "sys.modules['pyspark'] = None\n"
        "from iceberg_catalog_bench_spark.catalog import deletes\n"
        f"assert deletes.positions({p!r}) == "
        "{'/t/data/a.parquet': frozenset({3})}\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)

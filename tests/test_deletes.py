"""Spark-free property tests for ``catalog.deletes``, the driver-side
resolution of merge-on-read delete files behind every LakeTable read.

Each case builds a random table history as the write path records it:
data files (entered table-relative) appended or upserted (an upsert's
equality delete shares its data file's sequence number), position
deletes naming rows of live files (their ``file_path`` spelled as the
absolute path, as a ``file:`` URI, or under another root, as in a
copied table), equality deletes over one or two key columns with NULL
keys among them, a key-column rename (pending equality deletes keep
their physical column names and follow the rename), compactions that
replace a file by its surviving rows under a new sequence number, and
commits that leave no data file. The properties: every commit keeps
exactly the delete files that apply to some live file, and at the head
and at a random earlier snapshot, :func:`deletes.affected` names the
files some delete file applies to and the kill sets of
:func:`deletes.resolve` delete exactly the rows a brute-force reading
of the Iceberg v2 rules deletes.
"""
import ast
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
# how a position delete spells a data file's path: as written, as a
# URI, or under the root the table was copied from
SPELLINGS = ["path", "uri", "copied"]


@dataclass
class Data:
    path: str  # relative to the table root
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
    dead: set = field(default_factory=set)  # (path, pos) (position)
    keys: list = field(default_factory=list)  # key tuples (equality)

    @property
    def physical_cols(self):
        return self.file_cols or self.equality_cols


def _name(fid: int, version: int) -> str:
    return FIELDS[fid][min(version, 1)]


def _applies(d: Delete, f: Data) -> bool:
    if d.content == "position":
        return f.path in d.referenced
    return f.seq < d.seq


def _killed(f: Data, pos: int, dels: list) -> bool:
    """The Iceberg v2 rules, row by row."""
    row = f.rows[pos]
    for d in dels:
        if d.content == "position" and (f.path, pos) in d.dead:
            return True
        if (d.content == "equality" and _applies(d, f)
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
        return f"{kind}-{self.n}.parquet"

    def _commit(self) -> None:
        """Drop-at-commit: a delete file stays while it applies to some
        live file."""
        kept = [d for d in self.dels
                if any(_applies(d, f) for f in self.files)]
        assert deletes.applicable(self.files, self.dels) == kept
        self.dels = kept
        self.snaps.append((list(self.files), list(self.dels), self.version))

    def _data(self, rows: list) -> Data:
        path = self._path("data")
        pq.write_table(pa.table({
            _name(i, self.version): pa.array([r[i] for r in rows], t)
            for i, (_a, _b, t) in FIELDS.items()}),
            os.path.join(self.root, path))
        return Data(path, self.sid, self.version, rows)

    def _eq(self, ids: tuple, keys: list) -> Delete:
        path = self._path("eqdel")
        cols = [_name(i, self.version) for i in ids]
        pq.write_table(pa.table({
            c: pa.array([k[j] for k in keys], FIELDS[i][2])
            for j, (c, i) in enumerate(zip(cols, ids))}),
            os.path.join(self.root, path))
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

    def pos_delete(self, picks: list, spelling: str) -> None:
        dead = sorted({(f.path, p % len(f.rows)) for f, p in
                       ((self.files[i % len(self.files)], p)
                        for i, p in picks)})
        self.sid += 1
        path = self._path("posdel")
        root = "/copied/from/t" if spelling == "copied" else self.root
        scheme = "file://" if spelling == "uri" else ""
        pq.write_table(pa.table({
            "file_path": [scheme + os.path.join(root, f) for f, _ in dead],
            "pos": pa.array([p for _, p in dead], pa.int64())}),
            os.path.join(self.root, path))
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

    def truncate(self) -> None:
        self.sid += 1
        self.files = []
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
        min_size=1, max_size=4), st.sampled_from(SPELLINGS)),
    st.tuples(st.just("rename")),
    st.tuples(st.just("compact"), st.integers(0, 20)),
    st.tuples(st.just("truncate")),
)


def _check(h: History, files: list, dels: list, version: int) -> None:
    def names_at(cols):
        now = {_name(i, h.version): i for i in FIELDS}
        return [_name(now[c], version) for c in cols]

    assert deletes.affected(files, dels) == {
        f.path for f in files if any(_applies(d, f) for d in dels)}
    groups = deletes.resolve(h.root, files, dels, names_at)
    applied = deletes.resolve(h.root, files,
                              deletes.applicable(files, dels), names_at)
    assert sorted(f.path for g in groups for f in g.entries) == \
        sorted(f.path for f in files)
    for gs in (groups, applied):
        for g in gs:
            for f in g.entries:
                full = os.path.join(h.root, f.path)
                for pos, row in enumerate(f.rows):
                    named = {_name(i, version): v for i, v in row.items()}
                    assert g.kills(full, pos, named) == \
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


def _mentions_seq(node: ast.AST) -> bool:
    return any(
        "seq" in (getattr(n, "attr", None) or getattr(n, "id", None) or "")
        or isinstance(n, ast.Constant) and "seq" in str(n.value)
        for n in ast.walk(node))


@pytest.mark.parametrize("rel", ["catalog/table.py",
                                 "streaming/table_source.py"])
def test_the_delete_rule_stays_in_the_deletes_module(rel):
    """Neither module orders sequence numbers (which equality deletes
    apply), nor strips ``file:`` from a recorded tombstone path or
    matches one by ``realpath`` or an Arrow suffix mask (which file a
    tombstone names): both are ``catalog/deletes.py``'s decisions.
    ``_LAKE_FILE_SQL`` strips ``file:`` from Spark's own
    ``_metadata.file_path``, not from a tombstone."""
    path = os.path.join(ROOT, "iceberg_catalog_bench_spark", rel)
    tree = ast.parse(open(path).read())
    lake_file = {id(n) for a in ast.walk(tree) if isinstance(a, ast.Assign)
                 and any(getattr(t, "id", None) == "_LAKE_FILE_SQL"
                         for t in a.targets)
                 for n in ast.walk(a)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Compare) and any(
                isinstance(op, (ast.Lt, ast.LtE, ast.Gt, ast.GtE))
                for op in node.ops):
            assert not _mentions_seq(node), (rel, node.lineno)
        if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and "^file:" in node.value):
            assert id(node) in lake_file, (rel, node.lineno)
        assert getattr(node, "attr", None) not in ("realpath", "ends_with"), \
            (rel, node.lineno)

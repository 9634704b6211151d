"""Spark-free property tests for ``catalog.pruning``, the file pruner
behind ``LakeTable.scan`` and the ``laketable`` batch reader's pushdown.

Each case builds a random table history as a metadata dict plus a row
model: files appended between schema and partition-spec evolution
steps (int→bigint, float→double, rename, drop then re-add with a
default, add with a default, spec change), each file recording what
the write path records — its schema version, footer ``[min, max]``
stats under its physical column names (NaN included or left out, as
parquet writers do) and its partition values, bucket values from
``spark_xxhash``. The property: no file that the row model says holds
a row matching every conjunct is dropped.
"""
import os
import subprocess
import sys
from dataclasses import dataclass, field

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from iceberg_catalog_bench_spark.catalog import pruning, spark_xxhash
from iceberg_catalog_bench_spark.catalog.iceberg_bucket import iceberg_bucket
from iceberg_catalog_bench_spark.catalog.transforms import Transform

pytestmark = pytest.mark.spark_free

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAN = float("nan")
NAMES = ("k", "j", "x", "s", "d", "a", "b")
VALUES = {
    "int": list(range(-3, 13)),
    "float": [-1.5, 0.0, 1.0, 2.5, 7.0, NAN],
    "string": ["", "a", "ab", "b", "ba", "c"],
    "date": ["2024-01-01", "2024-01-02", "2024-02-10"],
}
DOMAIN = {kind: st.sampled_from(vals) for kind, vals in VALUES.items()}
OPS = ("=", "in", "<", "<=", ">", ">=")
# one parameter per transform name, so a partition key always means
# one transform
SPEC_FIELDS = {
    "int": ["identity", "bucket", "ibucket", "truncate"],
    "string": ["identity", "bucket", "ibucket", "truncate"],
    "date": ["days"],
}
PARAM = {"bucket": 4, "ibucket": 4, "truncate": 2}


def _kind(typ: str) -> str:
    return {"bigint": "int", "double": "float"}.get(typ, typ)


@dataclass
class Entry:
    schema_version: int
    rows: list  # {field id: value} at write time
    stats: dict = field(default_factory=dict)
    partition: dict = field(default_factory=dict)


def _transform(t: Transform, typ: str, v):
    """The partition value the write path records for ``v``."""
    if v is None:
        return pruning.HIVE_NULL
    if t.name == "bucket":
        return str(spark_xxhash.bucket(v, typ, t.param))
    if t.name == "ibucket":
        return str(iceberg_bucket(v, t.param))
    if t.name == "truncate":
        return str(v)[:t.param]
    return str(v)  # identity, days of a date


def _model_transform_values(items):
    return {pruning.tv_key(t, typ, v): _transform(t, typ, v)
            for t, v, typ in items}


def _spark_holds(v, op, lit) -> bool:
    """Spark's ``v op lit`` on one row (NULL is never true; NaN equals
    NaN and sorts above every number)."""
    if op == "in":
        return any(_spark_holds(v, "=", x) for x in lit)
    if v is None:
        return False
    if isinstance(v, float) or isinstance(lit, float):
        key = lambda z: (1, 0.0) if z != z else (0, z)  # noqa: E731
        v, lit = key(v), key(lit)
    return {"=": v == lit, "<": v < lit, "<=": v <= lit,
            ">": v > lit, ">=": v >= lit}[op]


class Table:
    def __init__(self, data):
        self.fields = [
            {"id": i, "name": name, "type": typ, "default": None}
            for i, (name, typ) in enumerate([
                ("k", "int"), ("j", "int"), ("x", "float"), ("s", "string"),
                ("d", "date")], start=1)
        ]
        self.next_id = len(self.fields) + 1
        self.meta = {"schemas": {}, "current_schema_version": -1,
                     "partition_spec": data.draw(st.lists(
                         self._spec_field(), min_size=1, max_size=2,
                         unique_by=lambda t: tuple(t.values())))}
        self.files: list[Entry] = []
        self._bump()

    def _spec_field(self):
        return st.sampled_from([
            Transform(n, f["name"], PARAM.get(n)).to_json()
            for f in self.fields
            for n in SPEC_FIELDS.get(_kind(f["type"]), [])])

    def _bump(self):
        v = self.meta["current_schema_version"] + 1
        self.meta["schemas"][str(v)] = [dict(f) for f in self.fields]
        self.meta["current_schema_version"] = v

    def field(self, name):
        return next((f for f in self.fields if f["name"] == name), None)

    def free_name(self, data):
        free = [n for n in NAMES if self.field(n) is None]
        return data.draw(st.sampled_from(free)) if free else None

    def evolve(self, data):
        step = data.draw(st.sampled_from(
            ["widen", "widen", "rename", "rename", "readd", "add", "spec"]))
        f = data.draw(st.sampled_from(self.fields))
        spec = self.meta["partition_spec"]
        if step == "widen":
            wider = {"int": "bigint", "float": "double"}.get(f["type"])
            if wider is None:
                return
            f["type"] = wider
        elif step == "rename":
            new = self.free_name(data)
            if new is None:
                return
            for t in spec:  # specs follow renames
                if t["column"] == f["name"]:
                    t["column"] = new
            f["name"] = new
        elif step == "readd":
            # a spec field on a dropped column cannot be written
            spec[:] = [t for t in spec if t["column"] != f["name"]]
            self.fields.remove(f)
            self._bump()
            self.fields.append({
                "id": self.next_id, "name": f["name"], "type": f["type"],
                "default": data.draw(st.none() | DOMAIN[_kind(f["type"])])})
            self.next_id += 1
        elif step == "add":
            name = self.free_name(data)
            if name is None:
                return
            typ = data.draw(st.sampled_from(["int", "double", "string"]))
            self.fields.append({
                "id": self.next_id, "name": name, "type": typ,
                "default": data.draw(st.none() | DOMAIN[_kind(typ)])})
            self.next_id += 1
        else:
            new = data.draw(self._spec_field())
            if new not in spec:
                if spec and data.draw(st.booleans()):
                    spec[data.draw(st.integers(0, len(spec) - 1))] = new
                else:
                    spec.append(new)
        self._bump()

    def append(self, data):
        """Rows split by partition value, one or more files each."""
        rows = data.draw(st.lists(st.fixed_dictionaries({
            f["id"]: st.none() | DOMAIN[_kind(f["type"])]
            for f in self.fields}), min_size=1, max_size=6))
        spec = [Transform.from_json(t)
                for t in self.meta["partition_spec"]]
        by_name = {f["name"]: f for f in self.fields}
        groups: dict[tuple, list] = {}
        for r in rows:
            part = tuple(
                (f"_p_{t.name}_{t.column}",
                 _transform(t, by_name[t.column]["type"],
                            r[by_name[t.column]["id"]]))
                for t in spec)
            groups.setdefault(part, []).append(r)
        for part, grp in groups.items():
            cut = data.draw(st.integers(1, len(grp)))
            for chunk in (grp[:cut], grp[cut:]):
                if chunk:
                    self.files.append(Entry(
                        self.meta["current_schema_version"], chunk,
                        self._stats(chunk, data), dict(part)))

    def _stats(self, rows, data):
        out = {}
        for f in self.fields:
            vals = [r[f["id"]] for r in rows if r[f["id"]] is not None]
            real = [v for v in vals if v == v]
            if len(real) < len(vals):  # NaN rows: writers differ
                how = data.draw(st.sampled_from(["omit", "hi", "both"]))
                if how == "hi":
                    out[f["name"]] = [min(real) if real else NAN, NAN]
                elif how == "both":
                    out[f["name"]] = [NAN, NAN]
                elif real:
                    out[f["name"]] = [min(real), max(real)]
            elif vals:
                out[f["name"]] = [min(vals), max(vals)]
        return out

    def read(self, e: Entry, fields: list[dict]) -> list[dict]:
        """The file's rows as a reader of schema ``fields`` sees them,
        bound by field id."""
        ids = {f["id"] for f in self.meta["schemas"][str(e.schema_version)]}
        return [{f["name"]: r[f["id"]] if f["id"] in ids else f["default"]
                 for f in fields} for r in e.rows]


@st.composite
def _conjunct(draw, fields):
    f = draw(st.sampled_from(fields))
    op = draw(st.sampled_from(OPS))
    dom = DOMAIN[_kind(f["type"])]
    lit = draw(st.lists(dom, min_size=1, max_size=3)) if op == "in" \
        else draw(dom)
    return ((f["name"],), op, lit)


@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(data=st.data())
def test_no_file_with_a_matching_row_is_dropped(data):
    table = Table(data)
    for _ in range(data.draw(st.integers(2, 7))):
        table.append(data)
        table.evolve(data)
    table.append(data)
    transform_values = data.draw(st.sampled_from(
        [_model_transform_values, pruning.driver_transform_values]))
    # a read of the current schema, or a time-travel read of the files
    # an older one saw, naming the columns as they were then
    now = table.meta["current_schema_version"]
    version = data.draw(st.just(now) | st.integers(0, now))
    fields = table.meta["schemas"][str(version)]
    files = [e for e in table.files if e.schema_version <= version]
    # every single comparison, then random conjunctions
    cases = [[((f["name"],), op, [v] if op == "in" else v)]
             for f in fields for op in OPS
             for v in VALUES[_kind(f["type"])]]
    cases += data.draw(st.lists(st.lists(
        _conjunct(fields), min_size=2, max_size=3), max_size=5))
    rows = [table.read(e, fields) for e in files]
    for preds in cases:
        kept = pruning.prune(files, preds, table.meta, transform_values,
                             None if version == now else version)
        kept_ids = {id(e) for e in kept}
        for e, file_rows in zip(files, rows):
            if any(all(_spark_holds(row[path[0]], op, lit)
                       for path, op, lit in preds) for row in file_rows):
                assert id(e) in kept_ids, (e, preds, table.meta)


def _meta(*schemas, spec=()):
    return {"schemas": {str(i): s for i, s in enumerate(schemas)},
            "current_schema_version": len(schemas) - 1,
            "partition_spec": list(spec)}


def test_rename_and_readd_binds_stats_by_field_id():
    v0 = [{"id": 1, "name": "a", "type": "int"}]
    v2 = [{"id": 1, "name": "b", "type": "int"},
          {"id": 2, "name": "a", "type": "int", "default": 5}]
    meta = _meta(v0, [{"id": 1, "name": "b", "type": "int"}], v2)
    files = [Entry(0, [], {"a": [i, i]}) for i in range(4)]
    assert len(pruning.prune(files, [(("a",), "=", 5)], meta)) == 4
    assert pruning.prune(files, [(("a",), "=", 6)], meta) == []
    assert pruning.prune(files, [(("b",), "=", 2)], meta) == [files[2]]


def test_time_travel_names_bind_at_the_read_version():
    v0 = [{"id": 1, "name": "a", "type": "int"}]
    v2 = [{"id": 1, "name": "b", "type": "int"},
          {"id": 2, "name": "a", "type": "int", "default": 5}]
    meta = _meta(v0, [{"id": 1, "name": "b", "type": "int"}], v2)
    files = [Entry(0, [], {"a": [i, i]}) for i in range(4)]
    assert pruning.prune(files, [(("a",), "=", 1)], meta,
                         version=0) == [files[1]]
    assert pruning.prune(files, [(("a",), "=", 1)], meta) == []


def test_float_ranges_and_nan_stats():
    meta = _meta([{"id": 1, "name": "x", "type": "double"}])
    nan_file = Entry(0, [], {"x": [NAN, NAN]})
    mixed = Entry(0, [], {"x": [1.0, NAN]})
    low = Entry(0, [], {"x": [1.0, 2.0]})
    files = [nan_file, mixed, low]
    for op in (">", ">="):
        assert pruning.prune(files, [(("x",), op, 5.0)], meta) == files
    assert pruning.prune(files, [(("x",), "=", 5.0)], meta) == files[:2]
    assert pruning.prune(files, [(("x",), "<", 0.5)], meta) == files[:2]
    assert pruning.prune(files, [(("x",), "=", NAN)], meta) == files


def test_bare_date_literal_on_a_timestamp_column_means_midnight():
    meta = _meta([{"id": 1, "name": "ts", "type": "timestamp"}])
    files = [Entry(0, [], {"ts": ["2024-01-05 00:00:00",
                                  "2024-01-05 08:00:00"]})]
    assert pruning.prune(files, [(("ts",), "=", "2024-01-05")], meta) == files
    assert pruning.prune(files, [(("ts",), "in", ["2024-01-05"])],
                         meta) == files
    assert pruning.prune(files, [(("ts",), "<", "2024-01-05")], meta) == []


def test_partition_values_bound_at_each_files_name_and_type():
    """Files written before ``k int`` was renamed to ``key`` and widened
    recorded ``_p_bucket_k`` at the int hash."""
    spec = [Transform("bucket", "key", 4).to_json()]
    meta = _meta([{"id": 1, "name": "k", "type": "int"}],
                 [{"id": 1, "name": "key", "type": "bigint"}], spec=spec)
    files = [Entry(0, [], {}, {"_p_bucket_k": str(
        spark_xxhash.bucket(k, "int", 4))}) for k in range(8)]
    for k in range(8):
        kept = pruning.prune(files, [(("key",), "=", k)], meta)
        assert files[k] in kept and len(kept) < len(files)


def test_conjuncts_parse_the_where_grammar():
    assert pruning.conjuncts(
        "a = 5 AND meta.n >= 2.5 and s IN ('x', 'y') AND t LIKE 'q%'"
    ) == [(("a",), "=", 5), (("meta", "n"), ">=", 2.5),
          (("s",), "in", ["x", "y"])]
    assert pruning.conjuncts("k == -3") == [(("k",), "=", -3)]


def test_metadata_core_imports_without_pyspark():
    code = (
        "import sys\n"
        "sys.modules['pyspark'] = None\n"
        "from iceberg_catalog_bench_spark.catalog import pruning, snapshots\n"
        "meta = {'schemas': {'0': [{'id': 1, 'name': 'k', 'type': 'int'}]},\n"
        "        'current_schema_version': 0,\n"
        "        'partition_spec': [{'transform': 'bucket', 'column': 'k',\n"
        "                            'param': 4}]}\n"
        "class E:\n"
        "    schema_version, stats, partition = 0, {'k': [1, 2]}, {}\n"
        "assert pruning.prune([E()], pruning.conjuncts('k = 9'), meta) == []\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)

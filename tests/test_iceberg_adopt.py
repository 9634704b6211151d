"""Foreign-Iceberg ingest: adopt an EXTERNALLY-WRITTEN Iceberg v2
chain as a live LakeTable (VERDICT r7 item 4 — the import direction of
the reference's interop loop, ICEBERG-Interoperability-Test-Spec.md:4-14:
one engine reads what another wrote).

The chain here is deliberately NOT produced by `to_iceberg_metadata`:
the data / delete parquet files are written by DUCKDB (a different
engine) and the metadata.json → manifest-list → manifest documents are
hand-authored in this module — and every fixture-driven test runs
TWICE: over the JSON dialect and over a re-serialization as REAL Avro
OCF manifests built from the spec's own field tables
(`_avroize_chain`). Data-file entries
carry NO "schema-id" extension — adoption must infer each file's
writing schema from the snapshot that added it, the way a real chain
forces — and bounds are keyed by FIELD ID, not name.

Covered: schema history by field id (rename + initial-default add),
time travel, refs with retention, identity/day partition-value
conversion (and bucket[N] adoption as the spec-true murmur3
transform — see test_iceberg_bucket.py for the full arc), position and
equality deletes with the strictly-smaller-sequence rule, continued
DML (appends take max(snapshot)+1 so foreign equality deletes never
reach new rows; CoW delete rewrites a foreign file into table-owned
layout), and a re-export leg DuckDB scans back.
"""

import datetime
import decimal
import json
import os
import re

import duckdb
import pytest

from iceberg_catalog_bench_spark.catalog.iceberg_export import (
    adopt_iceberg_metadata,
    duckdb_scan_sql,
    to_iceberg_metadata,
)
from iceberg_catalog_bench_spark.catalog.table import LakeTable
from iceberg_catalog_bench_spark.catalog.transforms import (
    key,
    transform_expr,
)
from tests.test_round9 import _chain, _data_file, _parquet

EPOCH_DAY = (datetime.date(2024, 1, 1) - datetime.date(1970, 1, 1)).days


def _write_foreign_chain(root: str) -> str:
    """Author a 4-snapshot Iceberg v2 chain with another engine's
    hands: DuckDB writes the parquet, this function writes the JSON
    metadata. Returns the metadata.json path.

    history: 101 append (2 files, schema 0) → 102 append (1 file,
    schema 1 = rename name→label + add tag default 'base') → 103
    position-delete (k=2) → 104 equality-delete (k=3, seq rule).
    """
    data = os.path.join(root, "data")
    meta = os.path.join(root, "metadata")
    os.makedirs(data), os.makedirs(meta)

    f1 = os.path.join(data, "f1.parquet")
    f2 = os.path.join(data, "f2.parquet")
    f3 = os.path.join(data, "f3.parquet")
    pd1 = os.path.join(data, "pd1.parquet")
    eq1 = os.path.join(data, "eq1.parquet")
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        "(CAST(1 AS BIGINT), 'a', 1.0, 'x', TIMESTAMPTZ '2024-01-01 00:00:00+00'), "
        "(CAST(2 AS BIGINT), 'b', 2.0, 'x', TIMESTAMPTZ '2024-01-01 06:00:00+00')"
        ") v(k, name, v, cat, ts)) TO '" + f1 + "' (FORMAT PARQUET)"
    )
    duckdb.sql(
        "COPY (SELECT CAST(3 AS BIGINT) AS k, 'c' AS name, 3.0 AS v, "
        "'y' AS cat, TIMESTAMPTZ '2024-01-02 00:00:00+00' AS ts) "
        "TO '" + f2 + "' (FORMAT PARQUET)"
    )
    # written AFTER the evolution: schema 1 spells label + tag
    duckdb.sql(
        "COPY (SELECT CAST(4 AS BIGINT) AS k, 'd' AS label, 4.0 AS v, "
        "'y' AS cat, TIMESTAMPTZ '2024-01-02 12:00:00+00' AS ts, "
        "'late' AS tag) TO '" + f3 + "' (FORMAT PARQUET)"
    )
    # position delete: second row of f1 (k=2)
    duckdb.sql(
        "COPY (SELECT '" + f1 + "' AS file_path, CAST(1 AS BIGINT) AS pos) "
        "TO '" + pd1 + "' (FORMAT PARQUET)"
    )
    # equality delete on k=3 (field id 1)
    duckdb.sql(
        "COPY (SELECT CAST(3 AS BIGINT) AS k) TO '" + eq1
        + "' (FORMAT PARQUET)"
    )

    def entry(path, rows, snap_id, seq, part, lows, highs):
        return {
            "status": 1,
            "snapshot-id": snap_id,
            "data-file": {
                "content": 0,
                "file-path": path,
                "file-format": "PARQUET",
                "partition": part,
                "data-sequence-number": seq,
                "record-count": rows,
                "file-size-in-bytes": os.path.getsize(path),
                # bounds keyed by FIELD ID (spec spirit), not name
                "lower-bounds": lows,
                "upper-bounds": highs,
            },
        }

    e1 = entry(f1, 2, 101, 1, {"cat": "x", "ts_day": EPOCH_DAY},
               {"1": 1, "3": 1.0}, {"1": 2, "3": 2.0})
    e2 = entry(f2, 1, 101, 1, {"cat": "y", "ts_day": EPOCH_DAY + 1},
               {"1": 3, "3": 3.0}, {"1": 3, "3": 3.0})
    e3 = entry(f3, 1, 102, 2, {"cat": "y", "ts_day": EPOCH_DAY + 1},
               {"1": 4, "3": 4.0}, {"1": 4, "3": 4.0})
    pos_entry = {
        "status": 1,
        "snapshot-id": 103,
        "data-file": {
            "content": 1,
            "file-path": pd1,
            "file-format": "PARQUET",
            "record-count": 1,
            "file-size-in-bytes": os.path.getsize(pd1),
            "data-sequence-number": 3,
            "referenced-data-files": [f1],
        },
    }
    eq_entry = {
        "status": 1,
        "snapshot-id": 104,
        "data-file": {
            "content": 2,
            "file-path": eq1,
            "file-format": "PARQUET",
            "record-count": 1,
            "file-size-in-bytes": os.path.getsize(eq1),
            "data-sequence-number": 4,
            "equality-ids": [1],
            "equality-field-names": ["k"],
        },
    }

    def manifest(name, entries, spec_id=0):
        p = os.path.join(meta, name)
        with open(p, "w") as fh:
            json.dump({"partition-spec-id": spec_id, "entries": entries}, fh)
        return p

    def mlist(name, manifests):
        p = os.path.join(meta, name)
        with open(p, "w") as fh:
            json.dump({"manifests": [
                {"manifest-path": mp, "manifest-length": os.path.getsize(mp),
                 "content": c, "partition-spec-id": 0}
                for mp, c in manifests
            ]}, fh)
        return p

    m101 = manifest("m-101.json", [e1, e2])
    m102 = manifest("m-102.json", [e1, e2, e3])
    mdel103 = manifest("m-103-del.json", [pos_entry])
    mdel104 = manifest("m-104-del.json", [pos_entry, eq_entry])
    ml101 = mlist("sl-101.json", [(m101, 0)])
    ml102 = mlist("sl-102.json", [(m102, 0)])
    ml103 = mlist("sl-103.json", [(m102, 0), (mdel103, 1)])
    ml104 = mlist("sl-104.json", [(m102, 0), (mdel104, 1)])

    schema0 = {
        "type": "struct", "schema-id": 0,
        "fields": [
            {"id": 1, "name": "k", "required": False, "type": "long"},
            {"id": 2, "name": "name", "required": False, "type": "string"},
            {"id": 3, "name": "v", "required": False, "type": "double"},
            {"id": 4, "name": "cat", "required": False, "type": "string"},
            {"id": 5, "name": "ts", "required": False, "type": "timestamptz"},
        ],
    }
    schema1 = {
        "type": "struct", "schema-id": 1,
        "identifier-field-ids": [1],
        "fields": [
            {"id": 1, "name": "k", "required": False, "type": "long"},
            {"id": 2, "name": "label", "required": False, "type": "string"},
            {"id": 3, "name": "v", "required": False, "type": "double"},
            {"id": 4, "name": "cat", "required": False, "type": "string"},
            {"id": 5, "name": "ts", "required": False, "type": "timestamptz"},
            {"id": 6, "name": "tag", "required": False, "type": "string",
             "initial-default": "base"},
        ],
    }

    def snap(sid, parent, seq, ml, schema_id, op):
        return {
            "snapshot-id": sid,
            **({"parent-snapshot-id": parent} if parent else {}),
            "sequence-number": seq,
            "timestamp-ms": 1_700_000_000_000 + seq * 1000,
            "manifest-list": ml,
            "schema-id": schema_id,
            "summary": {"operation": op},
        }

    md = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-00000000beef",
        "location": root,
        "last-sequence-number": 4,
        "last-updated-ms": 1_700_000_004_000,
        "last-column-id": 6,
        "current-schema-id": 1,
        "schemas": [schema0, schema1],
        "default-spec-id": 0,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [
                {"field-id": 1000, "source-id": 4, "name": "cat",
                 "transform": "identity"},
                {"field-id": 1001, "source-id": 5, "name": "ts_day",
                 "transform": "day"},
            ],
        }],
        "last-partition-id": 1001,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": [
            {"transform": "identity", "source-id": 1, "direction": "asc",
             "null-order": "nulls-first"}]}],
        "properties": {"write.metadata.compression-codec": "none"},
        "current-snapshot-id": 104,
        "snapshots": [
            snap(101, None, 1, ml101, 0, "append"),
            snap(102, 101, 2, ml102, 1, "append"),
            snap(103, 102, 3, ml103, 1, "delete"),
            snap(104, 103, 4, ml104, 1, "delete"),
        ],
        "snapshot-log": [],
        "metadata-log": [],
        "refs": {
            "v1": {"snapshot-id": 102, "type": "tag",
                   "max-ref-age-ms": 1_234_567},
            "main": {"snapshot-id": 104, "type": "branch"},
        },
    }
    mp = os.path.join(meta, "v4.metadata.json")
    with open(mp, "w") as fh:
        json.dump(md, fh, indent=1)
    return mp


# ---- real-Avro re-serialization of the same chain -------------------
# Schemas below are hand-built from the Iceberg spec's manifest tables
# (underscore field names, field-ids, id-keyed byte bounds) so the
# production reader is exercised against SPEC-derived files, not its
# own writer. The container encoding itself is pinned byte-level in
# test_avro_ocf.py.

_AVRO_OF_ICE = {"long": "long", "int": "int", "double": "double",
                "float": "float", "string": "string", "boolean": "boolean",
                "date": "int", "timestamptz": "long", "timestamp": "long"}


def _avro_of_ice(ice_t: str):
    m = re.match(r"^decimal\((\d+),\s*(\d+)\)$", ice_t)
    if m:
        return {"type": "bytes", "logicalType": "decimal",
                "precision": int(m.group(1)), "scale": int(m.group(2))}
    return _AVRO_OF_ICE[ice_t]


def _avro_partition_value(v, avro_t):
    """A JSON-dialect partition value in its Avro form: a decimal
    string becomes the unscaled two's-complement bytes."""
    if isinstance(avro_t, dict) and v is not None:
        u = int(decimal.Decimal(v).scaleb(avro_t["scale"]))
        return u.to_bytes((u.bit_length() + 8) // 8, "big", signed=True)
    return v


def _pack_bound(v, ice_t: str) -> bytes:
    """Iceberg binary single-value serialization (spec appendix D)."""
    import struct
    if ice_t == "long" or ice_t in ("timestamp", "timestamptz"):
        return struct.pack("<q", v)
    if ice_t in ("int", "date"):
        return struct.pack("<i", v)
    if ice_t == "double":
        return struct.pack("<d", v)
    if ice_t == "float":
        return struct.pack("<f", v)
    if ice_t == "string":
        return str(v).encode("utf-8")
    raise ValueError(ice_t)


_MLIST_AVRO_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
    ],
}


def _avroize_chain(mp: str) -> str:
    """Re-serialize a JSON-dialect chain's manifest lists and manifests
    as REAL Avro OCF files — underscore spec field names, typed
    partition records, id-keyed byte-encoded bounds, the singular
    ``referenced_data_file`` (spec field 143), and the Java writers'
    ``sequence_number`` spelling of the v2 entry-sequence field — then
    point a new vN+1.metadata.json at them."""
    from iceberg_catalog_bench_spark.catalog.avro_ocf import write_ocf

    with open(mp) as fh:
        md = json.load(fh)
    meta_dir = os.path.dirname(mp)
    types_by_id: dict[int, str] = {}
    for s in md["schemas"]:
        for f in s["fields"]:
            types_by_id[f["id"]] = f["type"]
    spec_by_id = {sp["spec-id"]: sp for sp in md["partition-specs"]}

    def part_schema(spec_id: int) -> dict:
        fields = []
        for pf in spec_by_id[spec_id]["fields"]:
            tr = pf["transform"]
            if tr == "identity":
                at = _avro_of_ice(types_by_id[pf["source-id"]])
            else:  # day/hour/month/year/bucket[n] all carry ints
                at = "int"
            fields.append({"name": pf["name"], "type": ["null", at],
                           "field-id": pf["field-id"]})
        return {"type": "record", "name": "r102", "fields": fields}

    def kv_schema(name: str) -> dict:
        return {"type": "array", "logicalType": "map", "items": {
            "type": "record", "name": name, "fields": [
                {"name": "key", "type": "int", "field-id": int(name[1:4])},
                {"name": "value", "type": "bytes",
                 "field-id": int(name[6:9])}]}}

    def manifest_schema(spec_id: int) -> dict:
        data_file = {"type": "record", "name": "r2", "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": part_schema(spec_id),
             "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            {"name": "lower_bounds",
             "type": ["null", kv_schema("k126_v127")], "field-id": 125},
            {"name": "upper_bounds",
             "type": ["null", kv_schema("k129_v130")], "field-id": 128},
            {"name": "equality_ids",
             "type": ["null", {"type": "array", "items": "int"}],
             "field-id": 135},
            {"name": "referenced_data_file", "type": ["null", "string"],
             "field-id": 143},
        ]}
        return {"type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ]}

    def conv_entry(e: dict, spec_id: int) -> dict:
        d = e["data-file"]
        avro_types = {f["name"]: f["type"][1]
                      for f in part_schema(spec_id)["fields"]}

        def kvs(bounds):
            out = [{"key": int(k),
                    "value": _pack_bound(v, types_by_id[int(k)])}
                   for k, v in (bounds or {}).items()]
            return out or None

        refs = d.get("referenced-data-files") or []
        return {
            "status": e["status"],
            "snapshot_id": e.get("snapshot-id"),
            "sequence_number": d.get("data-sequence-number"),
            "file_sequence_number": None,
            "data_file": {
                "content": d.get("content", 0),
                "file_path": d["file-path"],
                "file_format": d.get("file-format", "PARQUET"),
                "partition": {
                    k: _avro_partition_value(v, avro_types.get(k))
                    for k, v in (d.get("partition") or {}).items()},
                "record_count": d["record-count"],
                "file_size_in_bytes": d["file-size-in-bytes"],
                "lower_bounds": kvs(d.get("lower-bounds")),
                "upper_bounds": kvs(d.get("upper-bounds")),
                "equality_ids": d.get("equality-ids"),
                "referenced_data_file": refs[0] if len(refs) == 1 else None,
            },
        }

    manifest_avro: dict[str, str] = {}  # json path → avro path
    for s in md["snapshots"]:
        with open(s["manifest-list"]) as fh:
            mlist = json.load(fh)
        list_recs = []
        for m in mlist["manifests"]:
            jp = m["manifest-path"]
            spec_id = m.get("partition-spec-id", 0)
            if jp not in manifest_avro:
                with open(jp) as fh:
                    man = json.load(fh)
                ap = os.path.join(
                    meta_dir,
                    os.path.basename(jp).replace(".json", "") + ".avro")
                write_ocf(
                    ap, manifest_schema(spec_id),
                    [conv_entry(e, spec_id) for e in man["entries"]],
                    metadata={
                        "schema": json.dumps(md["schemas"][-1]),
                        "partition-spec": json.dumps(
                            spec_by_id[spec_id]["fields"]),
                        "partition-spec-id": str(spec_id),
                        "format-version": "2",
                        "content": ("data" if m.get("content", 0) == 0
                                    else "deletes"),
                    })
                manifest_avro[jp] = ap
            ap = manifest_avro[jp]
            list_recs.append({
                "manifest_path": ap,
                "manifest_length": os.path.getsize(ap),
                "partition_spec_id": spec_id,
                "content": m.get("content", 0),
                "sequence_number": s["sequence-number"],
                "min_sequence_number": 0,
                "added_snapshot_id": s["snapshot-id"],
            })
        lp = os.path.join(
            meta_dir, f"snap-{s['snapshot-id']}-manifest-list.avro")
        write_ocf(lp, _MLIST_AVRO_SCHEMA, list_recs,
                  metadata={"format-version": "2"})
        s["manifest-list"] = lp
    n = int(re.match(r"^v(\d+)\.metadata\.json$",
                     os.path.basename(mp)).group(1)) + 1
    out = os.path.join(meta_dir, f"v{n}.metadata.json")
    with open(out, "w") as fh:
        json.dump(md, fh, indent=1)
    return out


@pytest.fixture(params=["json", "avro"])
def adopted(spark, tmp_path, request):
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    if request.param == "avro":
        mp = _avroize_chain(mp)
    t = LakeTable.from_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    return t


def _rows(df, cols=("k", "label", "v", "cat", "tag")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_adopt_current_read_applies_both_delete_kinds(adopted):
    # k=2 position-deleted, k=3 equality-deleted; k=1 reads through
    # schema 0 (name→label rebind by field id, tag defaulted)
    assert _rows(adopted.read()) == [
        (1, "a", 1.0, "x", "base"),
        (4, "d", 4.0, "y", "late"),
    ]


def test_adopt_time_travel_and_schema_history(adopted):
    assert _rows(adopted.read(snapshot_id=102)) == [
        (1, "a", 1.0, "x", "base"),
        (2, "b", 2.0, "x", "base"),
        (3, "c", 3.0, "y", "base"),
        (4, "d", 4.0, "y", "late"),
    ]
    # snapshot 101 predates the evolution: schema 0 spellings
    old = sorted(tuple(r[c] for c in ("k", "name", "v")) for r in
                 adopted.read(snapshot_id=101).collect())
    assert old == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]


def test_adopt_refs_and_retention(adopted):
    assert _rows(adopted.read_tag("v1")) == _rows(adopted.read(snapshot_id=102))
    refs = {r["name"]: r.asDict() for r in adopted.refs().collect()}
    assert refs["v1"]["max_reference_age_in_ms"] == 1_234_567
    assert adopted.identifier_fields == ["k"]
    assert adopted._meta.get("sort_order") == ["k"]


def test_adopt_partition_value_conversion_and_pruning(adopted):
    snap = adopted._snapshot(102)
    f1 = next(e for e in snap.files if e.path.endswith("f1.parquet"))
    # identity value passed through; epoch-day int → ISO date
    assert f1.partition == {"_p_identity_cat": "x", "_p_days_ts": "2024-01-01"}
    kept = adopted._prune_files(snap.files, "cat = 'x'")
    assert [os.path.basename(e.path) for e in kept] == ["f1.parquet"]
    kept = adopted._prune_files(snap.files, "ts >= '2024-01-02 00:00:00'")
    assert sorted(os.path.basename(e.path) for e in kept) == [
        "f2.parquet", "f3.parquet"]
    # field-id-keyed bounds rebound to names → stats pruning works
    kept = adopted._prune_files(snap.files, "k = 4")
    assert [os.path.basename(e.path) for e in kept] == ["f3.parquet"]


# (Iceberg transform, source column type, each file's one value of the
# column as DuckDB SQL, each file's partition value, a where matching
# the first file's row)
SPELLING_CASES = {
    "hour_before_year_1000": (
        "hour", "timestamptz",
        ["TIMESTAMPTZ '0999-01-01 05:30:00+00'",
         "TIMESTAMPTZ '2024-01-01 10:00:00+00'"],
        [(datetime.datetime(999, 1, 1, 5) - datetime.datetime(1970, 1, 1))
         // datetime.timedelta(hours=1), 473_362],
        "c = '0999-01-01 05:30:00'"),
    "decimal_identity": (
        "identity", "decimal(10,2)",
        ["CAST(12.34 AS DECIMAL(10,2))", "CAST(56.78 AS DECIMAL(10,2))"],
        ["12.34", "56.78"], "c = 12.34"),
    "boolean_identity": (
        "identity", "boolean", ["true", "false"], [True, False],
        "c = 'true'"),
}


@pytest.mark.parametrize("fmt", ["json", "avro"])
@pytest.mark.parametrize("case", sorted(SPELLING_CASES))
def test_adopted_partition_values_are_spelled_as_spark(spark, tmp_path,
                                                       case, fmt):
    """An adopted partition value is spelled as the JVM write path
    spells it (``CAST(transform AS STRING)``), so pruning on it keeps
    the rows Spark's filter returns: a four-digit year before 1000, a
    decimal at its scale (Avro carries unscaled bytes), a lowercase
    boolean."""
    tr, ice_type, sqls, values, where = SPELLING_CASES[case]
    root = str(tmp_path / "foreign")
    os.makedirs(os.path.join(root, "data"))
    entries = []
    for k, (sql, v) in enumerate(zip(sqls, values), start=1):
        f = _parquet(os.path.join(root, "data", f"f{k}.parquet"),
                     f"SELECT CAST({k} AS BIGINT) AS k, {sql} AS c")
        e = _data_file(f, 1, seq=1, extra={"partition": {"p": v}})
        e["snapshot-id"] = 1
        entries.append(e)
    mp = _chain(
        root, [(1, 1, [("m1.json", 0, entries)])],
        schemas=[{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "k", "required": False, "type": "long"},
            {"id": 2, "name": "c", "required": False, "type": ice_type}]}],
        specs=[{"spec-id": 0, "fields": [
            {"field-id": 1000, "source-id": 2, "name": "p",
             "transform": tr}]}])
    if fmt == "avro":
        mp = _avroize_chain(mp)
    t = LakeTable.from_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    [native] = t.partition_spec
    typ = t._fields()[1].type
    files = sorted(t._snapshot().files, key=lambda e: e.path)
    spark_spelling = [r[0] for r in t.read().orderBy("k").select(
        transform_expr(native, typ).cast("string")).collect()]
    assert [f.partition[key(native)] for f in files] == \
        spark_spelling
    assert [r.k for r in t.scan(where).collect()] == \
        [r.k for r in t.read().filter(where).collect()] == [1]


def test_adopt_converts_bucket_partition_spec(spark, tmp_path):
    """Iceberg's bucket[N] is murmur3 (table spec Appendix B) — the
    native ``ibucket`` transform is hash-identical, so adoption maps
    the spec field to it. Files whose partition structs never carried
    the bucket value (this chain's spec field is appended after the
    fact) simply lack the key: readable, never pruned on it."""
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    md = json.load(open(mp))
    md["partition-specs"][0]["fields"].append(
        {"field-id": 1002, "source-id": 1, "name": "k_bucket",
         "transform": "bucket[8]"})
    with open(mp, "w") as fh:
        json.dump(md, fh)
    t = adopt_iceberg_metadata(spark, mp, str(tmp_path / "adopted2"))
    # spec adopted as the spec-true murmur3 transform (continued
    # writes cluster by it) ...
    assert [tr.name for tr in t.partition_spec] == [
        "identity", "days", "ibucket"]
    # ... and files without a recorded bucket value carry no key
    snap = t._snapshot(102)
    assert not any("_p_ibucket_k" in e.partition for e in snap.files)
    assert not any("_p_bucket_k" in e.partition for e in snap.files)
    assert _rows(t.read())[0] == (1, "a", 1.0, "x", "base")


def test_adopt_continued_dml(adopted, spark):
    # appends take max(snapshot id)+1 = 105; its files get seq 105,
    # so the foreign equality delete (seq 4) can never reach them —
    # including a RE-INSERT of the retracted key k=3
    adopted.append(spark.createDataFrame(
        [(5, "e", 5.0, "x", "new",
          datetime.datetime(2024, 1, 3, tzinfo=datetime.timezone.utc)),
         (3, "c2", 3.5, "y", "re",
          datetime.datetime(2024, 1, 3, tzinfo=datetime.timezone.utc))],
        "k bigint, label string, v double, cat string, tag string, ts timestamp"
    ).select("k", "label", "v", "cat", "ts", "tag"))
    assert adopted._meta["current_snapshot_id"] == 105
    assert _rows(adopted.read()) == [
        (1, "a", 1.0, "x", "base"),
        (3, "c2", 3.5, "y", "re"),
        (4, "d", 4.0, "y", "late"),
        (5, "e", 5.0, "x", "new"),
    ]
    # CoW delete rewrites the affected FOREIGN file into table-owned
    # layout; everything else unaffected
    adopted.delete_where("k = 4")
    assert _rows(adopted.read()) == [
        (1, "a", 1.0, "x", "base"),
        (3, "c2", 3.5, "y", "re"),
        (5, "e", 5.0, "x", "new"),
    ]
    # evolution continues from the adopted history: next version is 2
    adopted.add_column("score", "double", default=0.5)
    assert adopted._meta["current_schema_version"] == 2
    row = adopted.read().filter("k = 1").collect()[0]
    assert row["score"] == 0.5


def test_adopt_reexport_roundtrip_via_duckdb(adopted, spark):
    """The interop loop closed both ways: foreign chain → adopt →
    continued DML → RE-EXPORT → a second engine (DuckDB) scans the
    re-exported chain and agrees with the native read."""
    adopted.append(spark.createDataFrame(
        [(7, "g", 7.0, "z", "new",
          datetime.datetime(2024, 1, 4, tzinfo=datetime.timezone.utc))],
        "k bigint, label string, v double, cat string, tag string, ts timestamp"
    ).select("k", "label", "v", "cat", "ts", "tag"))
    meta2 = to_iceberg_metadata(adopted)
    native = sorted(
        tuple(r) for r in
        adopted.read().select("k", "label", "v", "cat", "tag").collect()
    )
    duck = sorted(
        (r[0], r[1], r[2], r[3], r[5])
        for r in duckdb.sql(duckdb_scan_sql(meta2)).fetchall()
    )
    assert duck == native


def test_register_table_sql_procedure(spark, tmp_path):
    from iceberg_catalog_bench_spark.engine import SqlEngine

    engine = SqlEngine(spark, str(tmp_path / "warehouse"))
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    engine.execute("CREATE NAMESPACE adoptns")
    res = engine.execute(
        "CALL system.register_table(table => 'adoptns.ext', "
        f"metadata_file => '{mp}')"
    )[-1]
    assert res.rows[0]["current_snapshot_id"] == 104
    assert res.rows[0]["total_data_files_count"] == 3
    rows = engine.execute(
        "SELECT k, label FROM adoptns.ext ORDER BY k")[-1].rows
    assert rows == [{"k": 1, "label": "a"}, {"k": 4, "label": "d"}]
    # time travel through the adopted lineage via SQL
    rows = engine.execute(
        "SELECT COUNT(*) AS n FROM adoptns.ext VERSION AS OF 102")[-1].rows
    assert rows[0]["n"] == 4
    # the foreign writer advances; CALL system.sync_table fast-forwards
    res = engine.execute(
        "CALL system.sync_table(table => 'adoptns.ext')")[-1]
    assert res.rows[0]["pulled_snapshots_count"] == 0  # already current
    _advance_foreign_chain(mp)
    res = engine.execute(
        "CALL system.sync_table(table => 'adoptns.ext')")[-1]
    assert res.rows[0] == {"pulled_snapshots_count": 1,
                           "current_snapshot_id": 105}
    rows = engine.execute(
        "SELECT COUNT(*) AS n FROM adoptns.ext")[-1].rows
    assert rows[0]["n"] == 3  # k=9 arrived


def test_expire_snapshots_never_deletes_foreign_files(adopted, spark):
    """Expiring an adopted snapshot must drop the REFERENCE only —
    the foreign table's bytes are not this table's to delete (the
    same boundary remove_orphan_files honors). Regression: the GC
    previously os.remove'd any dead path, and absolute external
    paths (migrate/add_files/snapshot_of/adopt) pass through
    os.path.join unchanged."""
    foreign_files = [e.path for e in adopted._snapshot(101).files]
    assert all(os.path.isabs(p) for p in foreign_files)
    # fold the foreign files out of the live set, then add commits so
    # the early foreign-only snapshots can expire
    adopted.rewrite_data_files(min_input_files=1)
    adopted.append(adopted.read().limit(1))
    res = adopted.expire_snapshots(retain_last=2)
    assert res["expired_snapshots_count"] >= 3
    # references gone, bytes intact
    kept_ids = {s["snapshot_id"] for s in adopted._meta["snapshots"]}
    assert 101 not in kept_ids and 104 not in kept_ids
    for p in foreign_files:
        assert os.path.exists(p), f"foreign file deleted by expiry: {p}"
    # the adopted table still reads correctly from its own files
    assert adopted.read().count() >= 2


def test_adopt_equality_delete_ids_only(spark, tmp_path):
    """Real Iceberg manifests carry only equality-ids — no column
    names. The delete file's physical column names must resolve from
    the ADDING snapshot's schema (write-time spellings), so adoption
    applies the tombstones without the exporter's name extension."""
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    md = json.load(open(mp))
    # strip the name extension from every equality-delete entry
    for snap in md["snapshots"]:
        ml = json.load(open(snap["manifest-list"]))
        for m in ml["manifests"]:
            man = json.load(open(m["manifest-path"]))
            changed = False
            for e in man["entries"]:
                if e["data-file"].get("content") == 2:
                    e["data-file"].pop("equality-field-names", None)
                    changed = True
            if changed:
                with open(m["manifest-path"], "w") as fh:
                    json.dump(man, fh)
    t = adopt_iceberg_metadata(spark, mp, str(tmp_path / "adopted3"))
    # k=3 still equality-deleted
    assert _rows(t.read()) == [
        (1, "a", 1.0, "x", "base"),
        (4, "d", 4.0, "y", "late"),
    ]
    dels = t._snapshot(104).delete_files
    eq = next(d for d in dels if d.content == "equality")
    assert eq.physical_cols == ["k"]


def _advance_foreign_chain(mp: str) -> None:
    """The foreign engine commits snapshot 105: one more data file
    (schema 1), rewriting the metadata.json in place."""
    md = json.load(open(mp))
    root = md["location"]
    meta = os.path.dirname(mp)
    f4 = os.path.join(root, "data", "f4.parquet")
    duckdb.sql(
        "COPY (SELECT CAST(9 AS BIGINT) AS k, 'i' AS label, 9.0 AS v, "
        "'z' AS cat, TIMESTAMPTZ '2024-01-05 00:00:00+00' AS ts, "
        "'sync' AS tag) TO '" + f4 + "' (FORMAT PARQUET)"
    )
    snap104 = next(s for s in md["snapshots"] if s["snapshot-id"] == 104)
    ml104 = json.load(open(snap104["manifest-list"]))
    data_manifest = next(
        m for m in ml104["manifests"] if m["content"] == 0)
    del_manifest = next(
        m for m in ml104["manifests"] if m["content"] == 1)
    old_entries = json.load(open(data_manifest["manifest-path"]))["entries"]
    e4 = {"status": 1, "snapshot-id": 105, "data-file": {
        "content": 0, "file-path": f4, "file-format": "PARQUET",
        "partition": {"cat": "z", "ts_day": EPOCH_DAY + 4},
        "data-sequence-number": 5, "record-count": 1,
        "file-size-in-bytes": os.path.getsize(f4),
        "lower-bounds": {"1": 9}, "upper-bounds": {"1": 9}}}
    m105 = os.path.join(meta, "m-105.json")
    with open(m105, "w") as fh:
        json.dump({"partition-spec-id": 0, "entries": old_entries + [e4]}, fh)
    ml105 = os.path.join(meta, "sl-105.json")
    with open(ml105, "w") as fh:
        json.dump({"manifests": [
            {"manifest-path": m105, "manifest-length": os.path.getsize(m105),
             "content": 0, "partition-spec-id": 0},
            del_manifest,
        ]}, fh)
    md["snapshots"].append({
        "snapshot-id": 105, "parent-snapshot-id": 104,
        "sequence-number": 5, "timestamp-ms": 1_700_000_005_000,
        "manifest-list": ml105, "schema-id": 1,
        "summary": {"operation": "append"}})
    md["current-snapshot-id"] = 105
    md["refs"]["main"] = {"snapshot-id": 105, "type": "branch"}
    with open(mp, "w") as fh:
        json.dump(md, fh)


def test_sync_pulls_foreign_advances(spark, tmp_path):
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    t = LakeTable.from_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    assert t.sync_from_iceberg_metadata() == 0  # already current
    _advance_foreign_chain(mp)
    assert t.sync_from_iceberg_metadata() == 1  # default: adopted_from
    assert t._meta["current_snapshot_id"] == 105
    assert _rows(t.read()) == [
        (1, "a", 1.0, "x", "base"),
        (4, "d", 4.0, "y", "late"),
        (9, "i", 9.0, "z", "sync"),
    ]


def test_sync_pulls_foreign_advances_avro_chain(spark, tmp_path):
    """The sync fast-forward works when the foreign chain's manifests
    are real Avro OCF: adopt the Avro re-serialization, let the
    foreign writer commit snapshot 105, re-serialize, sync."""
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    amp = _avroize_chain(mp)
    t = LakeTable.from_iceberg_metadata(spark, amp, str(tmp_path / "adopted"))
    assert t.sync_from_iceberg_metadata() == 0
    _advance_foreign_chain(mp)   # foreign writer advances the chain
    _avroize_chain(mp)           # … and re-emits v5 with Avro manifests
    assert t.sync_from_iceberg_metadata() == 1
    assert t._meta["current_snapshot_id"] == 105
    assert _rows(t.read()) == [
        (1, "a", 1.0, "x", "base"),
        (4, "d", 4.0, "y", "late"),
        (9, "i", 9.0, "z", "sync"),
    ]
    # foreign deletes still applied; pre-sync travel intact
    assert _rows(t.read(snapshot_id=104)) == [
        (1, "a", 1.0, "x", "base"),
        (4, "d", 4.0, "y", "late"),
    ]


def test_sync_refuses_diverged_local_history(spark, tmp_path):
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    t = LakeTable.from_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    t.append(t.read().limit(1))  # local commit → independent fork
    _advance_foreign_chain(mp)
    with pytest.raises(ValueError, match="fork"):
        t.sync_from_iceberg_metadata()


def test_adopt_multi_spec_chain(spark, tmp_path):
    """Foreign chains evolve partition specs; files reference theirs
    by the MANIFEST's partition-spec-id. Spec 0 (identity(cat)) files
    and spec 1 (identity(cat) + day(ts)) files coexist in one
    snapshot — each manifest's spec converts its own files' partition
    structs, the default spec becomes the live write spec, and the
    outgoing spec lands in partition_spec_history."""
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    md = json.load(open(mp))
    # rewrite history: spec 0 = identity(cat) only; spec 1 adds day(ts)
    md["partition-specs"] = [
        {"spec-id": 0, "fields": [
            {"field-id": 1000, "source-id": 4, "name": "cat",
             "transform": "identity"}]},
        {"spec-id": 1, "fields": [
            {"field-id": 1000, "source-id": 4, "name": "cat",
             "transform": "identity"},
            {"field-id": 1001, "source-id": 5, "name": "ts_day",
             "transform": "day"}]},
    ]
    md["default-spec-id"] = 1
    with open(mp, "w") as fh:
        json.dump(md, fh)
    # split snapshot 102's data manifest: f1/f2 under spec 0 (drop the
    # ts_day key from their structs), f3 under spec 1
    snap102 = next(s for s in md["snapshots"] if s["snapshot-id"] == 102)
    ml = json.load(open(snap102["manifest-list"]))
    entries = json.load(open(ml["manifests"][0]["manifest-path"]))["entries"]
    old, new = entries[:2], entries[2:]
    for e in old:
        e["data-file"]["partition"].pop("ts_day")
    meta_dir = os.path.dirname(mp)
    m_old = os.path.join(meta_dir, "m-102-spec0.json")
    m_new = os.path.join(meta_dir, "m-102-spec1.json")
    with open(m_old, "w") as fh:
        json.dump({"partition-spec-id": 0, "entries": old}, fh)
    with open(m_new, "w") as fh:
        json.dump({"partition-spec-id": 1, "entries": new}, fh)
    with open(snap102["manifest-list"], "w") as fh:
        json.dump({"manifests": [
            {"manifest-path": m_old, "manifest-length": os.path.getsize(m_old),
             "content": 0, "partition-spec-id": 0},
            {"manifest-path": m_new, "manifest-length": os.path.getsize(m_new),
             "content": 0, "partition-spec-id": 1},
        ]}, fh)

    t = adopt_iceberg_metadata(spark, mp, str(tmp_path / "adopted_ms"))
    # default spec live, prior spec in history
    assert [(tr.name, tr.column) for tr in t.partition_spec] == [
        ("identity", "cat"), ("days", "ts")]
    assert t._meta.get("partition_spec_history") == [
        [{"transform": "identity", "column": "cat"}]]
    snap = t._snapshot(102)
    by_name = {os.path.basename(e.path): e.partition for e in snap.files}
    assert by_name["f1.parquet"] == {"_p_identity_cat": "x"}
    assert by_name["f3.parquet"] == {
        "_p_identity_cat": "y", "_p_days_ts": "2024-01-02"}
    # cross-spec pruning: cat prunes both generations; ts prunes only
    # the day-keyed generation (missing key = keep)
    kept = {os.path.basename(e.path)
            for e in t._prune_files(snap.files, "cat = 'y'")}
    assert kept == {"f2.parquet", "f3.parquet"}
    kept = {os.path.basename(e.path)
            for e in t._prune_files(snap.files, "ts >= '2024-01-03 00:00:00'")}
    assert kept == {"f1.parquet", "f2.parquet"}


def test_adopt_from_directory_with_version_hint(spark, tmp_path):
    """HadoopCatalog layout: adopting a table DIRECTORY resolves
    metadata/version-hint.text → vN.metadata.json; without a hint the
    highest version wins. A directory-adopted table re-resolves on
    sync, so a foreign writer publishing v5 is picked up."""
    root = str(tmp_path / "foreign")
    _write_foreign_chain(root)  # writes <root>/metadata/v4.metadata.json
    with open(os.path.join(root, "metadata", "version-hint.text"), "w") as fh:
        fh.write("4")
    t = LakeTable.from_iceberg_metadata(spark, root, str(tmp_path / "a1"))
    assert t._meta["current_snapshot_id"] == 104
    # no hint → highest vN wins
    os.remove(os.path.join(root, "metadata", "version-hint.text"))
    t2 = LakeTable.from_iceberg_metadata(spark, root, str(tmp_path / "a2"))
    assert t2._meta["current_snapshot_id"] == 104
    # foreign writer publishes a NEW version file; dir-adopt re-resolves
    mp4 = os.path.join(root, "metadata", "v4.metadata.json")
    _advance_foreign_chain(mp4)  # rewrites v4 in place ...
    os.rename(mp4, os.path.join(root, "metadata", "v5.metadata.json"))
    assert t2.sync_from_iceberg_metadata() == 1
    assert t2._meta["current_snapshot_id"] == 105


def test_adopt_expired_adding_snapshot_uses_footer_probe(spark, tmp_path):
    """A manifest entry whose adding snapshot was expired out of the
    chain still attributes its writing schema — by probing the parquet
    footer's column names against the schema generations (newest exact
    match). f1 was written pre-rename: binding the current schema
    would fail to resolve `name`."""
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    for snap in json.load(open(mp))["snapshots"]:
        ml = json.load(open(snap["manifest-list"]))
        for m in ml["manifests"]:
            man = json.load(open(m["manifest-path"]))
            changed = False
            for e in man["entries"]:
                if e["data-file"]["file-path"].endswith(
                        ("f1.parquet", "f2.parquet")):
                    e["snapshot-id"] = 99  # expired, unknown to the chain
                    changed = True
            if changed:
                with open(m["manifest-path"], "w") as fh:
                    json.dump(man, fh)
    t = adopt_iceberg_metadata(spark, mp, str(tmp_path / "adopted_fp"))
    snap = t._snapshot(102)
    by_name = {os.path.basename(e.path): e.schema_version
               for e in snap.files}
    assert by_name["f1.parquet"] == 0  # footer {k,name,...} = schema 0
    assert by_name["f3.parquet"] == 1
    assert _rows(t.read()) == [
        (1, "a", 1.0, "x", "base"),
        (4, "d", 4.0, "y", "late"),
    ]


@pytest.mark.parametrize("fmt", ["json", "avro"])
def test_adopt_inverts_own_export(spark, tmp_path, fmt):
    """adopt(export(t)) must reproduce t: the two functions are
    inverses over BOTH serializations — the JSON dialect (native
    `_p_*` structs pass through) and real Avro OCF manifests (typed
    spec-named partition records, byte-encoded id-keyed bounds, which
    adoption converts back: `ts_days` epoch-day ints → `_p_days_ts`
    ISO strings, so pruning works identically). Evolution, MoR
    position deletes, tags, time travel and continued DML all
    round-trip either way."""
    t = LakeTable.create(
        spark, str(tmp_path / "src"),
        "k bigint, name string, v double, ts timestamp",
        partition_by=["days(ts)"],
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(spark.sql(
        "SELECT id AS k, CONCAT('n', id) AS name, CAST(id AS DOUBLE) AS v, "
        "TIMESTAMP'2024-01-01 00:00:00' + MAKE_INTERVAL(0,0,0,0,0,CAST(id AS INT),0) AS ts "
        "FROM RANGE(20)"))
    t.rename_column("name", "label")
    t.add_column("tag", "string", default="base")
    t.append(spark.createDataFrame(
        [(100, "x", 100.0, datetime.datetime(2024, 2, 1), "late")],
        "k bigint, label string, v double, ts timestamp, tag string"))
    t.delete_where("k = 3")  # MoR tombstone
    t.create_tag("v1")
    meta_path = to_iceberg_metadata(t, manifest_format=fmt)
    if fmt == "avro":
        # the chain's manifests really are Avro OCF, not JSON renamed
        from iceberg_catalog_bench_spark.catalog.avro_ocf import is_ocf
        snap_md = json.load(open(meta_path))
        assert all(is_ocf(s["manifest-list"]) for s in snap_md["snapshots"])

    a = adopt_iceberg_metadata(spark, meta_path, str(tmp_path / "adopted"))
    cols = ("k", "label", "v", "tag")
    native = sorted(tuple(r[c] for c in cols) for r in t.read().collect())
    adopted_rows = sorted(tuple(r[c] for c in cols) for r in a.read().collect())
    assert adopted_rows == native
    assert sorted(
        tuple(r[c] for c in cols) for r in a.read_tag("v1").collect()
    ) == native
    # partition values passed through the native dialect → pruning works
    snap = a._snapshot()
    assert all("_p_days_ts" in e.partition for e in snap.files)
    assert len(a._prune_files(snap.files, "ts >= '2024-02-01 00:00:00'")) < len(snap.files)
    # continued DML on the adopted side
    a.delete_where("k = 100")
    assert a.read().filter("k = 100").count() == 0
    assert t.read().filter("k = 100").count() == 1  # source untouched


def test_adopted_table_serves_laketable_stream(spark, tmp_path):
    """An adopted table is a first-class `laketable` source: batch
    read and incremental streaming work over the foreign-referenced
    files once compaction folds the outstanding MoR tombstones (the
    source's append-only contract), and a post-adoption append
    streams incrementally without redelivery."""
    from iceberg_catalog_bench_spark.streaming.table_source import (
        register_source,
    )

    register_source(spark)
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    t = LakeTable.from_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    t.rewrite_data_files(min_input_files=1)  # fold foreign tombstones

    bdf = spark.read.format("laketable").option("path", t.path).load()
    assert sorted(r["k"] for r in bdf.collect()) == [1, 4]

    # stream NEW commits from the compacted head (the adopted
    # delete/rewrite lineage is history, not a replayable feed)
    head = t._meta["current_snapshot_id"]
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")

    def drain():
        q = (spark.readStream.format("laketable").option("path", t.path)
             .option("starting-snapshot-id", str(head))
             .load().writeStream.format("parquet")
             .option("path", sink).trigger(availableNow=True)
             .option("checkpointLocation", ck).start())
        q.awaitTermination(300)

    t.append(spark.createDataFrame(
        [(7, "g", 7.0, "z", datetime.datetime(2024, 1, 9), "new")],
        "k bigint, label string, v double, cat string, ts timestamp, tag string"
    ).select("k", "label", "v", "cat", "ts", "tag"))
    drain()
    assert sorted(r["k"] for r in spark.read.parquet(sink).collect()) == [7]
    t.append(spark.createDataFrame(
        [(8, "h", 8.0, "z", datetime.datetime(2024, 1, 10), "new")],
        "k bigint, label string, v double, cat string, ts timestamp, tag string"
    ).select("k", "label", "v", "cat", "ts", "tag"))
    drain()  # incremental: no redelivery of 7
    assert sorted(r["k"] for r in spark.read.parquet(sink).collect()) == [7, 8]


def test_duckdb_scan_sql_over_foreign_avro_chain(spark, tmp_path):
    """duckdb_scan_sql is a genuine cross-engine scanner, not just an
    export reader: pointed at the FOREIGN Avro chain (no per-file
    schema-id extension), it attributes each file's writing schema
    through its adding snapshot and DuckDB reproduces the adopted
    read — schema rebinding, the position delete and the
    equality-delete sequence rule included."""
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    amp = _avroize_chain(mp)
    t = LakeTable.from_iceberg_metadata(spark, amp, str(tmp_path / "adopted"))
    native = _rows(t.read())
    got = duckdb.sql(duckdb_scan_sql(amp)).fetchall()
    cols = [d[0] for d in duckdb.sql(duckdb_scan_sql(amp)).description]
    idx = [cols.index(c) for c in ("k", "label", "v", "cat", "tag")]
    assert sorted(tuple(r[i] for i in idx) for r in got) == native

    # time travel through the foreign chain too (snapshot 102:
    # pre-delete state, schema 1)
    old = duckdb.sql(duckdb_scan_sql(amp, snapshot_id=102)).fetchall()
    assert sorted(r[idx[0]] for r in old) == [1, 2, 3, 4]

    # the Spark metadata-only walker handles the same foreign chain
    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        read_via_iceberg_metadata)
    walked = read_via_iceberg_metadata(spark, amp)
    assert _rows(walked) == native


def test_full_interop_cycle_foreign_to_export_to_readopt(spark, tmp_path):
    """The whole loop the reference exists to test, in one arc: a
    foreign engine's Avro chain is ADOPTED; the adopted table takes
    continued DML AND schema evolution; its full history re-EXPORTS as
    a real Avro chain; DuckDB executes the compiled scan of that
    export; and a SECOND adoption of the export reproduces the table.
    Every hop crosses a serialization or engine boundary."""
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    amp = _avroize_chain(mp)
    a = LakeTable.from_iceberg_metadata(spark, amp, str(tmp_path / "gen1"))
    # continued life on the adopted side: delete + evolve + append
    a.delete_where("k = 4")
    a.add_column("note", "string", default="n/a")
    a.append(spark.createDataFrame(
        [(9, "i", 9.0, "z", datetime.datetime(2024, 2, 1), "late", "fresh")],
        "k bigint, label string, v double, cat string, ts timestamp, "
        "tag string, note string"))
    expect = sorted(
        tuple(r[c] for c in ("k", "label", "v", "cat", "tag", "note"))
        for r in a.read().collect())
    assert [e[0] for e in expect] == [1, 9]  # 2,3 foreign-deleted; 4 local

    meta2 = to_iceberg_metadata(a, manifest_format="avro")
    # engine hop: DuckDB executes the compiled scan of the re-export
    got = duckdb.sql(duckdb_scan_sql(meta2)).fetchall()
    cols = [d[0] for d in duckdb.sql(duckdb_scan_sql(meta2)).description]
    idx = [cols.index(c) for c in ("k", "label", "v", "cat", "tag", "note")]
    assert sorted(tuple(r[i] for i in idx) for r in got) == expect

    # second adoption: the exported chain registers as a NEW table
    b = LakeTable.from_iceberg_metadata(spark, meta2, str(tmp_path / "gen2"))
    assert sorted(
        tuple(r[c] for c in ("k", "label", "v", "cat", "tag", "note"))
        for r in b.read().collect()) == expect
    # and the second generation still time-travels into the FIRST
    # generation's foreign history (schema 0 rows read through renames
    # and double defaults)
    assert len(b._meta["snapshots"]) == len(a._meta["snapshots"])


def test_maintenance_on_adopted_table_never_touches_foreign_files(
        spark, tmp_path):
    """Maintenance is first-class on adopted tables: rewrite_data_files
    compacts the foreign-referenced files into table-owned layout,
    expire_snapshots trims the adopted history — and the FOREIGN
    directory is byte-identical afterwards (the r8 safety rule:
    physical deletes never leave the table directory)."""
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    amp = _avroize_chain(mp)
    t = LakeTable.from_iceberg_metadata(spark, amp, str(tmp_path / "adopted"))
    before = _rows(t.read())

    def snapshot_dir(root):
        out = {}
        for dp, _dn, fns in os.walk(root):
            for fn in fns:
                p = os.path.join(dp, fn)
                out[p] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    foreign_before = snapshot_dir(str(tmp_path / "foreign"))
    t.rewrite_data_files(min_input_files=1)
    t.expire_snapshots(retain_last=1)
    assert _rows(t.read()) == before
    # compaction rewrote into the TABLE directory; reads no longer
    # depend on merge-on-read over foreign delete files
    snap = t._snapshot()
    table_root = str(tmp_path / "adopted")
    assert all(os.path.join(table_root, e.path).startswith(table_root)
               for e in snap.files)
    assert snapshot_dir(str(tmp_path / "foreign")) == foreign_before


def test_stream_delivers_foreign_advances_after_sync(spark, tmp_path):
    """Foreign CDC ingestion: adopt an Avro chain, open an incremental
    stream at the adopted head, let the FOREIGN writer commit, sync
    the fast-forward — the next drain delivers exactly the synced
    delta, and a further drain redelivers nothing."""
    from iceberg_catalog_bench_spark.streaming.table_source import (
        register_source,
    )

    register_source(spark)
    mp = _write_foreign_chain(str(tmp_path / "foreign"))
    amp = _avroize_chain(mp)
    t = LakeTable.from_iceberg_metadata(spark, amp, str(tmp_path / "adopted"))
    head = t._meta["current_snapshot_id"]
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")

    def drain():
        q = (spark.readStream.format("laketable").option("path", t.path)
             .option("starting-snapshot-id", str(head))
             .load().writeStream.format("parquet")
             .option("path", sink).trigger(availableNow=True)
             .option("checkpointLocation", ck).start())
        q.awaitTermination(300)

    _advance_foreign_chain(mp)      # foreign writer commits 105 (k=9)
    _avroize_chain(mp)              # … re-emitting Avro manifests
    assert t.sync_from_iceberg_metadata() == 1
    drain()
    assert sorted(r["k"] for r in spark.read.parquet(sink).collect()) == [9]
    drain()                          # no redelivery
    assert sorted(r["k"] for r in spark.read.parquet(sink).collect()) == [9]

"""Round-9 regression pins for the ADVICE r8 findings — all five are
adoption-path semantics an external (foreign-written) Iceberg chain can
legitimately exercise:

1. (medium) a position-delete parquet whose ``file_path`` column spells
   URIs (``file:///...``) must still tombstone rows — both sides of the
   MoR anti-join normalize the scheme now;
2. a manifest entry with NO explicit data-sequence-number inherits its
   snapshot's sequence number (Iceberg sequence inheritance) — a seq-0
   default made every such file strictly older than every equality
   delete, wrongly retracting its rows;
3. ``next_field_id`` honors the chain's authoritative ``last-column-id``
   so ADD COLUMN after adoption can never reuse a historical field id;
4. syncing once against an explicit ``vN.metadata.json`` must NOT pin a
   directory-adopted table to that file — future default syncs keep
   resolving the directory;
5. a HISTORICAL partition spec sourcing a since-dropped column id is
   skipped, not fatal — only the default spec resolves strictly.
"""

import datetime
import json
import os

import duckdb
import pytest

from iceberg_catalog_bench_spark.catalog.table import LakeTable

SCHEMA = {
    "type": "struct", "schema-id": 0,
    "fields": [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "string"},
    ],
}


def _chain(root, snapshots, *, schemas=None, specs=None, default_spec=0,
           last_column_id=2, current_schema=0):
    """Author a minimal foreign Iceberg v2 chain: ``snapshots`` is a
    list of (snapshot_id, sequence_number, manifests) where manifests
    is a list of (name, content, entries)."""
    meta = os.path.join(root, "metadata")
    os.makedirs(meta, exist_ok=True)
    snap_docs = []
    parent = None
    for sid, seq, manifests in snapshots:
        refs = []
        for name, content, entries in manifests:
            mp = os.path.join(meta, name)
            if not os.path.exists(mp):
                with open(mp, "w") as fh:
                    json.dump({"partition-spec-id": 0, "entries": entries}, fh)
            refs.append({"manifest-path": mp,
                         "manifest-length": os.path.getsize(mp),
                         "content": content, "partition-spec-id": 0})
        ml = os.path.join(meta, f"sl-{sid}.json")
        with open(ml, "w") as fh:
            json.dump({"manifests": refs}, fh)
        snap_docs.append({
            "snapshot-id": sid,
            **({"parent-snapshot-id": parent} if parent else {}),
            "sequence-number": seq,
            "timestamp-ms": 1_700_000_000_000 + seq * 1000,
            "manifest-list": ml,
            "schema-id": current_schema,
            "summary": {"operation": "append"},
        })
        parent = sid
    md = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-0000000000r9",
        "location": root,
        "last-sequence-number": snap_docs[-1]["sequence-number"],
        "last-updated-ms": 1_700_000_009_000,
        "last-column-id": last_column_id,
        "current-schema-id": current_schema,
        "schemas": schemas or [SCHEMA],
        "default-spec-id": default_spec,
        "partition-specs": specs or [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": snap_docs[-1]["snapshot-id"],
        "snapshots": snap_docs,
        "snapshot-log": [], "metadata-log": [], "refs": {},
    }
    n = len(snap_docs)
    mp = os.path.join(meta, f"v{n}.metadata.json")
    with open(mp, "w") as fh:
        json.dump(md, fh)
    return mp


def _data_file(path, rows, *, seq=None, content=0, extra=None):
    d = {
        "content": content,
        "file-path": path,
        "file-format": "PARQUET",
        "partition": {},
        "record-count": rows,
        "file-size-in-bytes": os.path.getsize(path),
        **(extra or {}),
    }
    if seq is not None:
        d["data-sequence-number"] = seq
    return {"status": 1, "data-file": d}


def _parquet(path, sql):
    duckdb.sql(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    return path


def test_adopt_uri_spelled_position_delete_payload(spark, tmp_path):
    """ADVICE medium: delete parquet stores file:///... paths — the
    tombstone must still match the plain-path data file."""
    root = str(tmp_path / "foreign")
    data = os.path.join(root, "data")
    os.makedirs(data)
    f1 = _parquet(os.path.join(data, "f1.parquet"),
                  "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a'), "
                  "(CAST(2 AS BIGINT), 'b'), (CAST(3 AS BIGINT), 'c')) t(k, v)")
    pd1 = _parquet(os.path.join(data, "pd1.parquet"),
                   f"SELECT 'file://{f1}' AS file_path, CAST(1 AS BIGINT) AS pos")
    e1 = _data_file(f1, 3, seq=1)
    e1["snapshot-id"] = 1
    pd = _data_file(pd1, 1, seq=2, content=1,
                    extra={"referenced-data-files": [f1]})
    pd["snapshot-id"] = 2
    mp = _chain(root, [
        (1, 1, [("m1.json", 0, [e1])]),
        (2, 2, [("m1.json", 0, [e1]), ("d2.json", 1, [pd])]),
    ])
    t = LakeTable.from_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
        (1, "a"), (3, "c")
    ]


def test_adopt_sequence_inheritance_protects_new_files(spark, tmp_path):
    """An entry with no explicit data-sequence-number inherits its
    snapshot's sequence: a file appended AFTER an equality delete must
    not be retracted by it (seq-0 default made it strictly older than
    every delete)."""
    root = str(tmp_path / "foreign")
    data = os.path.join(root, "data")
    os.makedirs(data)
    f1 = _parquet(os.path.join(data, "f1.parquet"),
                  "SELECT CAST(1 AS BIGINT) AS k, 'a' AS v")
    eq1 = _parquet(os.path.join(data, "eq1.parquet"),
                   "SELECT CAST(2 AS BIGINT) AS k")
    f2 = _parquet(os.path.join(data, "f2.parquet"),
                  "SELECT CAST(2 AS BIGINT) AS k, 'b-after' AS v")
    e1 = _data_file(f1, 1, seq=1)
    e1["snapshot-id"] = 1
    eq = _data_file(eq1, 1, seq=2, content=2,
                    extra={"equality-ids": [1],
                           "equality-field-names": ["k"]})
    eq["snapshot-id"] = 2
    e2 = _data_file(f2, 1)  # NO explicit seq — inherits snapshot 3's seq 3
    e2["snapshot-id"] = 3
    mp = _chain(root, [
        (1, 1, [("m1.json", 0, [e1])]),
        (2, 2, [("m1.json", 0, [e1]), ("d2.json", 1, [eq])]),
        (3, 3, [("m3.json", 0, [e1, e2]), ("d2.json", 1, [eq])]),
    ])
    t = LakeTable.from_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
        (1, "a"), (2, "b-after")
    ]


def test_adopt_next_field_id_honors_last_column_id(spark, tmp_path):
    """last-column-id=9 with surviving max field id 2 → the next field
    id must be 10, never a reused historical id."""
    root = str(tmp_path / "foreign")
    data = os.path.join(root, "data")
    os.makedirs(data)
    f1 = _parquet(os.path.join(data, "f1.parquet"),
                  "SELECT CAST(1 AS BIGINT) AS k, 'a' AS v")
    e1 = _data_file(f1, 1, seq=1)
    e1["snapshot-id"] = 1
    mp = _chain(root, [(1, 1, [("m1.json", 0, [e1])])], last_column_id=9)
    t = LakeTable.from_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    assert t._meta["next_field_id"] == 10
    t.add_column("w", "int")
    cur = t._meta["schemas"][str(t._meta["current_schema_version"])]
    assert next(f["id"] for f in cur if f["name"] == "w") == 10


def test_sync_explicit_version_does_not_pin_directory_adoption(spark, tmp_path):
    """Directory-adopted table + one explicit-vN sync → adopted_from
    stays the directory, so later default syncs see newer versions."""
    root = str(tmp_path / "foreign")
    data = os.path.join(root, "data")
    os.makedirs(data)
    f1 = _parquet(os.path.join(data, "f1.parquet"),
                  "SELECT CAST(1 AS BIGINT) AS k, 'a' AS v")
    e1 = _data_file(f1, 1, seq=1)
    e1["snapshot-id"] = 1
    _chain(root, [(1, 1, [("m1.json", 0, [e1])])])
    t = LakeTable.from_iceberg_metadata(spark, root, str(tmp_path / "adopted"))
    assert t._meta["adopted_from"] == os.path.abspath(root)

    # foreign writer advances: v2 metadata with a second snapshot
    f2 = _parquet(os.path.join(data, "f2.parquet"),
                  "SELECT CAST(2 AS BIGINT) AS k, 'b' AS v")
    e2 = _data_file(f2, 1, seq=2)
    e2["snapshot-id"] = 2
    v2 = _chain(root, [
        (1, 1, [("m1.json", 0, [e1])]),
        (2, 2, [("m2.json", 0, [e1, e2])]),
    ])
    assert v2.endswith("v2.metadata.json")
    assert t.sync_from_iceberg_metadata(v2) == 1  # explicit one-shot pull
    assert t._meta["adopted_from"] == os.path.abspath(root)  # NOT pinned

    f3 = _parquet(os.path.join(data, "f3.parquet"),
                  "SELECT CAST(3 AS BIGINT) AS k, 'c' AS v")
    e3 = _data_file(f3, 1, seq=3)
    e3["snapshot-id"] = 3
    _chain(root, [
        (1, 1, [("m1.json", 0, [e1])]),
        (2, 2, [("m2.json", 0, [e1, e2])]),
        (3, 3, [("m3.json", 0, [e1, e2, e3])]),
    ])
    # default sync re-resolves the DIRECTORY → finds v3
    assert t.sync_from_iceberg_metadata() == 1
    assert t.read().count() == 3


def test_adopt_historical_spec_with_dropped_column_is_skipped(spark, tmp_path):
    """Spec 0 (historical) sources an id no schema generation records;
    default spec 1 resolves fine — adoption must succeed and only the
    resolvable history survives."""
    root = str(tmp_path / "foreign")
    data = os.path.join(root, "data")
    os.makedirs(data)
    f1 = _parquet(os.path.join(data, "f1.parquet"),
                  "SELECT CAST(1 AS BIGINT) AS k, 'a' AS v")
    e1 = _data_file(f1, 1, seq=1)
    e1["snapshot-id"] = 1
    specs = [
        {"spec-id": 0, "fields": [
            {"field-id": 1000, "source-id": 99, "name": "ghost",
             "transform": "identity"}]},
        {"spec-id": 1, "fields": [
            {"field-id": 1001, "source-id": 2, "name": "v",
             "transform": "identity"}]},
    ]
    mp = _chain(root, [(1, 1, [("m1.json", 0, [e1])])],
                specs=specs, default_spec=1)
    t = LakeTable.from_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    assert [tr["column"] for tr in t._meta["partition_spec"]] == ["v"]
    # historical spec 0 survives as an EMPTY spec (its one field was
    # unresolvable) rather than blocking adoption
    assert t.read().count() == 1

    # but a DEFAULT spec with an unknown source-id still fails loud
    bad = _chain(str(tmp_path / "foreign2"),
                 [(1, 1, [("m1.json", 0, [e1])])],
                 specs=[specs[0]], default_spec=0)
    with pytest.raises(ValueError, match="unknown source-id"):
        LakeTable.from_iceberg_metadata(spark, bad, str(tmp_path / "adopted2"))


def test_adopted_month_partition_prunes(spark, tmp_path):
    """VERDICT r8 item 4: hour/month/year partition values are
    deterministic epoch-unit ints in Iceberg — adoption converts them
    to the native `CAST(date_trunc(unit, ts) AS STRING)` spelling, so
    an adopted month-partitioned table PRUNES on month-equality
    predicates instead of scanning everything; a null-month file carries
    the hive null sentinel and is dropped by any comparison."""
    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        adopt_iceberg_metadata, to_iceberg_metadata)
    from iceberg_catalog_bench_spark.catalog.table import _HIVE_NULL

    t = LakeTable.create(
        spark, str(tmp_path / "src"), "k bigint, ts timestamp",
        partition_by=["months(ts)"])
    for m in (1, 2, 3):
        t.append(spark.sql(
            f"SELECT CAST({m} AS BIGINT) AS k, "
            f"TIMESTAMP'2024-0{m}-15 08:00:00' AS ts"))
    t.append(spark.sql("SELECT CAST(9 AS BIGINT) AS k, "
                       "CAST(NULL AS TIMESTAMP) AS ts"))
    # Avro manifests carry months as ints-since-1970 — the conversion
    # under test is int → native string, not a _p_* passthrough
    mp = to_iceberg_metadata(t, manifest_format="avro")
    a = adopt_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    snap = a._snapshot()
    vals = {e.partition.get("_p_months_ts") for e in snap.files}
    assert "2024-02-01 00:00:00" in vals
    assert _HIVE_NULL in vals
    pruned = a._prune_files(snap.files, "ts = '2024-02-20 10:00:00'")
    assert len(pruned) < len(snap.files)
    assert all(e.partition.get("_p_months_ts")
               in ("2024-02-01 00:00:00",) for e in pruned)
    assert sorted(r.k for r in a.read().collect()) == [1, 2, 3, 9]


def test_float_identity_partition_e_notation_dropped(spark, tmp_path):
    """Spark's CAST(double AS STRING) uses E notation outside
    [1e-3, 1e7) while Python's str does not — an adopted float identity
    value in that range would equality-prune WRONGLY, so the key is
    omitted (never-prune); in-range values keep the shared spelling."""
    root = str(tmp_path / "foreign")
    data = os.path.join(root, "data")
    os.makedirs(data)
    f1 = _parquet(os.path.join(data, "f1.parquet"),
                  "SELECT CAST(1 AS BIGINT) AS k, 'a' AS v")
    f2 = _parquet(os.path.join(data, "f2.parquet"),
                  "SELECT CAST(2 AS BIGINT) AS k, 'b' AS v")
    e1 = _data_file(f1, 1, seq=1, extra={"partition": {"w": 1e8}})
    e2 = _data_file(f2, 1, seq=1, extra={"partition": {"w": 5.0}})
    e1["snapshot-id"] = 1
    e2["snapshot-id"] = 1
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "v", "required": False, "type": "string"},
        {"id": 3, "name": "w", "required": False, "type": "double"},
    ]}
    mp = _chain(root, [(1, 1, [("m1.json", 0, [e1, e2])])],
                schemas=[schema], last_column_id=3,
                specs=[{"spec-id": 0, "fields": [
                    {"field-id": 1000, "source-id": 3, "name": "w",
                     "transform": "identity"}]}])
    t = LakeTable.from_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    parts = {e.path: e.partition for e in t._snapshot().files}
    assert parts[f1] == {}                              # 1e8: dropped
    assert parts[f2] == {"_p_identity_w": "5.0"}        # in-range: kept
    # the dropped key degrades to never-prune: f1 (which really holds
    # w=1e8) SURVIVES the predicate; f2 ("5.0") is legitimately pruned
    kept = t._prune_files(t._snapshot().files, "w = 100000000.0")
    assert [e.path for e in kept] == [f1]


def test_directory_resolution_objectstore_metadata_naming(spark, tmp_path):
    """Object-store catalogs name metadata files
    NNNNN-<uuid>.metadata.json (no version-hint, no vN) — directory
    adoption must pick the highest sequence number."""
    root = str(tmp_path / "foreign")
    data = os.path.join(root, "data")
    os.makedirs(data)
    f1 = _parquet(os.path.join(data, "f1.parquet"),
                  "SELECT CAST(1 AS BIGINT) AS k, 'a' AS v")
    e1 = _data_file(f1, 1, seq=1)
    e1["snapshot-id"] = 1
    mp = _chain(root, [(1, 1, [("m1.json", 0, [e1])])])
    meta_dir = os.path.dirname(mp)
    # re-spell the chain the object-store way: two generations, the
    # higher one current (v1.metadata.json removed)
    with open(mp) as fh:
        md = json.load(fh)
    os.remove(mp)
    stale = dict(md, **{"current-snapshot-id": -1, "snapshots": []})
    u = "0f0e0d0c-0b0a-0908-0706-050403020100"
    with open(os.path.join(meta_dir, f"00001-{u}.metadata.json"), "w") as fh:
        json.dump(stale, fh)
    with open(os.path.join(meta_dir, f"00002-{u}.metadata.json"), "w") as fh:
        json.dump(md, fh)
    t = LakeTable.from_iceberg_metadata(spark, root,
                                        str(tmp_path / "adopted"))
    assert t._meta["current_snapshot_id"] == 1
    assert t.read().count() == 1


def test_adopt_format_version_1_chain(spark, tmp_path):
    """Real older Iceberg tables are format-version 1: legacy singular
    `schema` / flat `partition-spec` spellings, no sequence numbers,
    no content field anywhere (data files only). Adoption normalizes
    the legacy spellings and upgrades — continued DML writes v2
    semantics, like Iceberg's own upgrade path. The manifest here is a
    REAL Avro OCF whose writer schema simply LACKS the v2 fields, the
    way a v1 writer's does."""
    from iceberg_catalog_bench_spark.catalog.avro_ocf import write_ocf

    root = str(tmp_path / "foreign")
    data = os.path.join(root, "data")
    meta = os.path.join(root, "metadata")
    os.makedirs(data), os.makedirs(meta)
    f1 = _parquet(os.path.join(data, "f1.parquet"),
                  "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a'), "
                  "(CAST(2 AS BIGINT), 'b')) t(k, v)")
    man = os.path.join(meta, "m-1.avro")
    v1_entry_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string",
                     "field-id": 101},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102", "fields": []},
                     "field-id": 102},
                    {"name": "record_count", "type": "long",
                     "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                ]}, "field-id": 2},
        ],
    }
    write_ocf(man, v1_entry_schema, [{
        "status": 1, "snapshot_id": 7, "data_file": {
            "file_path": f1, "file_format": "PARQUET", "partition": {},
            "record_count": 2, "file_size_in_bytes": os.path.getsize(f1),
        }}], metadata={"format-version": "1", "content": "data"})
    ml = os.path.join(meta, "sl-7.json")
    with open(ml, "w") as fh:
        json.dump({"manifests": [{
            "manifest-path": man,
            "manifest-length": os.path.getsize(man)}]}, fh)
    mp = os.path.join(meta, "v1.metadata.json")
    with open(mp, "w") as fh:
        json.dump({
            "format-version": 1,
            "table-uuid": "00000000-0000-0000-0000-0000000000v1",
            "location": root, "last-updated-ms": 1_700_000_000_000,
            "last-column-id": 2,
            # legacy spellings: singular schema, flat partition-spec
            "schema": SCHEMA,
            "partition-spec": [],
            "properties": {}, "current-snapshot-id": 7,
            "snapshots": [{"snapshot-id": 7,
                           "timestamp-ms": 1_700_000_000_000,
                           "manifest-list": ml,
                           "summary": {"operation": "append"}}],
        }, fh)
    t = LakeTable.from_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
        (1, "a"), (2, "b")]
    # upgraded: continued DML is v2-native
    t.append(spark.createDataFrame([(3, "c")], "k bigint, v string"))
    assert t.read().count() == 3
    assert t._meta["format_version"] == 2

    # v3+ still refuses loudly
    bad = dict(json.load(open(mp)), **{"format-version": 3})
    mp3 = os.path.join(meta, "v3.metadata.json")
    with open(mp3, "w") as fh:
        json.dump(bad, fh)
    with pytest.raises(ValueError, match="format-version"):
        LakeTable.from_iceberg_metadata(spark, mp3,
                                        str(tmp_path / "adopted3"))


def test_export_emits_name_mapping_property(spark, tmp_path):
    """Spark-written parquet has no embedded Iceberg field ids; the
    export must carry the spec's `schema.name-mapping.default`
    property so a real Iceberg runtime can resolve files by name —
    including every HISTORICAL spelling (files written before a rename
    resolve through their old column name)."""
    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        to_iceberg_metadata)

    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint, name string")
    t.append(spark.createDataFrame([(1, "a")], "k bigint, name string"))
    t.rename_column("name", "label")
    mp = to_iceberg_metadata(t)
    with open(mp) as fh:
        md = json.load(fh)
    mapping = {m["field-id"]: m["names"]
               for m in json.loads(
                   md["properties"]["schema.name-mapping.default"])}
    assert mapping[1] == ["k"]
    assert mapping[2] == ["label", "name"]  # both spellings resolve


def test_bound_binary_serialization_spec_vectors():
    """Iceberg binary single-value serialization (spec appendix D):
    encode/decode are inverses, hand-computed byte vectors pin the
    wire format, and widened columns decode their historical
    narrow-width bounds."""
    import struct

    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        _decode_bound, _encode_bound)

    for v, t in [(5, "int"), (5, "long"), (2.5, "float"), (2.5, "double"),
                 ("2024-01-05", "date"),
                 ("2024-01-05 12:00:00", "timestamptz"),
                 ("2024-01-05 12:00:00.123456", "timestamp"),
                 ("abc", "string"), (True, "boolean"),
                 ("123.45", "decimal(10,2)"), ("-0.07", "decimal(4,2)")]:
        assert _decode_bound(_encode_bound(v, t), t) == v, (v, t)
    # hand-computed vectors: little-endian int, IEEE double, epoch date
    assert _encode_bound(1, "int") == b"\x01\x00\x00\x00"
    assert _encode_bound(1.0, "double") == b"\x00\x00\x00\x00\x00\x00\xf0\x3f"
    assert _encode_bound("1970-01-02", "date") == b"\x01\x00\x00\x00"
    assert _decode_bound(b"\x2a\x00\x00\x00\x00\x00\x00\x00", "long") == 42
    # decimal: minimal big-endian two's complement of the unscaled value
    assert _encode_bound("123.45", "decimal(10,2)") == b"\x30\x39"
    # widening tolerance: pre-widening 4-byte payloads under the NEW type
    assert _decode_bound(struct.pack("<i", 7), "long") == 7
    assert _decode_bound(struct.pack("<f", 1.5), "double") == 1.5
    # non-comparable types are omitted, never wrong
    assert _decode_bound(b"\x00" * 16, "uuid") is None
    assert _decode_bound(b"\x01", "binary") is None


def test_partition_value_conversions_are_inverses():
    """Property: adoption's Iceberg-int → native-string conversion and
    export's native-string → Iceberg-int conversion are exact inverses
    for day/hour/month/year over years 1–9999."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        _adopt_partition, _avro_partition_value)
    from iceberg_catalog_bench_spark.catalog.transforms import Transform

    spec_fields = {"p": {"name": "p", "source-id": 1, "transform": None}}
    names_by_id = {1: "ts"}
    types_by_id = {1: "timestamptz"}
    first = (datetime.date(1, 1, 1) - datetime.date(1970, 1, 1)).days
    last = (datetime.date(9999, 12, 31) - datetime.date(1970, 1, 1)).days

    @settings(max_examples=300, deadline=None)
    @given(day=st.integers(min_value=first, max_value=last),
           hour=st.integers(min_value=0, max_value=23),
           tr=st.sampled_from(["day", "hour", "month", "year"]))
    def roundtrip(day, hour, tr):
        v = {"day": day, "hour": day * 24 + hour,
             "month": (day - first) % (9999 * 12) + (1 - 1970) * 12,
             "year": (day - first) % 9999 + 1 - 1970}[tr]
        sf = {"p": dict(spec_fields["p"], transform=tr)}
        native = _adopt_partition({"p": v}, sf, names_by_id, types_by_id)
        [(key, sval)] = native.items()
        plural = {"day": "days", "hour": "hours",
                  "month": "months", "year": "years"}[tr]
        assert key == f"_p_{plural}_ts"
        back = _avro_partition_value(Transform(plural, "ts"), sval,
                                     "timestamptz")
        assert back == v, (tr, v, sval, back)

    roundtrip()


def test_adopted_equality_delete_semantics_match_reference_model(
        spark, tmp_path_factory):
    """Property: for RANDOM foreign chains — appends of keyed rows and
    equality deletes at arbitrary sequence numbers — the adopted
    table's read equals an independent Python replay of Iceberg's
    rule: an equality delete retracts a row iff the row's data file
    has a STRICTLY smaller data sequence number and the key matches."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # each step: ("append", [keys]) or ("delete", [keys]); seq = 1+index
    steps_strategy = st.lists(
        st.one_of(
            st.tuples(st.just("append"),
                      st.lists(st.integers(0, 9), min_size=1, max_size=4)),
            st.tuples(st.just("delete"),
                      st.lists(st.integers(0, 9), min_size=1, max_size=3,
                               unique=True)),
        ),
        min_size=1, max_size=6,
    ).filter(lambda steps: any(op == "append" for op, _ in steps))

    counter = iter(range(10**9))

    @settings(max_examples=12, deadline=None)
    @given(steps=steps_strategy)
    def check(steps):
        root = str(tmp_path_factory.mktemp("prop-chain"))
        data = os.path.join(root, "data")
        os.makedirs(data)
        entries, rows_model = [], []  # model: (uid, key, file_seq)
        for i, (op, keys) in enumerate(steps):
            seq = i + 1
            if op == "append":
                uids = [next(counter) for _ in keys]
                vals = ", ".join(
                    f"(CAST({u} AS BIGINT), CAST({k} AS BIGINT))"
                    for u, k in zip(uids, keys))
                f = _parquet(os.path.join(data, f"f{i}.parquet"),
                             f"SELECT * FROM (VALUES {vals}) t(uid, k)")
                e = _data_file(f, len(keys), seq=seq)
                e["snapshot-id"] = i + 1
                entries.append(e)
                rows_model += [(u, k, seq) for u, k in zip(uids, keys)]
            else:
                vals = ", ".join(f"(CAST({k} AS BIGINT))" for k in keys)
                f = _parquet(os.path.join(data, f"d{i}.parquet"),
                             f"SELECT * FROM (VALUES {vals}) t(k)")
                e = _data_file(f, len(keys), seq=seq, content=2,
                               extra={"equality-ids": [2]})
                e["snapshot-id"] = i + 1
                entries.append(e)
                # the model applies the strict-smaller rule
                rows_model = [
                    (u, k, fs) for (u, k, fs) in rows_model
                    if not (k in keys and fs < seq)]
        # one final snapshot referencing everything (cumulative live set)
        schema = {"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "uid", "required": False, "type": "long"},
            {"id": 2, "name": "k", "required": False, "type": "long"},
        ]}
        manifests = [(f"m{j}.json", e["data-file"]["content"] and 1 or 0,
                      [e]) for j, e in enumerate(entries)]
        mp = _chain(root, [(len(steps), len(steps), manifests)],
                    schemas=[schema])
        t = LakeTable.from_iceberg_metadata(
            spark, mp, str(tmp_path_factory.mktemp("prop-adopt")))
        got = sorted((r["uid"], r["k"]) for r in t.read().collect())
        want = sorted((u, k) for (u, k, _fs) in rows_model)
        assert got == want, (steps, got, want)

    check()


def test_validate_iceberg_metadata_reports_everything(spark, tmp_path):
    """The adoption preflight lists every problem in one pass instead
    of failing one error at a time: a clean chain (either
    serialization) returns no findings; a sabotaged chain reports the
    dangling ref, the missing data file, the unresolvable equality id,
    the manifest-length drift and the bucket degradation together."""
    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        validate_iceberg_metadata)

    root = str(tmp_path / "foreign")
    data = os.path.join(root, "data")
    os.makedirs(data)
    f1 = _parquet(os.path.join(data, "f1.parquet"),
                  "SELECT CAST(1 AS BIGINT) AS k, 'a' AS v")
    f2 = _parquet(os.path.join(data, "f2.parquet"),
                  "SELECT CAST(2 AS BIGINT) AS k, 'b' AS v")
    eq = _parquet(os.path.join(data, "eq.parquet"),
                  "SELECT CAST(1 AS BIGINT) AS k")
    e1 = _data_file(f1, 1, seq=1)
    e1["snapshot-id"] = 1
    e2 = _data_file(f2, 1, seq=2)
    e2["snapshot-id"] = 2
    ed = _data_file(eq, 1, seq=2, content=2, extra={"equality-ids": [1]})
    ed["snapshot-id"] = 2
    mp = _chain(root, [
        (1, 1, [("m1.json", 0, [e1])]),
        (2, 2, [("m2.json", 0, [e1, e2]), ("d2.json", 1, [ed])]),
    ])
    assert validate_iceberg_metadata(mp) == []

    # sabotage: dangling ref, vanished data file, alien equality id,
    # stale manifest-length — plus a decimal-truncate spec field,
    # which is PORTABLE since r11 (native itruncate) and must NOT flag
    md = json.load(open(mp))
    md["refs"] = {"ghost": {"snapshot-id": 999, "type": "tag"}}
    md["schemas"][0]["fields"].append(
        {"id": 9, "name": "w", "required": False, "type": "decimal(9, 2)"})
    md["partition-specs"][0]["fields"].append(
        {"field-id": 1000, "source-id": 9, "name": "w_trunc",
         "transform": "truncate[8]"})
    with open(mp, "w") as fh:
        json.dump(md, fh)
    os.remove(f2)
    d2 = json.load(open(os.path.join(root, "metadata", "d2.json")))
    d2["entries"][0]["data-file"]["equality-ids"] = [77]
    with open(os.path.join(root, "metadata", "d2.json"), "w") as fh:
        json.dump(d2, fh)
    m1 = os.path.join(root, "metadata", "m1.json")
    with open(m1, "a") as fh:
        fh.write(" ")  # drift the real size past the declared length

    codes = {f["code"] for f in validate_iceberg_metadata(mp)}
    assert codes == {"dangling-ref", "missing-data-file",
                     "unresolvable-equality-id", "manifest-length-drift"}
    severities = {f["code"]: f["severity"]
                  for f in validate_iceberg_metadata(mp)}
    assert severities["missing-data-file"] == "error"
    assert severities["manifest-length-drift"] == "warning"

    # the SQL spelling: CALL system.validate_table(metadata_file => …)
    from iceberg_catalog_bench_spark.engine import SqlEngine
    engine = SqlEngine(spark, str(tmp_path / "wh"))
    rows = engine.execute(
        f"CALL system.validate_table(metadata_file => '{mp}')")[-1].rows
    assert {r["code"] for r in rows} == codes
    # a clean avro chain validates clean through SQL too
    from tests.test_iceberg_adopt import (
        _avroize_chain, _write_foreign_chain)
    amp = _avroize_chain(_write_foreign_chain(str(tmp_path / "f2")))
    rows = engine.execute(
        f"CALL system.validate_table(metadata_file => '{amp}')")[-1].rows
    assert [r["code"] for r in rows] == ["clean"]
    # a REGISTERED table validates its recorded adoption source
    engine.execute("CREATE NAMESPACE vns")
    engine.execute("CALL system.register_table(table => 'vns.t', "
                   f"metadata_file => '{amp}')")
    rows = engine.execute(
        "CALL system.validate_table(table => 'vns.t')")[-1].rows
    assert [r["code"] for r in rows] == ["clean"]

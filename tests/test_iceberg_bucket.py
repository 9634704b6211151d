"""Iceberg-spec murmur3 bucket transform (table spec Appendix B) and
the interop arc it closes (VERDICT r9 item 1):

* the hash itself, pinned against the spec's own example vectors —
  no reader/writer circularity;
* the vectorized numpy lane path == the scalar encoder;
* native write clustering under ``ibucket`` produces exactly the
  murmur3 ordinals, and point lookups PRUNE;
* adoption converts foreign ``bucket[N]`` partition values into the
  prunable native form (the reference's flagship tables bucket their
  tenant/user keys — ICEBERG-Interoperability-Test-Spec.md:50,
  blob_dfs/blob-dfs_bench.py:72 — so every adopted reference-shaped
  table hits this on each point lookup);
* export is spec-true for ``ibucket`` (values a conforming reader
  prunes correctly) and emits ``void`` for the legacy xxhash64
  ``bucket`` (a conforming reader scans — never silently wrong-prunes);
* the ``write.bucket-transform=iceberg`` property gate.
"""

import datetime
import decimal
import json
import os
import uuid

import duckdb
import pytest

from iceberg_catalog_bench_spark.catalog.iceberg_bucket import (
    iceberg_bucket,
    iceberg_hash,
    murmur3_x86_32,
)
from iceberg_catalog_bench_spark.catalog.iceberg_export import (
    adopt_iceberg_metadata,
    to_iceberg_metadata,
    validate_iceberg_metadata,
)
from iceberg_catalog_bench_spark.catalog.table import LakeTable
from iceberg_catalog_bench_spark.catalog.transforms import parse_spec


# --- the hash, against the spec's published vectors -----------------

_WIDE = decimal.Decimal("12345678901234567890123456789012.345678")
# Iceberg table spec, Appendix B "Bucket Transform Details" examples.
_SPEC_VECTORS = [
    (34, 2017239379),                                   # int hashed as long
    (34**10, None),                                     # (coverage: big long)
    ("iceberg", 1210000089),
    (datetime.date(2017, 11, 16), -653330422),
    (datetime.time(22, 31, 8), -662762989),
    (datetime.datetime(2017, 11, 16, 22, 31, 8), -2047944441),
    (decimal.Decimal("14.20"), -500754589),
    (uuid.UUID("f79c3e09-677c-4bbd-a479-3f349cb785e7"), 1488055340),
    (bytes([0, 1, 2, 3]), -188683207),
    # not in Appendix B: murmur3 over the minimum-length two's
    # complement of a 38-digit unscaled value, exact past 28 digits
    (_WIDE, 1808226235),
]


def test_spec_appendix_b_vectors():
    for val, expected in _SPEC_VECTORS:
        if expected is None:
            iceberg_hash(val)  # must not raise
            continue
        assert iceberg_hash(val) == expected, val
    # int and long hash identically (spec: int promoted to long)
    assert iceberg_hash(34) == 2017239379
    # classic public murmur3 sanity
    assert murmur3_x86_32(b"") == 0
    assert murmur3_x86_32(b"hello") & 0xFFFFFFFF == 0x248BFA47


def test_bucket_mod_and_nulls_and_refusals():
    # (hash & Integer.MAX_VALUE) % N — non-negative even for negative hash
    assert iceberg_bucket(datetime.date(2017, 11, 16), 16) == \
        ((-653330422 & 0x7FFFFFFF) % 16)
    assert iceberg_bucket(None, 16) is None
    with pytest.raises(TypeError):
        iceberg_bucket(1.5, 16)  # spec: no float/double bucketing
    with pytest.raises(TypeError):
        iceberg_bucket(True, 16)


def test_decimal_minimum_length_twos_complement_boundaries():
    """ADVICE r10: negative unscaled values at byte boundaries must
    encode at Java BigInteger.toByteArray() minimum length — -128 is
    the single byte 0x80, NOT 0xFF80 — or buckets diverge from a
    conforming engine."""
    cases = [
        (decimal.Decimal("-128"), b"\x80"),
        (decimal.Decimal("-1.28"), b"\x80"),        # unscaled -128
        (decimal.Decimal("-32768"), b"\x80\x00"),
        (decimal.Decimal("-129"), b"\xff\x7f"),
        (decimal.Decimal("-1"), b"\xff"),
        (decimal.Decimal("127"), b"\x7f"),
        (decimal.Decimal("128"), b"\x00\x80"),
        (decimal.Decimal("0"), b"\x00"),
        (decimal.Decimal("14.20"), (1420).to_bytes(2, "big")),
    ]
    for d, enc in cases:
        assert iceberg_hash(d) == murmur3_x86_32(enc), d
        # round-trip sanity: the encoding IS the unscaled value
        unscaled = int(d.scaleb(-d.as_tuple().exponent))
        assert int.from_bytes(enc, "big", signed=True) == unscaled, d


def test_wide_decimal_literal_scan_matches_filter(spark, tmp_path):
    """``scan(where)`` equals ``read().filter(where)`` for a wide
    decimal literal, whether the file's bucket was recorded from the
    exact hash or, as before the hash was exact, from the value
    rounded to 28 digits (buckets 11 and 15 of 16)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), "d decimal(38,6), n int",
                         partition_by=["ibucket(16, d)"])
    t.append(spark.createDataFrame([(_WIDE, 1)], "d decimal(38,6), n int"))
    [first] = t._meta["snapshots"][-1]["files"]
    t.append(spark.createDataFrame(
        [(decimal.Decimal("1.5"), 2), (decimal.Decimal("-7.25"), 3),
         (decimal.Decimal("99"), 4)], "d decimal(38,6), n int"))
    assert (iceberg_bucket(_WIDE, 16), (2000495951 & 0x7FFFFFFF) % 16) == \
        (11, 15)
    [wide] = [f for f in t._meta["snapshots"][-1]["files"]
              if f["path"] == first["path"]]
    assert wide["partition"]["_p_ibucket_d"] == "11"
    for recorded in ("11", "15"):
        wide["partition"]["_p_ibucket_d"] = recorded
        t.__dict__.pop("_tv_cache", None)
        for where in (f"d = {_WIDE}", f"d IN ({_WIDE}, 1.5)"):
            assert sorted(r.n for r in t.scan(where).collect()) == sorted(
                r.n for r in t.read().filter(where).collect()), \
                (recorded, where)


def test_tz_aware_datetime_hashes_utc_instant():
    """ADVICE r10: an aware datetime must hash its UTC instant (spec
    timestamptz = micros from epoch UTC), not its wall-clock — and via
    exact integer micros, not float seconds."""
    naive = datetime.datetime(2017, 11, 16, 22, 31, 8)
    utc = naive.replace(tzinfo=datetime.timezone.utc)
    plus5 = utc.astimezone(datetime.timezone(datetime.timedelta(hours=5)))
    assert iceberg_hash(utc) == -2047944441        # the spec vector
    assert iceberg_hash(plus5) == -2047944441      # same instant
    # wall-clock 22:31:08 at +05:00 is a DIFFERENT instant
    wall = naive.replace(tzinfo=datetime.timezone(datetime.timedelta(hours=5)))
    assert iceberg_hash(wall) != -2047944441
    # exact integer micros far from epoch (float64 seconds would wobble)
    far = datetime.datetime(2286, 11, 20, 17, 46, 40, 1)
    us = (far - datetime.datetime(1970, 1, 1)) // \
        datetime.timedelta(microseconds=1)
    assert iceberg_hash(far) == iceberg_hash(us)


def test_vectorized_lane_path_matches_scalar():
    import numpy as np

    from iceberg_catalog_bench_spark.catalog.iceberg_bucket import (
        _hash_longs_numpy,
    )

    rng = np.random.default_rng(7)
    vals = np.concatenate([
        rng.integers(-2**62, 2**62, size=500, dtype=np.int64),
        np.array([0, 1, -1, 34, 2**62, -(2**62)], dtype=np.int64),
    ])
    got = _hash_longs_numpy(vals)
    for v, h in zip(vals.tolist(), got.tolist()):
        signed = h - (1 << 32) if h >= (1 << 31) else h
        assert signed == iceberg_hash(v), v


# --- native write clustering + pruning -------------------------------


def test_ibucket_write_clustering_and_pruning(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), "k bigint, name string",
        partition_by=["ibucket(4, k)"])
    rows = [(i, f"n{i}") for i in range(32)] + [(None, "nullrow")]
    t.append(spark.createDataFrame(rows, "k bigint, name string"))
    snap = t._snapshot(t._meta["current_snapshot_id"])
    # every file's recorded partition value is the murmur3 ordinal of
    # the keys it holds (or the null sentinel)
    seen = {f.partition.get("_p_ibucket_k") for f in snap.files}
    expected = {str(iceberg_bucket(i, 4)) for i in range(32)}
    assert expected <= seen
    # point lookup prunes to the one matching bucket
    pruned = t._prune_files(snap.files, "k = 7")
    assert 0 < len(pruned) < len(snap.files)
    b7 = str(iceberg_bucket(7, 4))
    assert all(f.partition.get("_p_ibucket_k") == b7 for f in pruned)
    assert [r.name for r in t.read().where("k = 7").collect()] == ["n7"]


def test_ibucket_string_and_date_columns(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "s"), "s string, d date, v int",
        partition_by=["iceberg_bucket(8, s)"])
    t.append(spark.createDataFrame(
        [("iceberg", datetime.date(2017, 11, 16), 1),
         ("hello", datetime.date(2020, 1, 1), 2)],
        "s string, d date, v int"))
    snap = t._snapshot(t._meta["current_snapshot_id"])
    got = sorted(f.partition["_p_ibucket_s"] for f in snap.files)
    assert got == sorted(str(iceberg_bucket(x, 8))
                         for x in ("iceberg", "hello"))
    # prune-literal evaluation (1-row Spark eval through the pandas
    # UDF) agrees with the pure-Python spec encoder
    tr = parse_spec(["ibucket(8, s)"])[0]
    assert t._transform_value(tr, "iceberg") == \
        str(iceberg_bucket("iceberg", 8))

    td = LakeTable.create(
        spark, str(tmp_path / "d"), "d date, v int",
        partition_by=["ibucket(16, d)"])
    td.append(spark.createDataFrame(
        [(datetime.date(2017, 11, 16), 1)], "d date, v int"))
    sd = td._snapshot(td._meta["current_snapshot_id"])
    assert [f.partition["_p_ibucket_d"] for f in sd.files] == \
        [str(iceberg_bucket(datetime.date(2017, 11, 16), 16))]


def test_property_gate_rewrites_bucket_to_ibucket(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "g"), "k bigint, v string",
        partition_by=["bucket(4, k)"],
        properties={"write.bucket-transform": "iceberg"})
    assert [s["transform"] for s in t._meta["partition_spec"]] == ["ibucket"]


# --- the adoption arc: foreign bucket values prune -------------------


def _bucketed_foreign_chain(root: str, n_buckets: int = 4) -> str:
    """DuckDB writes one parquet per murmur3 bucket of user_id in
    0..39; the metadata declares bucket[N] with the true murmur3
    partition values — exactly what a conforming engine would write."""
    data, metad = os.path.join(root, "data"), os.path.join(root, "metadata")
    os.makedirs(data), os.makedirs(metad)
    con = duckdb.connect()
    entries = []
    for b in range(n_buckets):
        ids = [i for i in range(40) if iceberg_bucket(i, n_buckets) == b]
        p = os.path.join(data, f"b{b}.parquet")
        con.execute(
            f"COPY (SELECT UNNEST({ids}::BIGINT[]) AS user_id, "
            f"'u' || UNNEST({ids}) AS name) TO '{p}' (FORMAT PARQUET)")
        entries.append({"status": 1, "snapshot-id": 101, "data-file": {
            "content": 0, "file-path": p, "file-format": "PARQUET",
            "partition": {"user_id_bucket": b}, "data-sequence-number": 1,
            "record-count": len(ids),
            "file-size-in-bytes": os.path.getsize(p)}})
    con.close()
    man = os.path.join(metad, "m1.json")
    json.dump({"partition-spec-id": 0, "entries": entries}, open(man, "w"))
    ml = os.path.join(metad, "sl1.json")
    json.dump({"manifests": [{
        "manifest-path": man, "manifest-length": os.path.getsize(man),
        "partition-spec-id": 0, "content": 0, "sequence-number": 1,
        "added-snapshot-id": 101}]}, open(ml, "w"))
    mp = os.path.join(metad, "v1.metadata.json")
    json.dump({
        "format-version": 2, "location": root, "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "user_id", "required": False, "type": "long"},
            {"id": 2, "name": "name", "required": False, "type": "string"}]}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"field-id": 1000, "source-id": 1, "name": "user_id_bucket",
             "transform": "bucket[4]"}]}],
        "last-partition-id": 1000, "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {}, "current-snapshot-id": 101,
        "snapshots": [{"snapshot-id": 101, "sequence-number": 1,
                       "timestamp-ms": 1_700_000_001_000, "schema-id": 0,
                       "manifest-list": ml,
                       "summary": {"operation": "append"}}],
    }, open(mp, "w"))
    return mp


def test_adopted_bucket_chain_prunes_and_continues(spark, tmp_path):
    mp = _bucketed_foreign_chain(str(tmp_path / "foreign"))
    t = adopt_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    assert [s["transform"] for s in t._meta["partition_spec"]] == ["ibucket"]
    snap = t._snapshot(t._meta["current_snapshot_id"])
    assert len(snap.files) == 4
    # the headline: a point lookup on an adopted bucket table SKIPS
    # the other buckets' files
    pruned = t._prune_files(snap.files, "user_id = 7")
    assert len(pruned) == 1
    assert pruned[0].partition["_p_ibucket_user_id"] == \
        str(iceberg_bucket(7, 4))
    assert [tuple(r) for r in t.read().where("user_id = 7").collect()] == \
        [(7, "u7")]
    # continued DML clusters into the SAME murmur3 layout
    t.append(spark.createDataFrame([(100, "u100")],
                                   "user_id bigint, name string"))
    snap2 = t._snapshot(t._meta["current_snapshot_id"])
    new = [f for f in snap2.files
           if f.path not in {g.path for g in snap.files}]
    assert [f.partition["_p_ibucket_user_id"] for f in new] == \
        [str(iceberg_bucket(100, 4))]
    # preflight no longer flags bucket[N] as nonportable
    codes = {f["code"] for f in validate_iceberg_metadata(mp)}
    assert "nonportable-transform-values" not in codes


def test_adopted_bucket_null_partition_value(spark, tmp_path):
    """A foreign file holding only null-keyed rows carries partition
    value null → adopted as the native null sentinel: a point lookup
    drops it (NULL never equals a literal), a full read keeps it."""
    root = str(tmp_path / "f")
    mp = _bucketed_foreign_chain(root)
    data = os.path.join(root, "data")
    pn = os.path.join(data, "bnull.parquet")
    duckdb.sql("COPY (SELECT CAST(NULL AS BIGINT) AS user_id, "
               "'nullrow' AS name) TO '" + pn + "' (FORMAT PARQUET)")
    man = os.path.join(root, "metadata", "m1.json")
    doc = json.load(open(man))
    doc["entries"].append({"status": 1, "snapshot-id": 101, "data-file": {
        "content": 0, "file-path": pn, "file-format": "PARQUET",
        "partition": {"user_id_bucket": None}, "data-sequence-number": 1,
        "record-count": 1, "file-size-in-bytes": os.path.getsize(pn)}})
    json.dump(doc, open(man, "w"))
    t = adopt_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    snap = t._snapshot(t._meta["current_snapshot_id"])
    assert len(snap.files) == 5
    assert len(t._prune_files(snap.files, "user_id = 7")) == 1
    assert t.read().count() == 41


# --- the export arc: spec-true values, void for the legacy hash ------


def _conforming_reader_prune(md_path: str, literal: int):
    """Simulate a CONFORMING external Iceberg reader: bind `col =
    literal` through the default spec's transforms (murmur3 for
    bucket[N]; void never prunes) and return the kept file paths +
    every file path. Reads only the exported chain."""
    md = json.load(open(md_path))
    specs = {s["spec-id"]: s for s in md["partition-specs"]}
    spec = specs[md["default-spec-id"]]
    head = md["current-snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == head)
    mlist = json.load(open(snap["manifest-list"]))
    kept, everything = [], []
    for m in mlist["manifests"]:
        if m.get("content", 0) != 0:
            continue
        man = json.load(open(m["manifest-path"]))
        for e in man["entries"]:
            d = e["data-file"]
            everything.append(d["file-path"])
            keep = True
            for f in spec["fields"]:
                tr = f["transform"]
                part = d.get("partition") or {}
                if tr.startswith("bucket["):
                    n = int(tr[len("bucket["):-1])
                    # JSON-dialect manifests store native _p_* keys;
                    # a conforming reader of the AVRO dialect gets the
                    # typed record — both carry the same ordinals
                    stored = part.get(f["name"],
                                      part.get(f"_p_ibucket_{f['name'].rsplit('_', 1)[0]}"))
                    if stored is not None and \
                            int(stored) != iceberg_bucket(literal, n):
                        keep = False
                # void: no pruning possible — keep
            if keep:
                kept.append(d["file-path"])
    return kept, everything


def test_export_ibucket_is_spec_true(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        partition_by=["ibucket(4, k)"])
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(16)],
                                   "k bigint, v string"))
    mp = to_iceberg_metadata(t)
    md = json.load(open(mp))
    fields = {s["spec-id"]: s for s in md["partition-specs"]}[
        md["default-spec-id"]]["fields"]
    assert [f["transform"] for f in fields] == ["bucket[4]"]
    assert [f["name"] for f in fields] == ["k_bucket"]
    # a conforming reader pruning k = 7 keeps files that CONTAIN k=7
    kept, _all = _conforming_reader_prune(mp, 7)
    con = duckdb.connect()
    held = [p for p in kept if con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{p}') WHERE k = 7"
    ).fetchone()[0] > 0]
    assert held, "conforming reader pruned away the matching rows"
    # and prunes more aggressively than nothing
    assert len(kept) < len(_all)
    con.close()
    # round-trip: re-adoption prunes too
    t2 = adopt_iceberg_metadata(spark, mp, str(tmp_path / "re"))
    s2 = t2._snapshot(t2._meta["current_snapshot_id"])
    assert len(t2._prune_files(s2.files, "k = 7")) < len(s2.files)


def test_export_legacy_bucket_is_void_never_wrong_prunes(spark, tmp_path):
    """The r9 sharp edge: exported chains used to label xxhash64
    values ``bucket[N]`` — a conforming reader murmur3-hashing a
    literal could silently wrong-prune. Legacy bucket fields now
    export as ``void`` with null values: such a reader SCANS."""
    t = LakeTable.create(
        spark, str(tmp_path / "legacy"), "k bigint, v string",
        partition_by=["bucket(4, k)"])
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(16)],
                                   "k bigint, v string"))
    mp = to_iceberg_metadata(t)
    md = json.load(open(mp))
    fields = {s["spec-id"]: s for s in md["partition-specs"]}[
        md["default-spec-id"]]["fields"]
    assert [f["transform"] for f in fields] == ["void"]
    # conforming reader: void → no pruning → every k=7 row reachable
    kept, _all = _conforming_reader_prune(mp, 7)
    assert kept == _all
    # avro dialect too: partition values under void are null
    mpa = to_iceberg_metadata(t, manifest_format="avro")
    from iceberg_catalog_bench_spark.catalog import avro_ocf
    mda = json.load(open(mpa))
    head = mda["current-snapshot-id"]
    snap = next(s for s in mda["snapshots"] if s["snapshot-id"] == head)
    _, mans = avro_ocf.read_ocf(snap["manifest-list"])
    for m in mans:
        _, recs = avro_ocf.read_ocf(m["manifest_path"])
        for r in recs:
            assert r["data_file"]["partition"]["k_bucket"] is None
    # and our own adopter skips void cleanly
    t2 = adopt_iceberg_metadata(spark, mpa, str(tmp_path / "re"))
    assert t2._meta["partition_spec"] == []
    assert t2.read().count() == 16


def test_export_ibucket_avro_roundtrip(spark, tmp_path):
    """Avro-dialect export of an ibucket table carries int murmur3
    ordinals in the typed partition record; re-adoption prunes."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        partition_by=["ibucket(4, k)"])
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(16)],
                                   "k bigint, v string"))
    mp = to_iceberg_metadata(t, manifest_format="avro")
    from iceberg_catalog_bench_spark.catalog import avro_ocf
    md = json.load(open(mp))
    head = md["current-snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == head)
    _, mans = avro_ocf.read_ocf(snap["manifest-list"])
    con = duckdb.connect()
    for m in mans:
        _, recs = avro_ocf.read_ocf(m["manifest_path"])
        for r in recs:
            b = r["data_file"]["partition"]["k_bucket"]
            ks = con.execute(
                "SELECT k FROM read_parquet(?)",
                [r["data_file"]["file_path"]]).fetchall()
            assert all(iceberg_bucket(k[0], 4) == b for k in ks)
    con.close()
    t2 = adopt_iceberg_metadata(spark, mp, str(tmp_path / "re"))
    s2 = t2._snapshot(t2._meta["current_snapshot_id"])
    assert 0 < len(t2._prune_files(s2.files, "k = 7")) < len(s2.files)


# --- truncate portability (string sources are value-exact) -----------


def test_adopted_string_truncate_prunes(spark, tmp_path):
    """Iceberg truncate[W] on a STRING source keeps the first W code
    points — identical to the native transform — so adopted string
    truncate values prune; an INT-source truncate (numeric truncation)
    adopts clustering-free instead."""
    root = str(tmp_path / "f")
    data, metad = os.path.join(root, "data"), os.path.join(root, "metadata")
    os.makedirs(data), os.makedirs(metad)
    con = duckdb.connect()
    entries = []
    for pfx in ("ab", "cd"):
        p = os.path.join(data, f"{pfx}.parquet")
        con.execute(
            f"COPY (SELECT '{pfx}' || CAST(r AS VARCHAR) AS sku, "
            f"r AS qty FROM range(5) t(r)) TO '{p}' (FORMAT PARQUET)")
        entries.append({"status": 1, "snapshot-id": 7, "data-file": {
            "content": 0, "file-path": p, "file-format": "PARQUET",
            "partition": {"sku_trunc": pfx, "qty_trunc": 0},
            "data-sequence-number": 1, "record-count": 5,
            "file-size-in-bytes": os.path.getsize(p)}})
    con.close()
    man = os.path.join(metad, "m.json")
    json.dump({"partition-spec-id": 0, "entries": entries}, open(man, "w"))
    ml = os.path.join(metad, "sl.json")
    json.dump({"manifests": [{
        "manifest-path": man, "manifest-length": os.path.getsize(man),
        "partition-spec-id": 0, "content": 0, "sequence-number": 1,
        "added-snapshot-id": 7}]}, open(ml, "w"))
    mp = os.path.join(metad, "v1.metadata.json")
    json.dump({
        "format-version": 2, "location": root, "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "sku", "required": False, "type": "string"},
            {"id": 2, "name": "qty", "required": False, "type": "long"}]}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"field-id": 1000, "source-id": 1, "name": "sku_trunc",
             "transform": "truncate[2]"},
            {"field-id": 1001, "source-id": 2, "name": "qty_trunc",
             "transform": "truncate[10]"}]}],
        "last-partition-id": 1001, "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {}, "current-snapshot-id": 7,
        "snapshots": [{"snapshot-id": 7, "sequence-number": 1,
                       "timestamp-ms": 1_700_000_001_000, "schema-id": 0,
                       "manifest-list": ml,
                       "summary": {"operation": "append"}}],
    }, open(mp, "w"))
    # string AND int/long truncate are both portable now — no finding
    infos = [f for f in validate_iceberg_metadata(mp)
             if f["code"] == "nonportable-transform-values"]
    assert infos == []
    t = adopt_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    # string truncate adopts as the native transform; numeric truncate
    # as the spec-true itruncate (v - (v mod W))
    assert [(s["transform"], s["column"])
            for s in t._meta["partition_spec"]] == [
        ("truncate", "sku"), ("itruncate", "qty")]
    snap = t._snapshot(t._meta["current_snapshot_id"])
    assert sorted(f.partition.get("_p_truncate_sku")
                  for f in snap.files) == ["ab", "cd"]
    assert {f.partition.get("_p_itruncate_qty")
            for f in snap.files} == {"0"}
    pruned = t._prune_files(snap.files, "sku = 'cd3'")
    assert len(pruned) == 1
    assert [r.qty for r in t.read().where("sku = 'cd3'").collect()] == [3]


def test_export_truncate_spec_true_for_strings_void_otherwise(
        spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), "sku string, qty bigint",
        partition_by=["truncate(2, sku)", "truncate(4, qty)"])
    t.append(spark.createDataFrame(
        [("ab1", 1), ("cd2", 12345)], "sku string, qty bigint"))
    mp = to_iceberg_metadata(t)
    md = json.load(open(mp))
    fields = {s["spec-id"]: s for s in md["partition-specs"]}[
        md["default-spec-id"]]["fields"]
    assert [(f["name"], f["transform"]) for f in fields] == [
        ("sku_truncate", "truncate[2]"), ("qty_truncate", "void")]
    # avro manifests: string values verbatim, int-truncate nulls
    mpa = to_iceberg_metadata(t, manifest_format="avro")
    from iceberg_catalog_bench_spark.catalog import avro_ocf
    mda = json.load(open(mpa))
    head = mda["current-snapshot-id"]
    snap = next(s for s in mda["snapshots"] if s["snapshot-id"] == head)
    _, mans = avro_ocf.read_ocf(snap["manifest-list"])
    vals = set()
    for m in mans:
        _, recs = avro_ocf.read_ocf(m["manifest_path"])
        for r in recs:
            part = r["data_file"]["partition"]
            vals.add(part["sku_truncate"])
            assert part["qty_truncate"] is None
    assert vals == {"ab", "cd"}
    # round-trip: re-adoption keeps string truncate live and prunes
    t2 = adopt_iceberg_metadata(spark, mpa, str(tmp_path / "re"))
    assert [(s["transform"], s["column"])
            for s in t2._meta["partition_spec"]] == [("truncate", "sku")]
    s2 = t2._snapshot(t2._meta["current_snapshot_id"])
    assert 0 < len(t2._prune_files(s2.files, "sku = 'cd2'")) < len(s2.files)


def test_itruncate_native_roundtrip(spark, tmp_path):
    """Spec numeric truncate: native writes cluster by v - (v mod W)
    (floor-signed, so -7 → -100 at W=100), point lookups prune, and
    the export carries truncate[W] with long values a conforming
    reader prunes correctly; re-adoption prunes too."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        partition_by=["itruncate(100, k)"])
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in (1, 55, 155, 255, 999)] + [(-7, "neg")],
        "k bigint, v string"))
    snap = t._snapshot(t._meta["current_snapshot_id"])
    vals = {f.partition["_p_itruncate_k"] for f in snap.files}
    assert vals == {"0", "100", "200", "900", "-100"}
    pruned = t._prune_files(snap.files, "k = 155")
    assert len(pruned) == 1 and \
        pruned[0].partition["_p_itruncate_k"] == "100"
    assert [r.v for r in t.read().where("k = 155").collect()] == ["v155"]
    # export: spec-true truncate[100] with numeric values
    mp = to_iceberg_metadata(t)
    md = json.load(open(mp))
    fields = {s["spec-id"]: s for s in md["partition-specs"]}[
        md["default-spec-id"]]["fields"]
    assert [(f["name"], f["transform"]) for f in fields] == [
        ("k_truncate", "truncate[100]")]
    t2 = adopt_iceberg_metadata(spark, mp, str(tmp_path / "re"))
    assert [(s["transform"], s["column"])
            for s in t2._meta["partition_spec"]] == [("itruncate", "k")]
    s2 = t2._snapshot(t2._meta["current_snapshot_id"])
    assert 0 < len(t2._prune_files(s2.files, "k = 155")) < len(s2.files)


def test_compaction_preserves_ibucket_clustering(spark, tmp_path):
    """rewrite_data_files on an adopted murmur3-bucketed table rewrites
    through the live spec: compacted files carry `_p_ibucket_*` values
    and point lookups still prune afterwards."""
    mp = _bucketed_foreign_chain(str(tmp_path / "f"))
    t = adopt_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    t.append(spark.createDataFrame(
        [(100, "u100"), (101, "u101")], "user_id bigint, name string"))
    before = t.read().count()
    t.rewrite_data_files(min_input_files=2)
    snap = t._snapshot(t._meta["current_snapshot_id"])
    assert t.read().count() == before
    # every live file records its murmur3 ordinal (or null sentinel)
    assert all("_p_ibucket_user_id" in f.partition for f in snap.files)
    pruned = t._prune_files(snap.files, "user_id = 7")
    assert 0 < len(pruned) < len(snap.files)
    assert [tuple(r) for r in
            t.read().where("user_id = 7").collect()] == [(7, "u7")]


def test_inlist_partition_and_stats_pruning(spark, tmp_path):
    """`col IN (…)` prunes like a disjunction of equalities: a bucket
    table keeps exactly the member buckets' files, and stats pruning
    keeps a file only when SOME member falls inside its [min, max]."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), "k bigint, v string",
        partition_by=["ibucket(8, k)"])
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], "k bigint, v string"))
    snap = t._snapshot(t._meta["current_snapshot_id"])
    kept = t._prune_files(snap.files, "k IN (3, 17)")
    want = {str(iceberg_bucket(3, 8)), str(iceberg_bucket(17, 8))}
    assert {f.partition["_p_ibucket_k"] for f in kept} == want
    assert len(kept) < len(snap.files)
    got = sorted(r.k for r in t.read().where("k IN (3, 17)").collect())
    assert got == [3, 17]
    # string members + NULL-only files drop (IN is never true for NULL)
    t2 = LakeTable.create(
        spark, str(tmp_path / "s"), "s string, n int",
        partition_by=["identity(s)"])
    t2.append(spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3), (None, 4)], "s string, n int"))
    s2 = t2._snapshot(t2._meta["current_snapshot_id"])
    kept2 = t2._prune_files(s2.files, "s IN ('a', 'c')")
    assert {f.partition["_p_identity_s"] for f in kept2} == {"a", "c"}
    # stats-only pruning (unpartitioned): file ranges [0..9], [100..109]
    t3 = LakeTable.create(spark, str(tmp_path / "u"), "k bigint")
    t3.append(spark.createDataFrame([(i,) for i in range(10)], "k bigint"))
    t3.append(spark.createDataFrame(
        [(i,) for i in range(100, 110)], "k bigint"))
    s3 = t3._snapshot(t3._meta["current_snapshot_id"])
    kept3 = t3._prune_files(s3.files, "k IN (105, 108)")
    assert len(kept3) < len(s3.files)
    assert all(f.stats["k"][0] >= 100 for f in kept3)


def test_transform_value_driver_path_matches_spark_eval(spark, tmp_path):
    """_transform_value's driver-side fast path for ibucket/itruncate
    must render EXACTLY what the Spark-eval path (and therefore the
    pandas-UDF write path) renders — for ints, strings and dates —
    and ambiguous types must still take the Spark eval."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        "k bigint, s string, d date, ts timestamp",
        partition_by=["ibucket(8, k)"])
    ib_k = parse_spec(["ibucket(8, k)"])[0]
    ib_s = parse_spec(["ibucket(8, s)"])[0]
    ib_d = parse_spec(["ibucket(8, d)"])[0]
    it_k = parse_spec(["itruncate(100, k)"])[0]

    def spark_eval(tr, val, typ, col):
        from iceberg_catalog_bench_spark.catalog.transforms import (
            transform_expr,
        )
        from pyspark.sql import functions as F

        return (spark.range(1)
                .select(F.lit(val).cast(typ).alias(col))
                .select(transform_expr(tr, typ).cast("string").alias("v"))
                .collect()[0]["v"])

    for val in (0, 7, -7, 34, 12345678901, 7.0):
        assert t._transform_value(ib_k, val) == spark_eval(
            ib_k, int(val), "bigint", "k"), val
        t._tv_cache.clear()
    for val in ("iceberg", "hello", ""):
        assert t._transform_value(ib_s, val) == spark_eval(
            ib_s, val, "string", "s"), val
        t._tv_cache.clear()
    assert t._transform_value(ib_d, "2017-11-16") == spark_eval(
        ib_d, "2017-11-16", "date", "d")
    t._tv_cache.clear()
    for val in (155, -7, 0, 99, 100):
        assert t._transform_value(it_k, val) == spark_eval(
            it_k, val, "bigint", "k"), val
        t._tv_cache.clear()
    # timestamp literal: no fast path — must still resolve via Spark
    ib_ts = parse_spec(["ibucket(8, ts)"])[0]
    v = t._transform_value(ib_ts, "2024-01-05 12:00:00")
    assert v is not None and v.isdigit()

"""Round 12: Puffin statistics files (VERDICT r11 item 5).

``ANALYZE`` NDV/null stats export as a spec-shaped Puffin file
(apache-datasketches-theta-v1 blobs) referenced from metadata.json's
``statistics``; adoption reads the sketches back into ``column_stats``
within sketch tolerance, and the external-reader walk tolerates their
absence entirely."""

import json
import os

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_bench_spark.catalog import LakeTable
from iceberg_catalog_bench_spark.catalog.iceberg_export import (
    adopt_iceberg_metadata,
    read_via_iceberg_metadata,
    to_iceberg_metadata,
    validate_iceberg_metadata,
)
from iceberg_catalog_bench_spark.catalog.puffin import (
    MAGIC,
    murmur3_x64_128,
    read_puffin,
    theta_estimate,
    theta_sketch_bytes,
    write_puffin,
)


@pytest.mark.spark_free
def test_murmur3_x64_128_canonical_vectors():
    """The hash DataSketches seeds with, pinned to the canonical
    public test vectors (little-endian longs)."""
    assert murmur3_x64_128(b"") == (0, 0)
    assert murmur3_x64_128(b"hello") == (
        0xCBD8A7B341BD9B02, 0x5B1E906A48AE1D19)
    assert murmur3_x64_128(
        b"The quick brown fox jumps over the lazy dog") == (
        0xE34BBC7BBC071B6C, 0x7A433CA9C49A9347)


@pytest.mark.spark_free
@pytest.mark.parametrize("ndv", [0, 1, 7, 4096, 4097, 50_000, 12_345_678])
def test_theta_sketch_estimate_roundtrip(ndv):
    """Synthesized compact sketches are self-consistent: estimate ==
    ndv to double precision (exact mode below 4096 retained, the
    retained/theta identity above)."""
    est = theta_estimate(theta_sketch_bytes(ndv))
    assert abs(est - ndv) <= max(1e-9, 1e-6 * ndv)


@pytest.mark.spark_free
def test_theta_sketch_binary_layout():
    """Serial version 3, COMPACT family, ordered/read-only flags, and
    sorted sub-theta entries — the invariants a conforming
    DataSketches reader checks before trusting the payload."""
    import struct

    b = theta_sketch_bytes(10_000)  # estimation mode
    pre, ser, fam, _l1, _l2, flags, seed_hash = struct.unpack_from(
        "<BBBBBBH", b, 0)
    assert (pre, ser, fam) == (3, 3, 3)
    assert flags & 8 and flags & 16 and flags & 2  # COMPACT|ORDERED|RO
    assert seed_hash != 0
    retained = struct.unpack_from("<i", b, 8)[0]
    theta = struct.unpack_from("<q", b, 16)[0]
    entries = struct.unpack_from(f"<{retained}Q", b, 24)
    assert list(entries) == sorted(set(entries))
    assert entries[-1] < theta


@pytest.mark.spark_free
def test_puffin_container_roundtrip(tmp_path):
    p = str(tmp_path / "s.puffin")
    blobs = [
        ({"type": "apache-datasketches-theta-v1", "fields": [1],
          "snapshot-id": 9, "sequence-number": 9,
          "properties": {"ndv": "42"}}, theta_sketch_bytes(42)),
        ({"type": "some-future-blob", "fields": [2],
          "snapshot-id": 9, "sequence-number": 9,
          "properties": {}}, b"\x01\x02\x03"),
    ]
    info = write_puffin(p, blobs, {"created-by": "test"})
    raw = open(p, "rb").read()
    assert raw[:4] == MAGIC and raw[-4:] == MAGIC
    assert info["file-size-in-bytes"] == len(raw)
    footer, got = read_puffin(p)
    assert footer["properties"] == {"created-by": "test"}
    assert [m["type"] for m, _ in got] == [
        "apache-datasketches-theta-v1", "some-future-blob"]
    assert got[1][1] == b"\x01\x02\x03"
    assert theta_estimate(got[0][1]) == 42.0


def _stats_table(spark, path):
    t = LakeTable.create(spark, path, "k bigint, grp string, v double")
    t.append(spark.range(5000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 37).cast("string")).alias("grp"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.col("id") * 0.5).alias("v")))
    t.analyze()
    return t


def test_analyze_exports_and_adopts_within_tolerance(spark, tmp_path):
    """export → adopt round-trips ANALYZE NDVs within the HLL sketch
    tolerance (ANALYZE itself is approx at rsd 1.6%; the Puffin leg
    adds zero further error) and null counts exactly; metadata.json
    carries a spec-shaped statistics entry."""
    t = _stats_table(spark, str(tmp_path / "t"))
    native = t.column_stats()
    mp = to_iceberg_metadata(t, manifest_format="avro")
    md = json.load(open(mp))
    st = md["statistics"]
    assert len(st) == 1 and os.path.isfile(st[0]["statistics-path"])
    assert {b["type"] for b in st[0]["blob-metadata"]} == {
        "apache-datasketches-theta-v1"}
    assert validate_iceberg_metadata(mp) == []

    t2 = adopt_iceberg_metadata(spark, mp, str(tmp_path / "t2"))
    got = t2.column_stats()
    assert got is not None and got["row_count"] == native["row_count"]
    for c, cs in native["columns"].items():
        assert got["columns"][c]["ndv"] == cs["ndv"]  # sketch-exact here
        assert got["columns"][c]["null_count"] == cs["null_count"]


def test_walker_tolerates_missing_statistics(spark, tmp_path):
    """Deleting the Puffin file degrades to a validator WARNING and a
    stats-free adoption — the data chain never depends on it."""
    t = _stats_table(spark, str(tmp_path / "t"))
    mp = to_iceberg_metadata(t)
    md = json.load(open(mp))
    os.remove(md["statistics"][0]["statistics-path"])
    findings = validate_iceberg_metadata(mp)
    assert [f["code"] for f in findings] == ["missing-statistics-file"]
    assert findings[0]["severity"] == "warning"
    assert read_via_iceberg_metadata(spark, mp).count() == 5000
    t2 = adopt_iceberg_metadata(spark, mp, str(tmp_path / "t2"))
    assert t2.column_stats() is None
    assert t2.read().count() == 5000


@pytest.mark.spark_free
@pytest.mark.parametrize("ndv", [141_000_000_000, 1_000_000_000_000,
                                 200_000_000_000_000])
def test_theta_sketch_huge_ndv(ndv):
    """Review r12: float-truncated theta drifted the estimate by a few
    counts above ~1.4e11 (1e12 read back as 1000000000025). The theta
    probe now recovers the NDV exactly wherever 63-bit theta
    granularity allows; beyond it the error is bounded by the
    granularity itself — adjacent theta values are ndv²/(R·2^63)
    apart — and the adoption path reconciles against the ndv
    property."""
    est = theta_estimate(theta_sketch_bytes(ndv))
    bound = max(1, ndv * ndv // (4096 * 2 ** 63))
    assert abs(round(est) - ndv) <= bound


def test_stale_statistics_survive_adoption(spark, tmp_path):
    """Review r12: adoption used to DROP statistics whenever the
    ANALYZE snapshot differed from the chain head — lossy for any
    table modified after its last ANALYZE. The most recent parseable
    statistics entry now adopts WITH its snapshot stamp (consumers
    judge staleness, like native ANALYZE persisting across appends)."""
    t = _stats_table(spark, str(tmp_path / "t"))
    analyzed_snap = t.column_stats()["snapshot_id"]
    t.append(spark.range(5).select(
        (F.col("id") + 10_000).alias("k"),
        F.lit("gX").alias("grp"), F.lit(1.0).alias("v")))
    mp = to_iceberg_metadata(t, manifest_format="avro")
    t2 = adopt_iceberg_metadata(spark, mp, str(tmp_path / "t2"))
    got = t2.column_stats()
    assert got is not None and got["snapshot_id"] == analyzed_snap
    assert got["columns"]["k"]["ndv"] == \
        t.column_stats()["columns"]["k"]["ndv"]


def test_analyze_struct_leaf_puffin_roundtrip(spark, tmp_path):
    """r12 extension: ANALYZE accepts dotted struct-leaf paths (the
    same spelling pruning and leaf stats use), the Puffin export maps
    them to the LEAF's own field id, and adoption rebinds the blob to
    the dotted spelling."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        "vec_id bigint, meta struct<lang:string,n:int>")
    t.append(spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.struct(F.lit("en").alias("lang"),
                 (F.col("id") % 37).cast("int").alias("n")).alias("meta")))
    native = t.analyze(columns=["vec_id", "meta.n"])
    assert native["columns"]["meta.n"]["ndv"] > 0
    mp = to_iceberg_metadata(t, manifest_format="avro")
    t2 = adopt_iceberg_metadata(spark, mp, str(tmp_path / "t2"))
    got = t2.column_stats()
    assert got["columns"]["meta.n"]["ndv"] == \
        native["columns"]["meta.n"]["ndv"]
    assert got["columns"]["vec_id"]["ndv"] == \
        native["columns"]["vec_id"]["ndv"]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no such column"):
        t.analyze(columns=["meta.zzz"])

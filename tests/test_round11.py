"""Round-11 regression pins — the four ADVICE r10 findings.

(The decimal boundary + tz-aware datetime hash fixes are pinned in
tests/test_iceberg_bucket.py next to the spec vectors.)
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_catalog_bench_spark.catalog.iceberg_export import (
    to_iceberg_metadata,
)
from iceberg_catalog_bench_spark.catalog.table import LakeTable
from iceberg_catalog_bench_spark.engine import SqlEngine


def test_merge_set_star_by_source_rejected(spark, tmp_path):
    """ADVICE r10: UPDATE SET * under WHEN NOT MATCHED BY SOURCE has no
    source row to expand from — it must refuse loudly, not no-op."""
    engine = SqlEngine(spark, str(tmp_path / "wh"))
    engine.execute("CREATE TABLE bst (k BIGINT, a STRING)")
    engine.execute("INSERT INTO bst VALUES (1, 'a1'), (2, 'a2')")
    with pytest.raises(ValueError, match="NOT MATCHED BY SOURCE"):
        engine.execute(
            "MERGE INTO bst USING (VALUES (1, 'x')) AS s(k, a) "
            "ON bst.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *")
    # table untouched by the refused merge
    rows = engine.execute("SELECT * FROM bst ORDER BY k")[-1].rows
    assert [tuple(r.values()) for r in rows] == [(1, "a1"), (2, "a2")]


def test_schema_evolution_not_applied_when_merge_refused(spark, tmp_path):
    """ADVICE r10: merge(schema_evolution=True) must not leave the
    target schema half-evolved when the merge itself is rejected —
    neither on the empty-table check nor on the duplicate-key check."""
    # empty table: merge refuses before any evolution
    t = LakeTable.create(spark, str(tmp_path / "empty"), "k bigint, a string")
    src = spark.createDataFrame([(1, "a", "b")], "k bigint, a string, b string")
    with pytest.raises(ValueError, match="empty table"):
        t.merge(src, on=["k"], when_matched_update="*",
                schema_evolution=True)
    assert [f.name for f in t._fields()] == ["k", "a"]
    assert t._meta["current_schema_version"] == 0

    # duplicate source keys matching a target row: refused AFTER the
    # probe, still no evolution
    t2 = LakeTable.create(spark, str(tmp_path / "dup"), "k bigint, a string")
    t2.append(spark.createDataFrame([(1, "a1")], "k bigint, a string"))
    dup_src = spark.createDataFrame(
        [(1, "x", "b1"), (1, "y", "b2")], "k bigint, a string, b string")
    with pytest.raises(ValueError, match="duplicate"):
        t2.merge(dup_src, on=["k"], when_matched_update="*",
                 schema_evolution=True)
    assert [f.name for f in t2._fields()] == ["k", "a"]
    assert t2._meta["current_schema_version"] == 0


def test_calendar_fanout_spelling_matches_jvm_write_path(spark, tmp_path):
    """The partition-value codec spells every (transform, type) pair
    that ``transforms.exact`` admits exactly as the JVM write path
    records it, ``transform_expr(t).cast("string")``, and the Python
    writer keys rows with those spellings: years before 1000, values
    before the epoch, µs fractions and NULL included. One divergent
    spelling and _prune_files equality-compares different strings,
    wrongly pruning (the r9 E-notation lesson)."""
    import datetime
    import decimal
    import random

    import pyarrow as pa

    from iceberg_catalog_bench_spark.catalog import transforms
    from iceberg_catalog_bench_spark.catalog.transforms import (
        SUPPORTED, Transform, parse_spec, transform_expr,
    )
    from iceberg_catalog_bench_spark.streaming.table_source import (
        _arrow_type, _python_partition_fn,
    )

    columns = [("ti", "tinyint"), ("si", "smallint"), ("i", "int"),
               ("b", "bigint"), ("s", "string"), ("d", "date"),
               ("ts", "timestamp"), ("tsn", "timestamp_ntz"),
               ("dec", "decimal(10,2)"), ("dec7", "decimal(12,7)"),
               ("bin", "binary"), ("x", "double")]
    rng = random.Random(11)
    walls = [
        datetime.datetime(2024, 2, 29, 23, 59, 59, 999999),
        datetime.datetime(1969, 12, 31, 23, 0, 1),     # pre-epoch
        datetime.datetime(1970, 1, 1),
        datetime.datetime(2024, 5, 1, 12, 0, 0, 500000),   # .5 not .500000
        datetime.datetime(999, 1, 1, 5, 30),           # year < 1000
        datetime.datetime(1, 1, 1),
        datetime.datetime(9999, 12, 31, 23, 59, 59, 120000),
    ] + [datetime.datetime(1, 1, 1) + datetime.timedelta(
        microseconds=rng.randrange(315_537_897_600_000_000))
        for _ in range(40)]
    rows = []
    for n, w in enumerate(walls):
        rows.append((
            rng.randrange(-128, 128), rng.randrange(-2**15, 2**15),
            rng.randrange(-2**31, 2**31), rng.randrange(-2**63, 2**63),
            "".join(rng.choice("aZ9 é-") for _ in range(n % 5)),
            w.date(), w.replace(tzinfo=datetime.timezone.utc), w,
            decimal.Decimal(rng.randrange(-10**10 + 1, 10**10)).scaleb(-2),
            decimal.Decimal(rng.choice([1, -1, 10, 99, 10**7, 123456789])
                            ).scaleb(-7),
            rng.randbytes(n % 4), rng.random()))
    rows.append((None,) * len(columns))
    ddl = ", ".join(f"{n} {t}" for n, t in columns)
    df = spark.createDataFrame(rows, ddl)
    tbl = pa.table({n: pa.array([r[i] for r in rows], _arrow_type(t))
                    for i, (n, t) in enumerate(columns)})

    type_of = dict(columns)
    spec = [t for name in SUPPORTED for col, typ in columns
            for t in [Transform(name, col, 3 if name in (
                "bucket", "ibucket", "truncate", "itruncate") else None)]
            if transforms.exact(t, typ)]
    assert {t.name for t in spec} == set(SUPPORTED)
    assert not any(t.column == "x" for t in spec)  # doubles: never
    fn = _python_partition_fn([t.to_json() for t in spec], columns)
    assert fn is not None, "UTC session must admit calendar fanout"
    # the plan declares which columns the task must tz-verify: the
    # instant source, never the ntz/date ones
    assert fn.utc_instant_cols == frozenset({"ts"})
    # calendar transforms over DATE (other than days) are NOT
    # admitted: a DST gap at the truncated midnight shifts the JVM
    # spelling and date columns carry no tz metadata to check
    months_d = parse_spec(["months(d)"])
    assert _python_partition_fn(
        [t.to_json() for t in months_d], columns) is None

    # JVM spellings, one column per case
    jvm = df.select(*[
        transform_expr(t, type_of[t.column]).cast("string").alias(f"c{i}")
        for i, t in enumerate(spec)
    ]).collect()
    got = fn(tbl)
    assert len(jvm) == len(got) == len(rows)
    for r_jvm, r_py in zip(jvm, got):
        for i, t in enumerate(spec):
            want = r_jvm[f"c{i}"]
            want = transforms.HIVE_NULL if want is None else want
            key = transforms.key(t)
            assert r_py[key] == want, (t, type_of[t.column], want, r_py[key])


def test_calendar_fanout_degrades_unkeyed_under_non_utc_session(
        spark, tmp_path):
    """The write task cannot see a SparkSession, so the UTC gate reads
    the SESSION zone from the Arrow batch itself (Spark ships
    TimestampType as timestamp[us, tz=<session tz>]). Under a non-UTC
    session, days(ts) files must land UNKEYED (never-prune) — never
    keyed with UTC renderings the JVM path and prune literals would
    mismatch (wrong-prune)."""
    from iceberg_catalog_bench_spark.streaming.table_source import (
        register_source,
    )

    register_source(spark)
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        "k bigint, ts timestamp, v string",
        partition_by=["days(ts)"])
    df = spark.sql(
        "SELECT CAST(1 AS BIGINT) k, "
        "TIMESTAMP'2024-03-02 01:00:00' ts, 'a' v "
        "UNION ALL SELECT 2, TIMESTAMP'2024-03-03 23:00:00', 'b'")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df.write.format("laketable").option("path", t.path) \
          .mode("append").save()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    t = LakeTable.load(spark, t.path)
    snap = t._snapshot(t._meta["current_snapshot_id"])
    assert all(f.partition == {} for f in snap.files)
    assert t.read().count() == 2
    # back under UTC the same write IS keyed
    df.write.format("laketable").option("path", t.path) \
      .mode("append").save()
    t = LakeTable.load(spark, t.path)
    snap2 = t._snapshot(t._meta["current_snapshot_id"])
    keyed = [f for f in snap2.files if f.partition]
    assert {f.partition["_p_days_ts"] for f in keyed} == \
        {"2024-03-02", "2024-03-03"}


def test_foreign_json_binary_truncate_hex_string_adopts(spark, tmp_path):
    """A JSON-dialect foreign chain carries binary truncate values as
    hex STRINGS (Iceberg JSON single-value serialization) — adoption
    must key them as the native _p_itruncate_* uppercase-hex spelling,
    never as a string-truncate key (which would silently never prune
    AND re-export as a null partition value)."""
    import duckdb

    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        adopt_iceberg_metadata,
    )
    from tests.test_round9 import _chain, _data_file

    root = str(tmp_path / "foreign")
    data = os.path.join(root, "data")
    os.makedirs(data)
    files = []
    for i, (hexv, blob) in enumerate([
        ("68656c6c", "hello world"),   # lowercase hex, as the spec writes
        ("6162", "ab"),
    ]):
        p = os.path.join(data, f"f{i}.parquet")
        duckdb.sql(f"COPY (SELECT CAST({i + 1} AS BIGINT) AS k, "
                   f"encode('{blob}') AS b) TO '{p}' (FORMAT PARQUET)")
        files.append((p, hexv))
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "b", "required": False, "type": "binary"}]}
    spec = {"spec-id": 0, "fields": [
        {"field-id": 1000, "source-id": 2, "name": "b_trunc",
         "transform": "truncate[4]"}]}
    entries = [_data_file(p, 1, seq=1,
                          extra={"partition": {"b_trunc": hexv}})
               for p, hexv in files]
    mp = _chain(root, [(1, 1, [("m1.json", 0, entries)])],
                schemas=[schema], specs=[spec])
    t = adopt_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    snap = t._snapshot(t._meta["current_snapshot_id"])
    assert {f.partition.get("_p_itruncate_b") for f in snap.files} == \
        {"68656C6C", "6162"}
    assert all("_p_truncate_b" not in f.partition for f in snap.files)
    kept = t._prune_files(snap.files, "b = 'hello world'")
    assert len(kept) == 1 and \
        kept[0].partition["_p_itruncate_b"] == "68656C6C"
    assert [r.k for r in t.read().where("b = 'hello world'").collect()] \
        == [1]


def test_streamed_flagship_spec_prunes_from_first_batch(spark, tmp_path):
    """The reference's flagship partitioning — days(event_ts) +
    bucket(tenant_id,16) (ICEBERG-Interoperability-Test-Spec.md:50) —
    now fans out on the STREAMED write path: the first micro-batch's
    files carry both keys and a fresh-window + tenant point read
    prunes without waiting for compaction."""
    import datetime

    from pyspark.sql import functions as F

    from iceberg_catalog_bench_spark.catalog.iceberg_bucket import (
        iceberg_bucket,
    )
    from iceberg_catalog_bench_spark.catalog.table import LakeTable
    from iceberg_catalog_bench_spark.streaming.table_source import (
        register_source,
    )

    register_source(spark)
    src = LakeTable.create(spark, str(tmp_path / "src"),
                           "tenant_id bigint, event_ts timestamp, v string")
    src.append(spark.range(64).select(
        (F.col("id") % 8).alias("tenant_id"),
        (F.to_timestamp(F.lit("2024-03-01 00:00:00"))
         + F.make_interval(hours=F.col("id"))).alias("event_ts"),
        F.concat(F.lit("v"), "id").alias("v")))
    dst = LakeTable.create(
        spark, str(tmp_path / "dst"),
        "tenant_id bigint, event_ts timestamp, v string",
        partition_by=["days(event_ts)", "ibucket(16, tenant_id)"])
    q = (
        spark.readStream.format("laketable").option("path", src.path).load()
        .writeStream.format("laketable").option("path", dst.path)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    dst = LakeTable.load(spark, dst.path)
    snap = dst._snapshot(dst._meta["current_snapshot_id"])
    assert dst.read().count() == 64
    # every streamed file carries BOTH keys — no compaction happened
    assert all("_p_days_event_ts" in f.partition
               and "_p_ibucket_tenant_id" in f.partition
               for f in snap.files)
    days = {f.partition["_p_days_event_ts"] for f in snap.files}
    assert days == {"2024-03-01", "2024-03-02", "2024-03-03"}
    # fresh-window read prunes on the day key
    kept_day = dst._prune_files(
        snap.files, "event_ts >= '2024-03-03 00:00:00'")
    assert 0 < len(kept_day) < len(snap.files)
    assert all(f.partition["_p_days_event_ts"] == "2024-03-03"
               for f in kept_day)
    # tenant point lookup prunes on the murmur3 key too
    kept_t = dst._prune_files(snap.files, "tenant_id = 5")
    assert 0 < len(kept_t) < len(snap.files)
    assert all(f.partition["_p_ibucket_tenant_id"]
               == str(iceberg_bucket(5, 16)) for f in kept_t)
    got = sorted(
        r.v for r in dst.read()
        .where("tenant_id = 5 AND event_ts >= '2024-03-03 00:00:00'")
        .collect())
    want = sorted(f"v{i}" for i in range(64)
                  if i % 8 == 5 and i >= 48)
    assert got == want


def test_decimal_truncate_native_roundtrip(spark, tmp_path):
    """VERDICT r10 item 3: spec decimal truncate — the unscaled value
    truncates v - (v mod W) (floor-signed), native writes cluster by
    it, point lookups prune, the export carries truncate[W] with Avro
    decimal (min-length two's-complement unscaled bytes) a conforming
    reader prunes correctly, and re-adoption prunes too."""
    import decimal

    from iceberg_catalog_bench_spark.catalog import avro_ocf
    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        adopt_iceberg_metadata, validate_iceberg_metadata,
    )

    t = LakeTable.create(
        spark, str(tmp_path / "t"), "k bigint, d decimal(10,2)",
        partition_by=["itruncate(100, d)"])  # W=100 unscaled = 1.00
    rows = [(1, "0.05"), (2, "1.55"), (3, "1.99"), (4, "2.50"),
            (5, "-0.07"), (6, "9.99")]
    t.append(spark.createDataFrame(
        [(k, decimal.Decimal(v)) for k, v in rows],
        "k bigint, d decimal(10,2)"))
    snap = t._snapshot(t._meta["current_snapshot_id"])
    vals = {f.partition["_p_itruncate_d"] for f in snap.files}
    assert vals == {"0.00", "1.00", "2.00", "-1.00", "9.00"}
    kept = t._prune_files(snap.files, "d = 1.55")
    assert len(kept) == 1 and \
        kept[0].partition["_p_itruncate_d"] == "1.00"
    assert [r.k for r in t.read().where("d = 1.55").collect()] == [2]

    # export: spec-true truncate[100] with Avro decimal values — check
    # against a simulated conforming evaluator (u - (u mod W) on the
    # unscaled int, exactly the spec's formula)
    mp = to_iceberg_metadata(t, manifest_format="avro")
    md = json.load(open(mp))
    fields = {s["spec-id"]: s for s in md["partition-specs"]}[
        md["default-spec-id"]]["fields"]
    assert [(f["name"], f["transform"]) for f in fields] == [
        ("d_truncate", "truncate[100]")]
    head = md["current-snapshot-id"]
    sl = next(s for s in md["snapshots"] if s["snapshot-id"] == head)
    _, mans = avro_ocf.read_ocf(sl["manifest-list"])
    got = set()
    for m in mans:
        _, recs = avro_ocf.read_ocf(m["manifest_path"])
        for r in recs:
            b = r["data_file"]["partition"]["d_truncate"]
            assert isinstance(b, (bytes, bytearray))
            got.add(int.from_bytes(b, "big", signed=True))
    def conforming(v):
        u = int(decimal.Decimal(v).scaleb(2))
        return u - u % 100
    assert got == {conforming(v) for _, v in rows}
    # min-length encoding: -100 is one byte (0x9C), not 0xFF9C
    assert (-100).to_bytes(1, "big", signed=True) == b"\x9c"
    assert all(len((u).to_bytes(
        ((u if u >= 0 else ~u).bit_length() // 8) + 1, "big", signed=True))
        >= 1 for u in got)

    # no portability finding; re-adoption keeps the transform live
    assert validate_iceberg_metadata(mp) == []
    t2 = adopt_iceberg_metadata(spark, mp, str(tmp_path / "re"))
    assert [(s["transform"], s["column"])
            for s in t2._meta["partition_spec"]] == [("itruncate", "d")]
    s2 = t2._snapshot(t2._meta["current_snapshot_id"])
    kept2 = t2._prune_files(s2.files, "d = 1.55")
    assert len(kept2) == 1 and \
        kept2[0].partition["_p_itruncate_d"] == "1.00"
    assert [r.k for r in t2.read().where("d = 1.55").collect()] == [2]


def test_binary_truncate_native_roundtrip(spark, tmp_path):
    """Spec binary truncate (first W bytes): native clustering renders
    uppercase hex, exports raw bytes, re-adopts and prunes."""
    from iceberg_catalog_bench_spark.catalog import avro_ocf
    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        adopt_iceberg_metadata, validate_iceberg_metadata,
    )

    t = LakeTable.create(
        spark, str(tmp_path / "t"), "k bigint, b binary",
        partition_by=["itruncate(4, b)"])
    data = [(1, b"hello world"), (2, b"hellfire"), (3, b"ab"),
            (4, b"\x00\xff\x10\x20\x30")]
    t.append(spark.createDataFrame(data, "k bigint, b binary"))
    snap = t._snapshot(t._meta["current_snapshot_id"])
    vals = {f.partition["_p_itruncate_b"] for f in snap.files}
    assert vals == {"68656C6C", "6162", "00FF1020"}
    kept = t._prune_files(snap.files, "b = 'hello world'")
    assert len(kept) == 1 and \
        kept[0].partition["_p_itruncate_b"] == "68656C6C"
    assert [r.k for r in t.read()
            .where("b = CAST('hellfire' AS BINARY)").collect()] == [2]

    mp = to_iceberg_metadata(t, manifest_format="avro")
    md = json.load(open(mp))
    fields = {s["spec-id"]: s for s in md["partition-specs"]}[
        md["default-spec-id"]]["fields"]
    assert [(f["name"], f["transform"]) for f in fields] == [
        ("b_truncate", "truncate[4]")]
    head = md["current-snapshot-id"]
    sl = next(s for s in md["snapshots"] if s["snapshot-id"] == head)
    _, mans = avro_ocf.read_ocf(sl["manifest-list"])
    got = set()
    for m in mans:
        _, recs = avro_ocf.read_ocf(m["manifest_path"])
        for r in recs:
            got.add(bytes(r["data_file"]["partition"]["b_truncate"]))
    # conforming evaluator: the first min(W, len) bytes
    assert got == {v[:4] for _, v in data}
    assert validate_iceberg_metadata(mp) == []
    t2 = adopt_iceberg_metadata(spark, mp, str(tmp_path / "re"))
    assert [(s["transform"], s["column"])
            for s in t2._meta["partition_spec"]] == [("itruncate", "b")]
    s2 = t2._snapshot(t2._meta["current_snapshot_id"])
    kept2 = t2._prune_files(s2.files, "b = 'hellfire'")
    assert len(kept2) == 1 and \
        kept2[0].partition["_p_itruncate_b"] == "68656C6C"


def test_python_writer_fanout_decimal_binary_itruncate(spark, tmp_path):
    """The Python (laketable-format) write path fans out decimal and
    binary itruncate too, with the exact JVM spellings."""
    import decimal

    from iceberg_catalog_bench_spark.streaming.table_source import (
        register_source,
    )

    register_source(spark)
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        "k bigint, d decimal(10,2), b binary",
        partition_by=["itruncate(100, d)", "itruncate(4, b)"])
    df = spark.createDataFrame(
        [(1, decimal.Decimal("1.55"), b"hello"),
         (2, decimal.Decimal("-0.07"), b"ab"),
         (3, None, None)],
        "k bigint, d decimal(10,2), b binary")
    df.write.format("laketable").option("path", t.path) \
      .mode("append").save()
    t = LakeTable.load(spark, t.path)
    snap = t._snapshot(t._meta["current_snapshot_id"])
    pairs = {(f.partition["_p_itruncate_d"], f.partition["_p_itruncate_b"])
             for f in snap.files}
    assert pairs == {("1.00", "68656C6C"), ("-1.00", "6162"),
                     ("__HIVE_DEFAULT_PARTITION__",
                      "__HIVE_DEFAULT_PARTITION__")}
    kept = t._prune_files(snap.files, "d = 1.55")
    assert len(kept) == 1 and kept[0].partition["_p_itruncate_d"] == "1.00"
    assert [r.k for r in t.read().where("d = 1.55").collect()] == [1]


def test_foreign_decimal_truncate_chain_adopts_and_prunes(spark, tmp_path):
    """A foreign chain partitioned truncate[W] over a decimal source
    (JSON dialect: rendered decimal strings) adopts as the native
    itruncate with live pruning — the last nonportable-transform case
    is gone, and truncate-over-double now flags invalid-transform-source."""
    import duckdb

    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        adopt_iceberg_metadata, validate_iceberg_metadata,
    )
    from tests.test_round9 import _chain, _data_file

    root = str(tmp_path / "foreign")
    data = os.path.join(root, "data")
    os.makedirs(data)
    files = []
    for i, (part, rows) in enumerate([
        ("0.00", [(1, "0.70"), (2, "1.40")]),
        ("2.00", [(3, "2.10"), (4, "2.80")]),
        ("4.00", [(5, "4.20"), (6, "5.99")]),
    ]):
        p = os.path.join(data, f"f{i}.parquet")
        vals = ", ".join(
            f"(CAST({k} AS BIGINT), CAST({d} AS DECIMAL(9,2)))"
            for k, d in rows)
        duckdb.sql(f"COPY (SELECT * FROM (VALUES {vals}) t(k, d)) "
                   f"TO '{p}' (FORMAT PARQUET)")
        files.append((p, part))
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "d", "required": False, "type": "decimal(9, 2)"}]}
    spec = {"spec-id": 0, "fields": [
        {"field-id": 1000, "source-id": 2, "name": "d_trunc",
         "transform": "truncate[200]"}]}  # 200 unscaled = 2.00
    entries = [_data_file(p, 2, seq=1,
                          extra={"partition": {"d_trunc": part}})
               for p, part in files]
    mp = _chain(root, [(1, 1, [("m1.json", 0, entries)])],
                schemas=[schema], specs=[spec])
    assert validate_iceberg_metadata(mp) == []
    t = adopt_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    assert [(s["transform"], s["column"], s.get("param"))
            for s in t._meta["partition_spec"]] == [("itruncate", "d", 200)]
    snap = t._snapshot(t._meta["current_snapshot_id"])
    assert {f.partition["_p_itruncate_d"] for f in snap.files} == \
        {"0.00", "2.00", "4.00"}
    kept = t._prune_files(snap.files, "d = 2.80")  # i=4 → 2.80
    assert len(kept) == 1 and \
        kept[0].partition["_p_itruncate_d"] == "2.00"
    assert [r.k for r in t.read().where("d = 2.80").collect()] == [4]


def test_foreign_decimal_truncate_numeric_value_never_prunes(spark, tmp_path):
    """A bare NUMBER as a decimal-truncate partition value is
    ambiguous (rendered decimal vs unscaled units) — adoption must
    omit the key (never-prune) rather than guess and wrongly prune."""
    import duckdb

    from iceberg_catalog_bench_spark.catalog.iceberg_export import (
        adopt_iceberg_metadata,
    )
    from tests.test_round9 import _chain, _data_file

    root = str(tmp_path / "foreign")
    data = os.path.join(root, "data")
    os.makedirs(data)
    p = os.path.join(data, "f0.parquet")
    duckdb.sql("COPY (SELECT CAST(1 AS BIGINT) AS k, "
               "CAST(2.80 AS DECIMAL(9,2)) AS d) "
               f"TO '{p}' (FORMAT PARQUET)")
    schema = {"type": "struct", "schema-id": 0, "fields": [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 2, "name": "d", "required": False, "type": "decimal(9, 2)"}]}
    spec = {"spec-id": 0, "fields": [
        {"field-id": 1000, "source-id": 2, "name": "d_trunc",
         "transform": "truncate[200]"}]}
    # 200 could mean "2.00" (unscaled) or "200.00" (rendered) — either
    # guess wrong-prunes for the other writer
    entries = [_data_file(p, 1, seq=1,
                          extra={"partition": {"d_trunc": 200}})]
    mp = _chain(root, [(1, 1, [("m1.json", 0, entries)])],
                schemas=[schema], specs=[spec])
    t = adopt_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    snap = t._snapshot(t._meta["current_snapshot_id"])
    assert all("_p_itruncate_d" not in f.partition for f in snap.files)
    # never-prune: the file survives any point predicate and the read
    # stays correct
    assert len(t._prune_files(snap.files, "d = 2.80")) == len(snap.files)
    assert [r.k for r in t.read().where("d = 2.80").collect()] == [1]


def test_calendar_partition_range_pruning_no_spark_jobs(spark, tmp_path):
    """hours/months/years partitions now prune equality, range AND IN
    predicates via driver-side flooring (`pruning.calendar_floor`) — zero
    Spark jobs (pinned by poisoning _transform_values), and ranges
    prune even on files with NO footer stats (the adopted stat-less
    chain case)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    t = LakeTable.create(
        spark, str(tmp_path / "t"), "k bigint, ts timestamp, v string",
        partition_by=["hours(ts)"])
    t.append(spark.range(48).select(
        F.col("id").alias("k"),
        (F.to_timestamp(F.lit("2024-03-01 00:00:00"))
         + F.make_interval(hours=F.col("id") / 2,
                           mins=(F.col("id") % 2) * 30)).alias("ts"),
        F.concat(F.lit("v"), "id").alias("v")))
    snap = t._snapshot(t._meta["current_snapshot_id"])
    # poison the Spark-eval path: calendar pruning must never call it
    orig = t._transform_values
    t._transform_values = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("calendar pruning must not Spark-eval literals"))
    try:
        kept = t._prune_files(snap.files, "ts >= '2024-03-01 20:00:00'")
        assert 0 < len(kept) < len(snap.files)
        assert all(f.partition["_p_hours_ts"] >= "2024-03-01 20:00:00"
                   for f in kept)
        kept_eq = t._prune_files(snap.files, "ts = '2024-03-01 05:30:00'")
        assert {f.partition["_p_hours_ts"] for f in kept_eq} == \
            {"2024-03-01 05:00:00"}
        kept_in = t._prune_files(
            snap.files,
            "ts IN ('2024-03-01 03:00:00', '2024-03-01 07:30:00')")
        assert {f.partition["_p_hours_ts"] for f in kept_in} == \
            {"2024-03-01 03:00:00", "2024-03-01 07:00:00"}
    finally:
        t._transform_values = orig
    assert sorted(r.k for r in t.read()
                  .where("ts = '2024-03-01 05:30:00'").collect()) == [11]

    # stat-less files (an adopted chain that recorded no bounds):
    # partition range pruning still works because it never needs stats
    for f in snap.files:
        f.stats = {}
    kept2 = t._prune_files(snap.files, "ts < '2024-03-01 02:00:00'")
    assert 0 < len(kept2) < len(snap.files)
    assert all(f.partition["_p_hours_ts"] <= "2024-03-01 02:00:00"
               for f in kept2)

    # months + years flooring, same zero-job contract
    t2 = LakeTable.create(
        spark, str(tmp_path / "m"), "k bigint, ts timestamp",
        partition_by=["months(ts)", "years(ts)"])
    t2.append(spark.createDataFrame(
        [(1, "2023-11-15 10:00:00"), (2, "2024-01-05 00:00:00"),
         (3, "2024-02-29 23:59:59"), (4, "2024-07-01 12:00:00")],
        "k bigint, ts string").select(
            "k", F.to_timestamp("ts").alias("ts")))
    s2 = t2._snapshot(t2._meta["current_snapshot_id"])
    t2._transform_values = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("calendar pruning must not Spark-eval literals"))
    kept3 = t2._prune_files(s2.files, "ts >= '2024-02-01 00:00:00'")
    assert sorted(f.partition["_p_months_ts"] for f in kept3) == \
        ["2024-02-01 00:00:00", "2024-07-01 00:00:00"]
    kept4 = t2._prune_files(s2.files, "ts < '2024-01-01 00:00:00'")
    assert {f.partition["_p_years_ts"] for f in kept4} == \
        {"2023-01-01 00:00:00"}
    with _pytest.raises(AssertionError):
        # non-calendar transforms still take the Spark-eval path (the
        # poison proves the fast path is what kept the tests above
        # job-free)
        t2._transform_value(None, None)


def test_export_disambiguates_void_colliding_partition_fields(spark, tmp_path):
    """ADVICE r10: legacy bucket and non-string truncate both export as
    'void', so field-ids must key on the NATIVE transform (not the
    exported spelling), and two bucket flavors of one column must not
    emit duplicate partition field names."""
    t = LakeTable.create(
        spark, str(tmp_path / "src"),
        "k bigint, v string",
        partition_by=["bucket(8, k)", "truncate(4, k)", "ibucket(4, k)"],
    )
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(8)],
                                   "k bigint, v string"))
    mp = to_iceberg_metadata(t)
    md = json.load(open(mp))
    spec = md["partition-specs"][md["default-spec-id"]]["fields"]
    assert len(spec) == 3
    ids = [f["field-id"] for f in spec]
    names = [f["name"] for f in spec]
    assert len(set(ids)) == 3, ids          # was: void spellings collided
    assert len(set(names)) == 3, names      # was: k_bucket twice
    by_tr = {f["transform"]: f for f in spec}
    # legacy bucket + numeric truncate degrade to void; ibucket is real
    assert sorted(f["transform"] for f in spec) == \
        ["bucket[4]", "void", "void"]
    assert by_tr["bucket[4]"]["name"].startswith("k_bucket")


def test_insert_select_maps_columns_by_position(spark, tmp_path):
    """INSERT INTO t SELECT maps source to target BY POSITION (the SQL
    standard and Spark/Iceberg behavior). The old name-based alignment
    silently remapped a reordered SELECT and broke on duplicate output
    names (Spark names CAST(id AS DOUBLE) just `id`)."""
    engine = SqlEngine(spark, str(tmp_path / "wh"))
    engine.execute("CREATE TABLE pos (a BIGINT, b BIGINT)")
    # select columns NAMED the other way round: position must win
    engine.execute(
        "INSERT INTO pos SELECT id * 10 AS b, id AS a FROM RANGE(3)")
    rows = engine.execute("SELECT a, b FROM pos ORDER BY b")[0].rows
    assert [(r["a"], r["b"]) for r in rows] == [(0, 0), (10, 1), (20, 2)]
    # duplicate unaliased output names are fine positionally
    engine.execute("INSERT INTO pos SELECT id, id + 100 FROM RANGE(1)")
    assert engine.execute("SELECT COUNT(*) AS c FROM pos")[0].rows[0]["c"] == 4
    # arity mismatch refuses loudly instead of null-filling
    with pytest.raises(ValueError, match="column count mismatch"):
        engine.execute("INSERT INTO pos SELECT id FROM RANGE(1)")
    # INSERT OVERWRITE SELECT follows the same positional contract
    engine.execute(
        "INSERT OVERWRITE pos SELECT id * 7 AS b, id AS a FROM RANGE(2)")
    rows = engine.execute("SELECT a, b FROM pos ORDER BY b")[0].rows
    assert [(r["a"], r["b"]) for r in rows] == [(0, 0), (7, 1)]


def test_insert_select_with_column_list(spark, tmp_path):
    """INSERT INTO t (cols) SELECT — source maps positionally onto the
    NAMED columns; unnamed target columns take their declared defaults
    (the M2 post-evolution contract the VALUES col-list form already
    honors)."""
    engine = SqlEngine(spark, str(tmp_path / "wh"))
    engine.execute("CREATE TABLE cl (a BIGINT, b STRING)")
    engine.execute("ALTER TABLE cl ADD COLUMN c BIGINT DEFAULT 7")
    engine.execute(
        "INSERT INTO cl (b, a) SELECT CONCAT('x', id), id FROM RANGE(2)")
    rows = engine.execute("SELECT a, b, c FROM cl ORDER BY a")[0].rows
    assert [(r["a"], r["b"], r["c"]) for r in rows] == \
        [(0, "x0", 7), (1, "x1", 7)]
    with pytest.raises(ValueError, match="column count mismatch"):
        engine.execute("INSERT INTO cl (a, b) SELECT id FROM RANGE(1)")
    with pytest.raises(ValueError, match="unknown INSERT column"):
        engine.execute("INSERT INTO cl (a, zz) SELECT id, id FROM RANGE(1)")


def test_insert_collist_case_insensitive_and_duplicates(spark, tmp_path):
    """Review findings: the old case-sensitive `f.name in names` check
    made INSERT INTO t (ID, v) VALUES (5, 1.0) silently write the
    column DEFAULT for id instead of 5; duplicate list entries died as
    an opaque AMBIGUOUS_REFERENCE. Both now resolve like Spark's own
    (case-insensitive) column resolution or refuse loudly."""
    engine = SqlEngine(spark, str(tmp_path / "wh"))
    engine.execute("CREATE TABLE ci (id BIGINT, v DOUBLE)")
    engine.execute("INSERT INTO ci (ID, V) VALUES (5, 1.0)")
    rows = engine.execute("SELECT id, v FROM ci")[0].rows
    assert [(r["id"], r["v"]) for r in rows] == [(5, 1.0)]  # was (None, 1.0)
    engine.execute("INSERT INTO ci (Id, v) SELECT id, CAST(id AS DOUBLE) "
                   "FROM RANGE(1)")
    assert engine.execute("SELECT COUNT(*) AS c FROM ci")[0].rows[0]["c"] == 2
    with pytest.raises(ValueError, match="duplicate INSERT column"):
        engine.execute("INSERT INTO ci (id, ID) VALUES (1, 2)")
    with pytest.raises(ValueError, match="unknown INSERT column"):
        engine.execute("INSERT INTO ci (nope) VALUES (1)")


def test_cluster_rewrite_all_null_column_refuses(spark, tmp_path):
    """Review finding: an all-NULL clustering column used to crash with
    a bare TypeError (float(None)) in the stats fallback — both curve
    rewrites must refuse with a clear error instead."""
    from iceberg_catalog_bench_spark.catalog.table import LakeTable

    t = LakeTable.create(spark, str(tmp_path / "n"),
                         "a bigint, b bigint, v double")
    t.append(spark.range(100).selectExpr(
        "id a", "CAST(NULL AS BIGINT) b", "CAST(id AS DOUBLE) v"))
    for fn in (t.rewrite_zorder, t.rewrite_hilbert):
        with pytest.raises(ValueError, match="no non-null values"):
            fn(["a", "b"])


def test_semantic_incremental_store_prunes_untouched_clusters(spark, tmp_path):
    """The incremental-SemDeDup scale claim, pinned: the persisted
    store is identity-partitioned on cluster id and the ingest scans
    it with the batch's (K-bounded) cid IN-list — manifest pruning
    must skip every untouched cluster's files, and the per-cluster
    corpus counts must come from manifest stats (partitions()), not a
    data read."""
    from iceberg_catalog_bench_spark.catalog.table import LakeTable

    store = LakeTable.create(
        spark, str(tmp_path / "sem"),
        "vec_id bigint, cid bigint, embedding array<double>",
        partition_by=["cid"],
    )
    store.append(spark.range(80).selectExpr(
        "id vec_id", "id % 8 cid", "array(cast(id as double)) embedding"))
    snap = store._snapshot()
    assert len(snap.files) == 8               # one file per cluster
    kept = store._prune_files(snap.files, "cid IN (2, 5)")
    assert len(kept) == 2, "untouched clusters' files must not open"
    assert {f.partition["_p_identity_cid"] for f in kept} == {"2", "5"}
    # metadata-only corpus counts cover ALL clusters
    from pyspark.sql import functions as F

    pp = store.partitions().select(
        F.get_json_object("partition", "$._p_identity_cid")
        .cast("bigint").alias("cid"),
        F.col("record_count").cast("bigint").alias("n"))
    assert {(r["cid"], r["n"]) for r in pp.collect()} == \
        {(c, 10) for c in range(8)}

"""Round-10 pins: the preflight → repair loop and the BM25-backed
hybrid retrieval stack (VERDICT r9 items 3 & 4).

``repair_iceberg_metadata`` / ``CALL system.repair_table`` must fix
exactly the fixable findings ``validate_iceberg_metadata`` reports —
quarantine entries whose data files vanished, re-resolve drifted
manifest lengths, drop dangling refs — over BOTH manifest
serializations, honor ``dry_run``, and leave the unrepairable loudly
reported. Mirrors the reference's operability objective
(ICEBERG-Interoperability-Test-Spec.md:10-14).
"""

import json
import os

import pytest

from iceberg_catalog_bench_spark.catalog.iceberg_export import (
    adopt_iceberg_metadata,
    repair_iceberg_metadata,
    validate_iceberg_metadata,
)
from tests.test_round9 import _chain, _data_file, _parquet


def _sabotaged_chain(root):
    """Two-snapshot chain, then: ghost ref + vanished f2 + drifted m1
    length. Returns (metadata_path, f2_path)."""
    data = os.path.join(root, "data")
    os.makedirs(data, exist_ok=True)
    f1 = _parquet(os.path.join(data, "f1.parquet"),
                  "SELECT CAST(1 AS BIGINT) AS k, 'a' AS v")
    f2 = _parquet(os.path.join(data, "f2.parquet"),
                  "SELECT CAST(2 AS BIGINT) AS k, 'b' AS v")
    e1 = _data_file(f1, 1, seq=1)
    e1["snapshot-id"] = 1
    e2 = _data_file(f2, 1, seq=2)
    e2["snapshot-id"] = 2
    mp = _chain(root, [
        (1, 1, [("m1.json", 0, [e1])]),
        (2, 2, [("m2.json", 0, [e1, e2])]),
    ])
    assert validate_iceberg_metadata(mp) == []
    md = json.load(open(mp))
    md["refs"] = {"ghost": {"snapshot-id": 999, "type": "tag"}}
    with open(mp, "w") as fh:
        json.dump(md, fh)
    os.remove(f2)
    with open(os.path.join(root, "metadata", "m1.json"), "a") as fh:
        fh.write(" ")
    return mp, f2


def test_repair_fixes_the_fixable(tmp_path):
    mp, f2 = _sabotaged_chain(str(tmp_path))
    codes = {f["code"] for f in validate_iceberg_metadata(mp)}
    assert codes == {"dangling-ref", "missing-data-file",
                     "manifest-length-drift"}

    acts = repair_iceberg_metadata(mp)
    by_code = {a["code"]: a for a in acts}
    assert by_code["missing-data-file"]["action"] == "applied"
    assert f2 in by_code["missing-data-file"]["detail"]
    assert by_code["dangling-ref"]["action"] == "applied"
    assert "ghost" in by_code["dangling-ref"]["detail"]
    assert by_code["manifest-length-drift"]["action"] == "applied"
    # the loop closes: re-validation is clean
    assert validate_iceberg_metadata(mp) == []
    # quarantine preserved the survivor: m2 now carries only f1
    m2 = json.load(open(os.path.join(str(tmp_path), "metadata", "m2.json")))
    assert [e["data-file"]["file-path"] for e in m2["entries"]] == [
        os.path.join(str(tmp_path), "data", "f1.parquet")]
    # and the repaired chain adopts + reads
    import tests.conftest  # noqa: F401


def test_repair_dry_run_touches_nothing(tmp_path):
    mp, _ = _sabotaged_chain(str(tmp_path))
    before = {}
    for dirpath, _dirs, files in os.walk(str(tmp_path)):
        for f in files:
            p = os.path.join(dirpath, f)
            before[p] = (os.path.getsize(p), open(p, "rb").read())
    acts = repair_iceberg_metadata(mp, dry_run=True)
    assert acts and all(a["action"] == "planned" for a in acts)
    for p, (size, body) in before.items():
        assert os.path.getsize(p) == size
        assert open(p, "rb").read() == body
    # findings unchanged
    assert {f["code"] for f in validate_iceberg_metadata(mp)} == {
        "dangling-ref", "missing-data-file", "manifest-length-drift"}


def test_repair_reports_unrepairable(tmp_path):
    mp, _ = _sabotaged_chain(str(tmp_path))
    # add a dangling HEAD — repair must refuse to choose a new head
    md = json.load(open(mp))
    md["current-snapshot-id"] = 12345
    with open(mp, "w") as fh:
        json.dump(md, fh)
    acts = repair_iceberg_metadata(mp)
    heads = [a for a in acts if a["code"] == "dangling-head"]
    assert heads and heads[0]["action"] == "unrepairable"
    # the fixable still got fixed
    assert {a["code"] for a in acts if a["action"] == "applied"} == {
        "dangling-ref", "missing-data-file", "manifest-length-drift"}


def test_repair_avro_chain(spark, tmp_path):
    """Repair rewrites REAL Avro OCF manifests/manifest-lists in place:
    quarantine drops the vanished file's records, the re-written OCF
    stays spec-readable, and the repaired chain adopts."""
    from tests.test_iceberg_adopt import _avroize_chain, _write_foreign_chain

    mp = _avroize_chain(_write_foreign_chain(str(tmp_path / "f")))
    assert validate_iceberg_metadata(mp) == []
    gone = os.path.join(str(tmp_path / "f"), "data", "f2.parquet")
    os.remove(gone)
    assert any(f["code"] == "missing-data-file"
               for f in validate_iceberg_metadata(mp))
    acts = repair_iceberg_metadata(mp)
    assert {a["code"] for a in acts if a["action"] == "applied"} >= {
        "missing-data-file", "manifest-length-drift"}
    assert validate_iceberg_metadata(mp) == []
    t = adopt_iceberg_metadata(spark, mp, str(tmp_path / "adopted"))
    ks = sorted(r["k"] for r in t.read().select("k").collect())
    # f2 held k=3; it was already equality-deleted in the chain, so the
    # surviving rows are unchanged by quarantine
    assert 3 not in ks and len(ks) >= 2


def test_repair_sql_call(spark, tmp_path):
    from iceberg_catalog_bench_spark.engine import SqlEngine

    mp, _ = _sabotaged_chain(str(tmp_path / "c"))
    engine = SqlEngine(spark, str(tmp_path / "wh"))
    rows = engine.execute(
        f"CALL system.repair_table(metadata_file => '{mp}', "
        "dry_run => true)")[-1].rows
    assert all(r["action"] == "planned" for r in rows)
    rows = engine.execute(
        f"CALL system.repair_table(metadata_file => '{mp}')")[-1].rows
    assert {r["code"] for r in rows if r["action"] == "applied"} == {
        "dangling-ref", "missing-data-file", "manifest-length-drift"}
    rows = engine.execute(
        f"CALL system.validate_table(metadata_file => '{mp}')")[-1].rows
    assert [r["code"] for r in rows] == ["clean"]
    # second repair: nothing to do
    rows = engine.execute(
        f"CALL system.repair_table(metadata_file => '{mp}')")[-1].rows
    assert [r["code"] for r in rows] == ["clean"]


def test_compiled_union_decoder_rejects_corrupt_branch(tmp_path):
    """The compiled read path must reject an out-of-range union branch
    index exactly like decode() — a corrupt OCF with a negative index
    must raise, not silently decode via negative indexing (ADVICE r9).
    """
    from iceberg_catalog_bench_spark.catalog import avro_ocf

    schema = {"type": "record", "name": "r", "fields": [
        {"name": "x", "type": ["null", "long"]}]}
    p = str(tmp_path / "u.avro")
    avro_ocf.write_ocf(p, schema, [{"x": 5}], codec="null")
    body = bytearray(open(p, "rb").read())
    # the record body is the last block: union index zig-zag(1)=0x02
    # for branch 1 (long); flip it to zig-zag(-1)=0x01
    idx = body.rindex(b"\x02\x0a")  # branch-1 marker + zig-zag(5)
    body[idx] = 0x01
    open(p, "wb").write(bytes(body))
    with pytest.raises(ValueError, match="union branch"):
        avro_ocf.read_ocf(p)


def test_hybrid_bm25_rrf_plan(spark):
    """The fused plan keeps both legs as top-k heaps: no SortMergeJoin
    anywhere (the 50-row legs broadcast), TakeOrdered serves the
    per-leg candidate cuts."""
    from iceberg_catalog_bench_spark.operators.similarity import (
        hybrid_search_bm25_rrf,
    )
    from tests.conftest import SF_DIR

    df = hybrid_search_bm25_rrf(spark, SF_DIR)
    df.collect()  # AQE: final plan only exists after an action
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "TakeOrdered" in plan


def test_streaming_sink_partition_fanout(spark, tmp_path):
    """The Python write path records partition values whenever every
    spec field is exactly computable (here: murmur3 ibucket) — a
    streamed commit into a bucketed table PRUNES from the first
    micro-batch, no compaction wait."""
    from iceberg_catalog_bench_spark.catalog.iceberg_bucket import (
        iceberg_bucket,
    )
    from iceberg_catalog_bench_spark.catalog.table import LakeTable
    from iceberg_catalog_bench_spark.streaming.table_source import (
        register_source,
    )
    from pyspark.sql import functions as F

    register_source(spark)
    src = LakeTable.create(spark, str(tmp_path / "src"),
                           "k bigint, v string")
    src.append(spark.range(32).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), "id").alias("v")))
    dst = LakeTable.create(spark, str(tmp_path / "dst"),
                           "k bigint, v string",
                           partition_by=["ibucket(4, k)"])
    q = (
        spark.readStream.format("laketable").option("path", src.path).load()
        .writeStream.format("laketable").option("path", dst.path)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    dst = LakeTable.load(spark, dst.path)
    snap = dst._snapshot(dst._meta["current_snapshot_id"])
    assert dst.read().count() == 32
    # every streamed file carries its murmur3 ordinal
    assert all("_p_ibucket_k" in f.partition for f in snap.files)
    assert {f.partition["_p_ibucket_k"] for f in snap.files} == \
        {str(iceberg_bucket(i, 4)) for i in range(32)}
    kept = dst._prune_files(snap.files, "k = 7")
    assert 0 < len(kept) < len(snap.files)
    assert all(f.partition["_p_ibucket_k"] == str(iceberg_bucket(7, 4))
               for f in kept)
    assert [r.v for r in dst.read().where("k = 7").collect()] == ["v7"]


def test_streaming_sink_fanout_disabled_for_nonreproducible(spark, tmp_path):
    """A spec field the Python path can't render EXACTLY (identity over
    a double: Spark and Python spell floats differently) disables
    fanout entirely — files are unkeyed (never-prune, the old
    conservative behavior), never wrongly keyed."""
    from iceberg_catalog_bench_spark.catalog.table import LakeTable
    from iceberg_catalog_bench_spark.streaming.table_source import (
        register_source,
    )
    from pyspark.sql import functions as F

    register_source(spark)
    src = LakeTable.create(spark, str(tmp_path / "src"),
                           "k bigint, x double")
    src.append(spark.range(8).select(
        F.col("id").alias("k"), (F.col("id") * 1e7).alias("x")))
    dst = LakeTable.create(spark, str(tmp_path / "dst"),
                           "k bigint, x double", partition_by=["x"])
    q = (
        spark.readStream.format("laketable").option("path", src.path).load()
        .writeStream.format("laketable").option("path", dst.path)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    dst = LakeTable.load(spark, dst.path)
    snap = dst._snapshot(dst._meta["current_snapshot_id"])
    assert dst.read().count() == 8
    assert all(f.partition == {} for f in snap.files)


def test_streaming_sink_keys_legacy_bucket_as_the_jvm_path(spark, tmp_path):
    """Legacy xxhash64 ``bucket(4, k)``: the sink keys its files with
    the values the JVM write path records for the same rows, a point
    lookup prunes them, and the rows are unchanged."""
    from iceberg_catalog_bench_spark.catalog.table import LakeTable
    from iceberg_catalog_bench_spark.streaming.table_source import (
        register_source,
    )
    from pyspark.sql import functions as F

    register_source(spark)
    rows = spark.range(40).select(
        F.when(F.col("id") < 38, F.col("id")).alias("k"),
        F.concat(F.lit("v"), "id").alias("v"))
    src = LakeTable.create(spark, str(tmp_path / "src"),
                           "k bigint, v string")
    src.append(rows)
    jvm = LakeTable.create(spark, str(tmp_path / "jvm"),
                           "k bigint, v string",
                           partition_by=["bucket(4, k)"])
    jvm.append(rows)
    dst = LakeTable.create(spark, str(tmp_path / "dst"),
                           "k bigint, v string",
                           partition_by=["bucket(4, k)"])
    q = (
        spark.readStream.format("laketable").option("path", src.path).load()
        .writeStream.format("laketable").option("path", dst.path)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    dst = LakeTable.load(spark, dst.path)

    def keyed_rows(t):
        files = t._snapshot(t._meta["current_snapshot_id"]).files
        assert all(set(f.partition) == {"_p_bucket_k"} for f in files)
        part = {os.path.basename(f.path): f.partition["_p_bucket_k"]
                for f in files}
        df = t._read_entries(files, t._meta["current_schema_version"],
                             with_file_path=True)
        return files, {(r.k, r.v, part[os.path.basename(r._lake_file)])
                       for r in df.collect()}

    files, got = keyed_rows(dst)
    assert len(got) == 40 and got == keyed_rows(jvm)[1]
    kept = dst._prune_files(files, "k = 7")
    assert 0 < len(kept) < len(files)
    assert [r.v for r in dst.scan("k = 7").collect()] == ["v7"]


def test_batch_writer_partition_fanout_and_nulls(spark, tmp_path):
    """df.write.format('laketable') fans out too; null keys land in
    the hive null sentinel and a point lookup drops that file."""
    from iceberg_catalog_bench_spark.catalog.iceberg_bucket import (
        iceberg_bucket,
    )
    from iceberg_catalog_bench_spark.catalog.table import LakeTable
    from iceberg_catalog_bench_spark.streaming.table_source import (
        register_source,
    )

    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"),
                         "k bigint, v string",
                         partition_by=["ibucket(4, k)"])
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(16)] + [(None, "nullrow")],
        "k bigint, v string")
    df.write.format("laketable").option("path", t.path).mode("append").save()
    t = LakeTable.load(spark, t.path)
    snap = t._snapshot(t._meta["current_snapshot_id"])
    assert t.read().count() == 17
    vals = {f.partition.get("_p_ibucket_k") for f in snap.files}
    assert "__HIVE_DEFAULT_PARTITION__" in vals
    assert {str(iceberg_bucket(i, 4)) for i in range(16)} <= vals
    kept = t._prune_files(snap.files, "k = 7")
    assert all(f.partition["_p_ibucket_k"] == str(iceberg_bucket(7, 4))
               for f in kept)
    assert 0 < len(kept) < len(snap.files)


def test_repair_never_quarantines_delete_files(spark, tmp_path):
    """A missing DELETE file is unrepairable by quarantine — dropping
    it would silently resurrect the rows it tombstoned. Repair must
    leave the entry, report it, and still fix the rest."""
    from tests.test_iceberg_adopt import _write_foreign_chain

    mp = _write_foreign_chain(str(tmp_path / "f"))
    eq = os.path.join(str(tmp_path / "f"), "data", "eq1.parquet")
    os.remove(eq)
    acts = repair_iceberg_metadata(mp)
    dels = [a for a in acts if a["code"] == "missing-delete-file"]
    assert dels and all(a["action"] == "unrepairable" for a in dels)
    assert all("RESURRECT" in a["detail"] for a in dels)
    # the entry is still in the manifest (validate still errors on it)
    assert any(f["code"] == "missing-data-file"
               for f in validate_iceberg_metadata(mp))


def test_merge_with_schema_evolution(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION (the Spark 4 / Iceberg clause):
    unknown source columns are ADDED to the target (metadata-only,
    null default) so UPDATE SET * / INSERT * carry them; without the
    clause they are ignored — the pre-existing contract."""
    from iceberg_catalog_bench_spark.catalog.table import LakeTable
    from iceberg_catalog_bench_spark.engine import SqlEngine

    engine = SqlEngine(spark, str(tmp_path / "wh"))
    engine.execute("CREATE TABLE mt (k BIGINT, a STRING)")
    engine.execute("INSERT INTO mt VALUES (1, 'a1'), (2, 'a2')")

    # without the clause: the extra source column is ignored
    engine.execute(
        "MERGE INTO mt USING (VALUES (2, 'a2x', 'b2')) AS s(k, a, b) "
        "ON mt.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *")
    rows = engine.execute("SELECT * FROM mt ORDER BY k")[-1].rows
    assert [tuple(r.values()) for r in rows] == [(1, "a1"), (2, "a2x")]

    # with the clause: column b lands, populated for merged rows and
    # null for untouched ones
    engine.execute(
        "MERGE WITH SCHEMA EVOLUTION INTO mt "
        "USING (VALUES (2, 'a2y', 'b2'), (3, 'a3', 'b3')) AS s(k, a, b) "
        "ON mt.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *")
    rows = engine.execute("SELECT k, a, b FROM mt ORDER BY k")[-1].rows
    assert [tuple(r.values()) for r in rows] == [
        (1, "a1", None), (2, "a2y", "b2"), (3, "a3", "b3")]
    # evolution bumped the schema version; old files never rewritten
    t = LakeTable.load(spark, engine._table_path("mt"))
    assert t._meta["current_schema_version"] >= 1
    fields = {f.name: f.type for f in t._fields()}
    assert fields["b"] == "string"

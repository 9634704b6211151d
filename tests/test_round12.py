"""Round-12 regression pins.

ADVICE r11 fixes first (hilbert column-count guard, position_deletes
URL-encoded-path attribution, INSERT col-list error hygiene), then the
round's feature pins land in their own test modules
(tests/test_iceberg_nested.py, tests/test_table_source_nested.py,
tests/test_puffin.py).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from iceberg_catalog_bench_spark.catalog import LakeTable
from iceberg_catalog_bench_spark.catalog.hilbert import hilbert_index
from iceberg_catalog_bench_spark.engine.sql_frontend import SqlEngine


def test_hilbert_zero_bits_refuses():
    """ADVICE r11: bits=0 used to pass the k*bits>64 guard and then
    np.uint64(bits-1) underflowed to 2**64-1 — garbage indexes instead
    of an error."""
    with pytest.raises(ValueError, match="at least 1 bit"):
        hilbert_index(np.zeros((4, 2), dtype=np.uint64), 0)


def test_rewrite_hilbert_too_many_columns_refuses(spark, tmp_path):
    """ADVICE r11: 64+ hilbert columns → 63//k == 0 bits per dimension;
    refuse loudly instead of emitting a constant-zero curve index."""
    ncols = 64
    ddl = ", ".join(f"c{i} bigint" for i in range(ncols))
    t = LakeTable.create(spark, str(tmp_path / "h64"), ddl)
    t.append(spark.range(4).select(
        *[F.col("id").alias(f"c{i}") for i in range(ncols)]))
    with pytest.raises(ValueError, match="at most 63 columns"):
        t.rewrite_hilbert([f"c{i}" for i in range(ncols)])


def test_position_deletes_url_encoded_table_path(spark, tmp_path):
    """ADVICE r11 + a worse class found while fixing it: Spark's
    ``_metadata.file_path`` / ``input_file_name()`` are PERCENT-ENCODED
    URIs (space → %20), so for a table under a directory WITH A SPACE
    (a) `.position_deletes` silently emitted NULL owner columns, and
    (b) far worse, MoR tombstones recorded the ENCODED spelling, the
    `referenced` attribution in ``_write_delete_files`` never matched
    the raw table path, and READS SILENTLY SKIPPED THE DELETE — a
    DELETE that reported success but removed nothing. ``_lake_file``
    is now percent-decoded at projection so every path match happens
    in the raw-path domain (also the Iceberg spec's convention for
    position-delete ``file_path`` strings)."""
    d = tmp_path / "odd dir" / "t"
    t = LakeTable.create(
        spark, str(d), "id bigint, v double",
        properties={"write.delete.mode": "merge-on-read"},
    )
    t.append(spark.range(100).select(
        F.col("id"), (F.col("id") * 1.5).alias("v")))
    t.delete_where("id < 7")
    rows = t.position_deletes().collect()
    assert len(rows) == 7
    for r in rows:
        assert r["delete_file_path"] is not None, \
            "owning delete file must resolve under URL-encoded paths"
        assert r["sequence_number"] is not None
    # and the MoR read still applies the tombstones
    assert t.read().count() == 93
    # copy-on-write under the same path: the row-level write's per-file
    # probe matches decoded paths against raw entry paths
    t2 = LakeTable.create(
        spark, str(tmp_path / "odd dir" / "t2"), "id bigint, v double")
    t2.append(spark.range(50).select(
        F.col("id"), (F.col("id") * 2.0).alias("v")))
    t2.delete_where("id >= 40")
    assert t2.read().count() == 40
    t2.update({"v": "v + 1000"}, "id = 0")
    assert t2.read().filter("id = 0").collect()[0]["v"] == 1000.0


def test_insert_collist_error_hygiene(spark, tmp_path):
    """ADVICE r11: the unknown-column error wrapped a single name to
    look like a list literal, and a trailing comma produced an
    empty-string 'column' with the same opaque message."""
    engine = SqlEngine(spark, str(tmp_path / "wh"))
    engine.execute("CREATE TABLE eh (id BIGINT, v DOUBLE)")
    with pytest.raises(ValueError, match="unknown INSERT column 'nope'"):
        engine.execute("INSERT INTO eh (nope) VALUES (1)")
    with pytest.raises(ValueError, match="empty entry"):
        engine.execute("INSERT INTO eh (id,) VALUES (1)")


def test_call_system_export_table(spark, tmp_path):
    """CALL system.export_table — the outbound half of the interop
    loop gets a SQL spelling (register/sync/validate/repair already
    had theirs): exports the chain, reports the statistics ride-along,
    and the emitted file round-trips through register_table."""
    engine = SqlEngine(spark, str(tmp_path / "wh"))
    engine.execute("CREATE TABLE ex (id BIGINT, v DOUBLE)")
    engine.execute("INSERT INTO ex VALUES (1, 1.5), (2, 2.5)")
    engine.execute("ANALYZE TABLE ex COMPUTE STATISTICS")
    r = engine.execute(
        "CALL system.export_table(table => 'ex', "
        "manifest_format => 'avro')")[0].rows[0]
    assert r["snapshots_count"] == 1
    assert r["statistics_files_count"] == 1  # ANALYZE rode along
    r2 = engine.execute(
        "CALL system.register_table(table => 'ex2', "
        f"metadata_file => '{r['metadata_file']}')")[0].rows[0]
    assert r2["total_records_count"] == 2
    got = engine.execute("SELECT id, v FROM ex2 ORDER BY id")[0].rows
    assert [(x["id"], x["v"]) for x in got] == [(1, 1.5), (2, 2.5)]


def test_sql_analyze_struct_leaf_columns(spark, tmp_path):
    """ANALYZE ... FOR COLUMNS accepts dotted struct-leaf paths — the
    same spelling the prune grammar, leaf stats and Puffin export use
    (r12 struct-leaf statistics extension)."""
    engine = SqlEngine(spark, str(tmp_path / "wh"))
    engine.execute("CREATE TABLE st (id BIGINT, "
                   "meta STRUCT<lang: STRING, n: INT>)")
    engine.execute(
        "INSERT INTO st VALUES (1, struct('en', 5)), (2, struct('de', 7))")
    r = engine.execute(
        "ANALYZE TABLE st COMPUTE STATISTICS FOR COLUMNS id, meta.n")[0]
    cols = r.metadata["stats"]["columns"]
    assert cols["meta.n"] == {"ndv": 2, "null_count": 0}
    assert cols["id"]["ndv"] == 2

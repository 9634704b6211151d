"""Round-15 optimization pins.

Each test pins an internals change from the optimization round:
the lambda-bound shingle expression (semantics vs the pre-r15 inline
form + the single-split perf property), the load_table schema cache
(hit, and invalidation on file change), and the pinned fanout-write
width (AQE must not serialize the partitionBy writer)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_bench_spark.functions import shingles_expr


def _old_inline_shingles(col: str, n: int) -> str:
    # the pre-r15 form: split(trim(col)) inlined at every index
    words = f"split(trim({col}), ' ')"
    concat = ", ' ', ".join(f"{words}[i+{k}]" for k in range(n))
    return (
        f"CASE WHEN size({words}) < {n} THEN array() "
        f"ELSE array_distinct(transform(sequence(0, size({words}) - {n}), "
        f"i -> concat({concat}))) END"
    )


def test_shingles_expr_splits_once():
    """The perf property itself: the text is split exactly once per
    row. Spark does no loop-invariant hoisting inside HOF lambdas, so
    every extra inline split( re-splits the document per shingle —
    the 13x regression this round removed."""
    for n in (2, 3, 5):
        assert shingles_expr("text", n).count("split(") == 1


@pytest.mark.parametrize("n", [2, 3, 5])
def test_shingles_expr_matches_pre_r15_form(spark, n):
    """Value-identical to the inline form on the edge cases: empty
    text, whitespace-only, < n tokens, exactly n, duplicate shingles,
    multi-space runs (split('', ' ') semantics preserved)."""
    rows = [
        (1, ""),
        (2, "   "),
        (3, "one"),
        (4, "one two"),
        (5, "one two three"),
        (6, "a b a b a b"),
        (7, "x  y   z"),
        (8, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    new = df.select("doc_id", F.expr(shingles_expr("text", n)).alias("s"))
    old = df.select("doc_id", F.expr(_old_inline_shingles("text", n)).alias("s"))
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_load_table_schema_cache_hits_and_invalidates(spark, tmp_path):
    from iceberg_catalog_bench_spark.sources import tables as tmod

    p = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id AS a").coalesce(1).write.parquet(p)
    tmod._SCHEMA_CACHE.clear()
    df1 = tmod._read_parquet_cached(spark, p)
    assert len(tmod._SCHEMA_CACHE) == 1
    df2 = tmod._read_parquet_cached(spark, p)
    assert df2.schema == df1.schema and len(tmod._SCHEMA_CACHE) == 1
    # rewrite the file with a different schema: the (mtime, size) key
    # must miss and the new schema must be served
    shutil.rmtree(p)
    spark.range(3).selectExpr("id AS a", "id AS b").coalesce(1).write.parquet(p)
    df3 = tmod._read_parquet_cached(spark, p)
    assert set(df3.columns) == {"a", "b"}
    assert df3.count() == 3


def test_schema_cache_sees_nested_part_file_rewrite(spark, tmp_path):
    """A part file rewritten in place inside a partition subdirectory
    changes no directory entry, so only a recursive listing key sees
    it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_catalog_bench_spark.sources import tables as tmod

    root = tmp_path / "t"
    part = root / "p=1" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(pa.table({"a": [1, 2, 3]}), part)
    tmod._SCHEMA_CACHE.clear()
    assert set(tmod._read_parquet_cached(spark, str(root)).columns) == {"a", "p"}
    pq.write_table(pa.table({"a": [1, 2, 3], "b": [4, 5, 6]}), part)
    df = tmod._read_parquet_cached(spark, str(root))
    assert set(df.columns) == {"a", "b", "p"}
    assert df.count() == 3


def test_fanout_write_width_not_coalesced(spark, tmp_path):
    """The fanout write must repartition at the session's configured
    shuffle width, not AQE's byte-coalesced 1-3 tasks (which would
    create every partition's files serially).

    r16 (ADVICE r15): asserted from the OUTPUT — every write task
    stamps its partition index into its file names (part-NNNNN-...),
    so the number of distinct task indices across the written files
    IS the parallelism the writer ran at. No _jsc/statusStore
    internals (brittle across Spark versions, local-mode-only)."""
    import os
    import re

    from iceberg_catalog_bench_spark.catalog import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        "id bigint, k bigint",
        partition_by=["bucket(8, k)"],
    )
    t.append(spark.range(10_000).selectExpr("id", "id AS k"))
    tasks = set()
    for dirpath, _dirs, files in os.walk(str(tmp_path / "t")):
        for fn in files:
            m = re.match(r"part-(\d+)-", fn)
            if m and fn.endswith(".parquet"):
                tasks.add(int(m.group(1)))
    # 8 bucket values hashed into the pinned width land in ~6-8
    # distinct tasks; AQE byte-coalescing would leave 1-3
    assert len(tasks) >= 4, (
        f"fanout write ran at width {len(tasks)} — AQE coalesced it"
    )

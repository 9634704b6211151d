"""LakeTable row-level ops: DELETE, UPDATE and MERGE.

All three run through one write (``LakeTable._row_level_write``):
copy-on-write rewrites the files holding touched rows, merge-on-read
tombstones the touched rows and appends their new images. Each op here
runs under both modes on two copies of the same table; both must give
the rows a plain-Python model predicts and the same summary counts.
The job-count tests pin the Spark jobs each op starts, and the last
test pins pruning against each file's own schema version.
"""

from collections import Counter
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_bench_spark.catalog.table import LakeTable

SCHEMA = "user_id bigint, ts timestamp, amount double, city string"
MODES = ("copy-on-write", "merge-on-read")
COUNT_KEYS = ("deleted_rows", "updated_rows", "matched_rows",
              "by_source_rows", "inserted_rows")


def _model_rows():
    """60 rows over two days; every 7th amount is NULL, so predicates
    on it are NULL for those rows."""
    return [
        {"user_id": i,
         "ts": datetime(2024, 1, 1 + i // 30, 0, 0, i % 60),
         "amount": None if i % 7 == 0 else i * 1.5,
         "city": f"c{i % 3}"}
        for i in range(60)
    ]


def _table(spark, path):
    t = LakeTable.create(spark, path, SCHEMA,
                         partition_by=["days(ts)", "bucket(4, user_id)"])
    rows = _model_rows()
    for day in (rows[:30], rows[30:]):
        t.append(spark.createDataFrame(
            [tuple(r.values()) for r in day], SCHEMA))
    return t


SRC_ROWS = [  # two matched keys (4, 35), two new ones (100, 101)
    (4, datetime(2024, 1, 1), 9.0, "s4"),
    (35, datetime(2024, 1, 2), 99.0, "s35"),
    (100, datetime(2024, 1, 3), 1.0, "new"),
    (101, datetime(2024, 1, 3), 2.0, "skip"),
]
SRC_KEYS = {r[0] for r in SRC_ROWS}


def _src(spark):
    return spark.createDataFrame(SRC_ROWS, SCHEMA)


def _src_row(key):
    return dict(zip(("user_id", "ts", "amount", "city"),
                    next(r for r in SRC_ROWS if r[0] == key)))


def _gt(v, x):
    """SQL ``v > x``: NULL is not greater than anything."""
    return v is not None and v > x


def _merge_model(rows, *, update=None, update_if=None, delete_if=None,
                 insert_if=None, bys_update=None, bys_delete_if=None):
    """MERGE by ``user_id`` against ``SRC_ROWS``: per target row,
    matched delete, then matched update; per unmatched target row,
    by-source delete, then by-source update; then the inserts."""
    out, counts = [], Counter()
    for r in rows:
        if r["user_id"] in SRC_KEYS:
            s = _src_row(r["user_id"])
            counts["matched_rows"] += 1
            if delete_if and delete_if(r, s):
                continue
            if update and (update_if is None or update_if(r, s)):
                r = {**r, **update(r, s)}
        elif bys_delete_if or bys_update:
            if bys_delete_if and bys_delete_if(r):
                counts["by_source_rows"] += 1
                continue
            if bys_update:
                counts["by_source_rows"] += 1
                r = {**r, **bys_update(r)}
        out.append(r)
    target_keys = {r["user_id"] for r in rows}
    for key in sorted(SRC_KEYS - target_keys):
        s = _src_row(key)
        if insert_if is None or insert_if(s):
            out.append(s)
            counts["inserted_rows"] += 1
    return out, counts


def _delete_model(rows):
    kept = [r for r in rows if not _gt(r["amount"], 40)]
    return kept, Counter(deleted_rows=len(rows) - len(kept))


def _update_model(rows):
    out, n = [], 0
    for r in rows:
        if r["user_id"] in (3, 7, 31):
            n += 1
            r = {**r, "city": "u",
                 "amount": None if r["amount"] is None else r["amount"] + 1}
        out.append(r)
    return out, Counter(updated_rows=n)


CASES = {
    # NULL amounts make the predicate NULL: those rows stay
    "delete": (
        lambda t, spark, m: t.delete_where("amount > 40", mode=m),
        _delete_model),
    "update": (
        lambda t, spark, m: t.update(
            {"amount": "amount + 1", "city": "'u'"},
            "user_id IN (3, 7, 31)", mode=m),
        _update_model),
    "merge_update_all": (
        lambda t, spark, m: t.merge(
            _src(spark), ["user_id"], when_matched_update="*", mode=m),
        lambda rows: _merge_model(
            rows, update=lambda r, s: {k: s[k] for k in ("ts", "amount", "city")})),
    "merge_conditional_update_and_insert": (
        lambda t, spark, m: t.merge(
            _src(spark), ["user_id"],
            when_matched_update={"amount": "src_amount + amount"},
            when_matched_update_condition="src_amount > 10",
            when_not_matched_insert="city <> 'skip'", mode=m),
        lambda rows: _merge_model(
            rows, update=lambda r, s: {"amount": None if r["amount"] is None
                                       else s["amount"] + r["amount"]},
            update_if=lambda r, s: s["amount"] > 10,
            insert_if=lambda s: s["city"] != "skip")),
    "merge_matched_delete": (
        lambda t, spark, m: t.merge(
            _src(spark), ["user_id"], when_matched_delete="src_amount > 10",
            when_not_matched_insert=False, mode=m),
        lambda rows: _merge_model(
            rows, delete_if=lambda r, s: s["amount"] > 10, insert_if=lambda s: False)),
    "merge_by_source_update_and_delete": (
        lambda t, spark, m: t.merge(
            _src(spark), ["user_id"], when_matched_update="*",
            when_not_matched_by_source_update={"city": "'gone'"},
            when_not_matched_by_source_delete="amount > 60", mode=m),
        lambda rows: _merge_model(
            rows, update=lambda r, s: {k: s[k] for k in ("ts", "amount", "city")},
            bys_update=lambda r: {"city": "gone"},
            bys_delete_if=lambda r: _gt(r["amount"], 60))),
    "merge_by_source_delete": (
        lambda t, spark, m: t.merge(
            _src(spark), ["user_id"],
            when_not_matched_by_source_delete="user_id < 10",
            when_not_matched_insert=False, mode=m),
        lambda rows: _merge_model(
            rows, bys_delete_if=lambda r: r["user_id"] < 10,
            insert_if=lambda s: False)),
}


def _multiset(rows):
    return Counter(tuple(r[c] for c in ("user_id", "ts", "amount", "city"))
                   for r in rows)


@pytest.mark.parametrize("case", sorted(CASES))
def test_modes_agree_with_model(spark, tmp_path, case):
    op, model = CASES[case]
    want_rows, want_counts = model(_model_rows())
    for mode in MODES:
        t = _table(spark, str(tmp_path / mode))
        before = t._snapshot()
        snap = op(t, spark, mode)
        got = _multiset(r.asDict() for r in t.read().collect())
        assert got == _multiset(want_rows), mode
        counts = {k: snap.summary[k] for k in COUNT_KEYS if k in snap.summary}
        assert counts == {k: want_counts[k] for k in counts}, mode
        assert set(counts) == {
            "delete": {"deleted_rows"}, "update": {"updated_rows"},
        }.get(case, {"matched_rows", "by_source_rows", "inserted_rows"})
        if mode == "merge-on-read":
            # tombstones and new files only; every data file stays
            assert {e.path for e in before.files} <= {e.path for e in snap.files}
            assert snap.summary["mode"] == "merge-on-read"
        else:
            assert "added_delete_files" not in snap.summary
            assert not snap.delete_files


@pytest.mark.parametrize("mode", MODES)
def test_row_ops_that_touch_nothing(spark, tmp_path, mode):
    """A no-op still commits, with the summary each op always wrote."""
    t = _table(spark, str(tmp_path / "t"))
    files = {e.path for e in t._snapshot().files}
    d = t.delete_where("user_id = 999", mode=mode).summary
    u = t.update({"city": "'x'"}, "user_id = 999", mode=mode).summary
    m = t.merge(_src(spark).filter("user_id > 99"), ["user_id"],
                when_not_matched_insert=False, mode=mode).summary
    assert {e.path for e in t._snapshot().files} == files
    assert u == {"updated_rows": 0}
    zero = {"matched_rows": 0, "by_source_rows": 0, "inserted_rows": 0}
    if mode == "copy-on-write":
        assert d == {"deleted_rows": 0}
        assert m == {**zero, "rewritten_files": 0}
    else:
        mor = {"added_delete_files": 0, "mode": "merge-on-read"}
        assert d == {"deleted_rows": 0, **mor}
        assert m == {**zero, **mor}


def _jobs_rows(spark, lo, hi, day):
    return spark.range(lo, hi).select(
        F.col("id").alias("user_id"),
        (F.lit(f"{day} 00:00:00").cast("timestamp")
         + F.make_dt_interval(F.lit(0), F.lit(0), F.col("id") % 60)).alias("ts"),
        (F.col("id") * 1.5).alias("amount"),
        F.concat(F.lit("c"), (F.col("id") % 3).cast("string")).alias("city"),
    )


JOB_OPS = {
    "delete": lambda t, spark, m: t.delete_where("user_id IN (3, 5, 250)", mode=m),
    "update": lambda t, spark, m: t.update(
        {"amount": "amount * 2"}, "user_id IN (7, 260)", mode=m),
    "merge": lambda t, spark, m: t.merge(
        _src(spark).filter("user_id IN (4, 35)"), ["user_id"],
        when_matched_update="*", mode=m),
    "merge_by_source_delete": lambda t, spark, m: t.merge(
        _src(spark).filter("user_id IN (4, 35)"), ["user_id"],
        when_matched_update="*",
        when_not_matched_by_source_delete="user_id = 11", mode=m),
}
# Before DELETE, UPDATE and MERGE shared one write, these ops ran
# (copy-on-write/merge-on-read) delete 4/1, update 4/3, merge 14/16 and
# merge with a by-source delete 17/22 jobs. Merge-on-read MERGE no
# longer probes the target before reading it, and a by-source clause
# no longer adds a second probe and a second tombstone write.
JOB_PINS = {
    ("delete", "copy-on-write"): 4, ("delete", "merge-on-read"): 1,
    ("update", "copy-on-write"): 4, ("update", "merge-on-read"): 3,
    ("merge", "copy-on-write"): 14, ("merge", "merge-on-read"): 13,
    ("merge_by_source_delete", "copy-on-write"): 14,
    ("merge_by_source_delete", "merge-on-read"): 15,
}


@pytest.mark.parametrize("op,mode", sorted(JOB_PINS))
def test_row_op_job_count(spark, tmp_path, spark_jobs, op, mode):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         partition_by=["days(ts)", "bucket(4, user_id)"])
    t.append(_jobs_rows(spark, 0, 200, "2024-01-01"))
    t.append(_jobs_rows(spark, 200, 400, "2024-01-02"))
    with spark_jobs() as jobs:
        JOB_OPS[op](t, spark, mode)
    assert jobs.count <= JOB_PINS[op, mode], jobs.sites


def test_bucket_prune_after_int_to_bigint_widening(spark, tmp_path):
    """Files written before ``alter_column_type`` recorded their bucket
    values at the old type: Spark hashes ``int`` with ``hashInt`` and
    ``bigint`` with ``hashLong``. Pruning must transform each literal at
    the type of each file's own schema version, or scans, deletes and
    updates silently miss rows."""
    t = LakeTable.create(spark, str(tmp_path / "t"), "k int, v string",
                         partition_by=["bucket(4, k)"])
    t.append(spark.range(20).selectExpr("CAST(id AS INT) AS k",
                                        "CAST(id AS STRING) AS v"))
    t.alter_column_type("k", "bigint")
    assert [i for i in range(20) if t.scan(f"k = {i}").count() != 1] == []
    assert sorted(r.k for r in t.scan("k IN (1, 2, 3)").collect()) == [1, 2, 3]
    t.delete_where("k = 5", mode="merge-on-read")
    assert t.read().filter("k = 5").count() == 0
    t.update({"v": "'x'"}, "k = 6", mode="merge-on-read")
    assert [r.v for r in t.read().filter("k = 6").collect()] == ["x"]
    assert t.read().count() == 19

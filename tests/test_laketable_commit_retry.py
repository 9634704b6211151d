"""The optimistic-commit retry contract of LakeTable's rebasing writers.

Each writer below re-plans its commit against the advanced ref head
and retries on ``CommitConflict`` (spec `:83`: concurrent writers, no
lost commits). Conflicts are forced deterministically: a rival handle
commits to the same ref right before the writer's commit attempt, so
the writer always enters ``_commit`` holding a stale head.

The ``commit_data_files`` / ``commit_streaming_files`` / ``add_files``
cases run on ``LakeTable.load(None, path)``: committing needs no
Spark session.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from iceberg_catalog_bench_spark.catalog import snapshots
from iceberg_catalog_bench_spark.catalog.table import (
    CommitConflict,
    FileEntry,
    LakeTable,
)

ATTEMPTS = 6
QUERY = "q"
BATCH = 3
SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("v", T.StringType()),
])


def _parquet(path: str, ids: list[int]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()),
                  "v": pa.array([f"v{i}" for i in ids])}),
        path,
    )


def _entries(root: str, tag: str) -> list[FileEntry]:
    """Two pre-written data files, the way executor tasks of the
    `laketable` writers hand them over for the commit."""
    out = []
    for k in range(2):
        rel = f"data/{tag}-{k}.parquet"
        _parquet(os.path.join(root, rel), [10 * k, 10 * k + 1])
        out.append(FileEntry(rel, 2, os.path.getsize(os.path.join(root, rel)),
                             0, seq=None))
    return out


def _df(spark, ids):
    return spark.createDataFrame([(i, f"v{i}") for i in ids], SCHEMA)


# -- writer cases: (spark, root) -> (table handle, branch, call) -----------


def _append(spark, root):
    t = LakeTable.create(spark, root, SCHEMA)
    t.append(_df(spark, [1]))
    return t, None, lambda: t.append(_df(spark, [2]))


def _append_branch(spark, root):
    t = LakeTable.create(spark, root, SCHEMA)
    t.append(_df(spark, [1]))
    t.create_branch("audit")
    return t, "audit", lambda: t.append(_df(spark, [2]), branch="audit")


def _commit_data_files(spark, root):
    LakeTable.create(None, root, SCHEMA).commit_data_files(
        _entries(root, "seed"))
    t = LakeTable.load(None, root)
    files = _entries(root, "new")
    return t, None, lambda: t.commit_data_files(files)


def _commit_streaming_files(spark, root):
    LakeTable.create(None, root, SCHEMA)
    t = LakeTable.load(None, root)
    files = _entries(root, "batch")
    return t, None, lambda: t.commit_streaming_files(files, BATCH, QUERY)


def _overwrite_partitions(spark, root):
    t = LakeTable.create(spark, root, SCHEMA, partition_by=["v"])
    t.append(_df(spark, [1, 2]))
    return t, None, lambda: t.overwrite_partitions(_df(spark, [1]))


def _delete_by_keys(spark, root):
    t = LakeTable.create(spark, root, SCHEMA)
    t.append(_df(spark, [1, 2]))
    keys = spark.createDataFrame([(1,)], "id bigint")
    return t, None, lambda: t.delete_by_keys(keys)


def _upsert_by_keys(spark, root):
    t = LakeTable.create(spark, root, SCHEMA)
    t.append(_df(spark, [1, 2]))
    return t, None, lambda: t.upsert_by_keys(_df(spark, [2, 3]), on=["id"])


def _apply_cdc_batch(spark, root):
    t = LakeTable.create(spark, root, SCHEMA)
    t.append(_df(spark, [1, 2]))
    batch = spark.createDataFrame(
        [(1, "v1", "delete", 7), (3, "v3", "insert", 7)],
        "id bigint, v string, _change_type string, _commit_snapshot_id bigint",
    )
    return t, None, lambda: t.apply_cdc_batch(
        batch, on=["id"], batch_id=BATCH, query_id=QUERY)


def _cherrypick_snapshot(spark, root):
    t = LakeTable.create(spark, root, SCHEMA)
    t.append(_df(spark, [1]))
    t.create_branch("audit")
    staged = t.append(_df(spark, [2]), branch="audit")
    return t, None, lambda: t.cherrypick_snapshot(staged.snapshot_id)


def _add_files(spark, root):
    LakeTable.create(None, root, SCHEMA)
    t = LakeTable.load(None, root)
    src = os.path.join(os.path.dirname(root), "import")
    _parquet(os.path.join(src, "part-0.parquet"), [5, 6])
    return t, None, lambda: t.add_files(src)


def _compact_delete_files(spark, root):
    t = LakeTable.create(spark, root, SCHEMA,
                         properties={"write.delete.mode": "merge-on-read"})
    t.append(_df(spark, [1, 2, 3]))
    t.delete_where("id = 1")
    t.delete_where("id = 2")
    return t, None, t.compact_delete_files


WRITERS = {
    "append": (_append, True),
    "append_branch": (_append_branch, True),
    "commit_data_files": (_commit_data_files, False),
    "commit_streaming_files": (_commit_streaming_files, False),
    "overwrite_partitions": (_overwrite_partitions, True),
    "delete_by_keys": (_delete_by_keys, True),
    "upsert_by_keys": (_upsert_by_keys, True),
    "apply_cdc_batch": (_apply_cdc_batch, True),
    "cherrypick_snapshot": (_cherrypick_snapshot, True),
    "add_files": (_add_files, False),
    "compact_delete_files": (_compact_delete_files, True),
}
REPLAYABLE = {"commit_streaming_files", "apply_cdc_batch"}
CASES = [(w, s) for w in WRITERS for s in ("rebase", "exhaust")] + [
    (w, "replay") for w in sorted(REPLAYABLE)
]


def _rival(monkeypatch, t: LakeTable, branch, times: int, summary: dict):
    """Before each of the writer's first ``times`` commit attempts, a
    second handle commits an empty change to the same ref. Returns the
    writer's attempt log and the rival's snapshot ids."""
    rival = LakeTable.load(None, t.path)
    real = t._commit
    attempts, rival_ids = [], []

    def commit(*args, **kwargs):
        attempts.append(args[0])
        if len(attempts) <= times:
            rival._reload()
            cur = rival._ref_snapshot(branch)
            rival_ids.append(rival._commit(
                "append", list(cur.files) if cur else [], dict(summary),
                branch=branch).snapshot_id)
        return real(*args, **kwargs)

    monkeypatch.setattr(t, "_commit", commit)
    return attempts, rival_ids


def _unreferenced(t: LakeTable) -> list[str]:
    """Non-empty parquet files under the table's data dir that no
    retained snapshot references — never-published writer output."""
    t._reload()
    refs = set()
    for s in t._meta["snapshots"]:
        refs.update(f["path"] for f in s["files"])
        refs.update(d["path"] for d in s.get("delete_files") or [])
    out = []
    for dirpath, _dirs, names in os.walk(os.path.join(t.path, "data")):
        for n in names:
            full = os.path.join(dirpath, n)
            rel = os.path.relpath(full, t.path)
            if (n.endswith(".parquet") and rel not in refs
                    and pq.ParquetFile(full).metadata.num_rows > 0):
                out.append(rel)
    return sorted(out)


@pytest.mark.parametrize("writer,scenario", CASES)
def test_rebasing_writer_retry_contract(writer, scenario, request,
                                        monkeypatch, tmp_path):
    build, needs_spark = WRITERS[writer]
    spark = request.getfixturevalue("spark") if needs_spark else None
    t, branch, call = build(spark, str(tmp_path / "t"))

    if scenario == "rebase":
        attempts, rival_ids = _rival(monkeypatch, t, branch, 1, {"rival": 1})
        call()
        assert len(attempts) == 2
        t._reload()
        head = snapshots.ref_head(t._meta, branch)
        chain = [s["snapshot_id"] for s in snapshots.ancestry(t._meta, head)]
        assert head not in rival_ids, "the writer's commit must land on top"
        assert rival_ids[0] in chain, "the rival's commit must survive"
        assert _unreferenced(t) == []
    elif scenario == "exhaust":
        attempts, _ = _rival(monkeypatch, t, branch, 99, {"rival": 1})
        with pytest.raises(CommitConflict):
            call()
        assert len(attempts) == ATTEMPTS
        if writer == "compact_delete_files":
            assert _unreferenced(t) == []
    else:  # a concurrent replay of the same batch lands first
        attempts, rival_ids = _rival(
            monkeypatch, t, branch, 1,
            {"streaming.query-id": QUERY, "streaming.batch-id": BATCH})
        assert call() is None
        assert len(attempts) == 1
        t._reload()
        assert t._meta["current_snapshot_id"] == rival_ids[0]
        assert _unreferenced(t) == []

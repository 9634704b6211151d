"""Spark-free property tests for ``catalog.snapshots``, the snapshot
graph that LakeTable and the laketable stream source resolve through.

Each case builds a seeded random history directly as metadata dicts —
main appends and row-level commits, branch commits, fast-forwards and
expiry of a prefix of the snapshot list — while a model keeps every
snapshot ever committed. The graph functions are then checked against
that model: tolerant vs strict ancestry, timestamp resolution, change
sets and lookups of expired ids.
"""
import os
import random
import subprocess
import sys

import pytest

from iceberg_catalog_bench_spark.catalog import snapshots

pytestmark = pytest.mark.spark_free

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEEDS = range(150)


def _history(seed: int):
    """(meta, model) after a random run of commits; ``model`` maps every
    snapshot id ever committed to its record, expired or not."""
    rng = random.Random(seed)
    meta = {"snapshots": [], "current_snapshot_id": None, "branches": {}}
    model: dict[int, dict] = {}
    clock = [1_000]
    counter = [0]

    def fresh(prefix: str) -> str:
        counter[0] += 1
        return f"{prefix}-{counter[0]}.parquet"

    def commit(parent: int | None, op: str) -> int:
        base = model[parent] if parent else {"files": [], "delete_files": []}
        files = list(base["files"])
        dels = list(base["delete_files"])
        if op == "append":
            files += [{"path": fresh("data")} for _ in range(rng.randint(1, 3))]
        elif op == "overwrite" and files:  # copy-on-write rewrite
            files.remove(rng.choice(files))
            files.append({"path": fresh("data")})
        elif op == "delete" and files:  # merge-on-read tombstone
            dels.append({"path": fresh("del"),
                         "referenced": [rng.choice(files)["path"]]})
        else:
            op = "append"
            files.append({"path": fresh("data")})
        clock[0] += rng.randint(1, 5)
        sid = max(model, default=0) + 1
        rec = {"snapshot_id": sid, "parent_id": parent,
               "timestamp_ms": clock[0], "operation": op,
               "files": files, "delete_files": dels}
        model[sid] = rec
        meta["snapshots"].append(rec)
        return sid

    for _ in range(rng.randint(3, 30)):
        roll = rng.random()
        branches = meta["branches"]
        if roll < 0.45:
            meta["current_snapshot_id"] = commit(
                meta["current_snapshot_id"],
                rng.choice(["append", "append", "overwrite", "delete"]))
        elif roll < 0.75:
            name = f"b{rng.randint(0, 2)}"
            if name not in branches:
                branches[name] = meta["current_snapshot_id"]
            branches[name] = commit(branches[name], "append")
        elif roll < 0.85 and branches:
            name = rng.choice(sorted(branches))
            cur = meta["current_snapshot_id"]
            if branches[name] and (
                cur is None or cur in _model_chain(model, branches[name])
            ):
                meta["current_snapshot_id"] = branches[name]
        elif roll < 0.95 and len(meta["snapshots"]) > 1:
            refs = {meta["current_snapshot_id"], *branches.values()}
            snaps = meta["snapshots"]
            limit = next(
                (i for i, sn in enumerate(snaps) if sn["snapshot_id"] in refs),
                len(snaps),
            )
            meta["snapshots"] = snaps[rng.randint(0, limit):]
    return meta, model


def _model_chain(model: dict[int, dict], head: int | None) -> list[int]:
    """Every id on ``head``'s ancestry, newest first, expired or not."""
    out: list[int] = []
    while head:
        out.append(head)
        head = model[head]["parent_id"]
    return out


def _heads(meta: dict) -> list[int]:
    return [snapshots.ref_head(meta, None)] + [
        snapshots.ref_head(meta, b) for b in sorted(meta["branches"])
    ]


def _retained(meta: dict) -> set[int]:
    return {sn["snapshot_id"] for sn in meta["snapshots"]}


@pytest.mark.parametrize("seed", SEEDS)
def test_ancestry_tolerant_and_strict(seed):
    meta, model = _history(seed)
    retained = _retained(meta)
    rng = random.Random(seed)
    for head in _heads(meta):
        full = _model_chain(model, head)
        # tolerant: the retained prefix of the full chain
        expect: list[int] = []
        for sid in full:
            if sid not in retained:
                break
            expect.append(sid)
        got = snapshots.ancestry(meta, head)
        assert [sn["snapshot_id"] for sn in got] == expect
        if got:
            tail_parent = got[-1]["parent_id"]
            assert tail_parent is None or tail_parent not in retained
        # strict: every retained or expired ancestor, plus ids off the
        # ancestry (other branches' commits)
        for back_to in set(full) | set(rng.sample(sorted(model), min(4, len(model)))):
            if back_to == head:
                continue
            on_chain = back_to in full
            range_ids = full[: full.index(back_to) + 1] if on_chain else []
            if on_chain and all(s in retained for s in range_ids):
                chain = snapshots.ancestry(meta, head, back_to)
                assert [sn["snapshot_id"] for sn in chain] == range_ids[:-1]
            elif on_chain:
                with pytest.raises(ValueError, match="expired"):
                    snapshots.ancestry(meta, head, back_to)
            else:
                # the walk fails at the first expired ancestor, if any,
                # before it can tell that back_to is off the ancestry
                reason = ("not on the ref's ancestry"
                          if all(s in retained for s in full) else "expired")
                with pytest.raises(ValueError, match=reason):
                    snapshots.ancestry(meta, head, back_to)


@pytest.mark.parametrize("seed", SEEDS)
def test_as_of_stays_on_the_ancestry(seed):
    meta, model = _history(seed)
    lo = min(r["timestamp_ms"] for r in model.values()) - 1
    hi = max(r["timestamp_ms"] for r in model.values()) + 1
    for head in _heads(meta):
        chain = snapshots.ancestry(meta, head)
        on_chain = {sn["snapshot_id"] for sn in chain}
        for ts in range(lo, hi + 1):
            sn = snapshots.as_of(meta, ts, head)
            eligible = [c for c in chain if c["timestamp_ms"] <= ts]
            if sn is None:
                assert not eligible
                continue
            assert sn["snapshot_id"] in on_chain
            assert sn["timestamp_ms"] <= ts
            assert sn is eligible[0]  # the newest one at or before ts


@pytest.mark.parametrize("seed", SEEDS)
def test_changes_match_file_list_difference(seed):
    meta, model = _history(seed)
    retained = _retained(meta)
    for sn in meta["snapshots"]:
        pid = sn["parent_id"]
        if pid is not None and pid not in retained:
            with pytest.raises(KeyError, match="expired"):
                snapshots.changes(meta, sn)
            added, removed, new_dels = snapshots.changes(
                meta, sn, initial_load_ok=True)
            assert added == sn["files"] and not removed
            assert new_dels == sn["delete_files"]
            continue
        parent = model[pid] if pid is not None else {"files": [], "delete_files": []}
        now = {f["path"] for f in sn["files"]}
        before = {f["path"] for f in parent["files"]}
        added, removed, new_dels = snapshots.changes(meta, sn)
        assert {f["path"] for f in added} == now - before
        assert len(added) == len(now - before)
        assert removed == before - now
        assert {d["path"] for d in new_dels} == (
            {d["path"] for d in sn["delete_files"]}
            - {d["path"] for d in parent["delete_files"]}
        )


@pytest.mark.parametrize("seed", SEEDS)
def test_get_raises_on_expired_ids(seed):
    meta, model = _history(seed)
    retained = _retained(meta)
    for sid, rec in model.items():
        if sid in retained:
            assert snapshots.get(meta, sid) is rec
        else:
            with pytest.raises(KeyError, match=f"no snapshot {sid}"):
                snapshots.get(meta, sid)


def test_unknown_branch_is_both_lookup_and_value_error():
    meta = {"snapshots": [], "current_snapshot_id": None, "branches": {"a": None}}
    assert snapshots.ref_head(meta, None) == 0
    assert snapshots.ref_head(meta, "a") == 0
    for exc in (KeyError, ValueError):
        with pytest.raises(exc, match="no branch 'nope'"):
            snapshots.ref_head(meta, "nope")


def test_import_does_not_load_pyspark():
    code = (
        "import sys\n"
        "import iceberg_catalog_bench_spark.catalog.snapshots\n"
        "assert 'pyspark' not in sys.modules, sorted(\n"
        "    m for m in sys.modules if m.startswith('pyspark'))\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)

"""Structured-Streaming SOURCE over a LakeTable — stream the table's
committed appends, Iceberg's "streaming read" / incremental-consumption
surface (reference analogue: the spec's incremental pipelines around
snapshot lineage, ICEBERG-Interoperability-Test-Spec.md §7), built on
PySpark 4's Python DataSource API (`pyspark.sql.datasource`).

Usage::

    spark.dataSource.register(LakeTableDataSource)
    df = (spark.readStream.format("laketable")
          .option("path", table_root).load())
    # and as a streaming SINK (exactly-once appends into a LakeTable):
    q = (df.writeStream.format("laketable")
         .option("path", dest_root)
         .option("checkpointLocation", ck).start())

Semantics (mirrors Iceberg's Spark streaming read):

- **Offsets are (snapshot id, file position)** on the MAIN ancestry
  — the shape of Iceberg's ``StreamingOffset``. ``{"snapshot_id": N}``
  means commit N is fully consumed; ``{"snapshot_id": N, "pos": K}``
  means the first K files commit N added are consumed (a commit split
  across micro-batches by the rate limit below). A micro-batch covers
  the file range ``(start, end]``; its input partitions are the data
  files each covered snapshot ADDED vs its own parent — one partition
  per file, so parallelism tracks the commit's fanout.
- **Rate limiting**: ``option("max-files-per-trigger", N)`` bounds a
  micro-batch to ~N added files (Iceberg's
  ``streaming-max-files-per-micro-batch``) — the catch-up-storm
  control: a stream restarted hours behind drains in bounded batches
  instead of one giant one. Append commits split at file granularity;
  CDC / skipped commits advance atomically (a CDC commit's -D/+I
  records never straddle batches — commit atomicity is part of the
  feed contract). The Python DataSource API's ``latestOffset()``
  receives no start offset, so the cap base is tracked reader-side:
  fresh streams cap from snapshot 0, and on restart Spark replays the
  offset log's last entry through ``partitions(start, end)`` BEFORE
  the first ``latestOffset`` (verified against the Spark 4.1 runner),
  which re-seeds the base at the checkpointed position — the cap
  holds across restarts. Should a future runner call ``latestOffset``
  FIRST after a restart, the root-seeded cap either lands at/ahead of
  the checkpoint (the planned batch stays within the cap — budget was
  merely burned on already-consumed commits) or behind it, where
  ``partitions`` fails loudly on the offset regression (end behind
  start — also the rolled-back-table case) because Spark plans
  batches on offset INEQUALITY alone and would otherwise silently
  redeliver; both call orders are pinned by
  ``test_restart_latest_offset_call_order_contract``.
  **Cap × Trigger.AvailableNow = a PACED drain, not a full one**: the
  Python DataSource API has no admission-control hooks
  (``reportLatestOffset`` / ``latestOffset(start, limit)`` /
  ``prepareForTriggerAvailableNow`` — runner protocol is four calls:
  initial/latest/partitions/commit), so Spark's AvailableNow wrapper
  captures ONE ``latestOffset`` as the run's entire target and the
  capped offset IS that target. Each ``availableNow`` invocation
  therefore advances exactly ≤cap files and terminates; re-invoking
  on the same checkpoint continues from the watermark and CONVERGES
  to the head with no loss and no duplicates (pinned by
  ``test_capped_available_now_is_paced_and_converges``). Use an
  uncapped reader (the default) when one invocation must drain
  everything — the cap exists for continuous triggers.
- **Appends only (default mode).** A snapshot in the range that
  removed files or added delete files (delete/update/rewrite) raises
  by default — silently replaying its rewritten files would duplicate
  rows. ``option("skip-non-appends", "true")`` skips such snapshots
  instead (Iceberg's ``streaming-skip-delete/overwrite-snapshots``).
- **CDC mode** (``option("mode", "cdc")``): rows additionally carry
  ``_change_type`` ('insert' / 'delete') and ``_commit_snapshot_id``.
  Appended files stream as inserts; a merge-on-read commit's NEW
  delete files stream as delete records — an equality-delete file's
  key rows ARE the retractions (non-key columns null: the writer
  retracted blind, the values were never read), and a position-delete
  file re-reads the tombstoned rows from its referenced data files by
  position (matching recorded write-time paths by normalized absolute
  path OR table-relative suffix, so a moved/symlinked table keeps its
  -D records — and raising on zero matches rather than dropping them).
  Copy-on-write commits (rewritten files) are not expressible as a
  per-FILE row feed; with ``option("cow-changelog", "true")`` the
  source NETS them instead — a bucketed multiset diff of removed vs
  added files (``option("cdc-cow-buckets", K)`` for parallelism at K×
  read amplification over the CHANGED set) emitting only true -D/+I
  pairs, the streaming equivalent of ``LakeTable.changelog()``'s
  exceptAll; without the option they raise (or skip).
- **expire_snapshots interplay**: a FRESH stream on a table whose
  early history was expired starts from retained history — the oldest
  retained snapshot's cumulative file list is the initial load
  (Iceberg's semantics for new consumers), split under the rate limit
  with ``init``-marked offsets so positions stay stable. A CONSUMED
  offset whose boundary snapshot (or a partially-consumed snapshot's
  parent) was expired is unrecoverable and fails loudly: the next
  commit's change set diffs against the expired record's file list,
  and guessing would redeliver the whole table.
- **Start position** (stream): ``starting-snapshot-id`` /
  ``starting-timestamp`` start the stream AFTER the named/covered
  snapshot (exclusive — Iceberg's ``start-snapshot-id`` /
  ``stream-from-timestamp``): a new consumer of a 100 TB table
  subscribes to new commits without replaying the table's history.
- **Branch reads**: ``option("branch", name)`` streams (or
  batch-reads) a branch head's ancestry instead of main — the WAP
  audit feed.
- **Schema projection is by FIELD ID**, not name: each file entry
  records its writer-time schema version, so a column renamed since
  the file was written is still read (old physical name → current
  name), a column added since fills its declared default (or null),
  and a type widened since is cast — the same resolution rules the
  batch read path applies, re-implemented over Arrow because Python
  data sources read outside the JVM scan.

Scale shape: the driver-side planner touches ONLY the metadata JSON
(no data I/O — `latestOffset` is a stat + parse); workers read just
the files their partition names. Exactly-once end-to-end comes from
pairing this source with the checkpointed-batch-id sink
(`LakeTable.streaming_append`): source offsets replay deterministically
(same snapshot range → same files), the sink dedups on batch id.

The batch reader (`spark.read.format("laketable")`) exists for API
completeness / testing; production batch reads should use
``LakeTable.read()`` — the JVM parquet scan with manifest pruning and
merge-on-read delete application, none of which a Python-side reader
can match for throughput. It does, however, implement FILE-LEVEL
filter pushdown (``option("filter-pushdown", "true")`` together with
``spark.sql.python.filterPushdown.enabled=true`` — Spark refuses a
reader that defines ``pushFilters`` while that conf is off, hence the
opt-in): the table's own pruner (``catalog/pruning.py``, the one
``LakeTable.scan`` uses) drops whole files driver-side by partition
values and footer stats bound by field id, and the Arrow scan filters
rows worker-side, so selective reads ship only matching data.
"""

from __future__ import annotations

import datetime
import json
import os
import re
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from ..catalog import deletes, pruning, snapshots, transforms
from ..catalog._fsutil import unlink_quietly
from ..catalog.pruning import leaf_type as _nested_leaf_ddl
from ..catalog.pruning import split_top as _split_top

_META_REL = os.path.join("_meta", "metadata.json")

# Spark DDL type → pyarrow factory (primitives plus the full nested
# algebra — array/struct/map, arbitrarily composed — r13: struct/map
# joined array through the Python source/sink; Spark ships StructType
# as Arrow struct and MapType as Arrow map, so projection, widening
# casts and the parquet writers compose recursively).
_DDL_ARROW = {
    "bigint": "int64",
    "long": "int64",
    "int": "int32",
    "integer": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "double": "float64",
    "float": "float32",
    "string": "string",
    "boolean": "bool_",
    "binary": "binary",
    "date": "date32",
    "timestamp": "timestamp_us",
    "timestamp_ntz": "timestamp_us",
    # ANSI day-time interval (r15): Spark ships DayTimeIntervalType
    # through Arrow as duration[us] and stores it in parquet as plain
    # INT64 micros, so the read path is one int64→duration cast over
    # JVM-written files (pyarrow-written files round-trip the duration
    # type natively). YEAR TO MONTH stays refused — Spark's own Arrow
    # conversion rejects YearMonthIntervalType, so no python data
    # source can ship it. Only the full DAY TO SECOND range is
    # admitted: narrower unit ranges (e.g. HOUR TO MINUTE) are
    # distinct Spark types that all erase to the same micros on disk —
    # but the declared DDL in the table metadata fixes each column's
    # Spark-side type, so every day-time range is admitted (the
    # regex branch in _arrow_type); this entry keeps the canonical
    # full-range spelling in the supported-type table.
    "interval day to second": "duration_us",
    # VARIANT stays refused (measured r15): the Arrow CONVERSION works
    # (an annotated struct<value:binary,metadata:binary>), but Spark
    # writes variant columns with parquet's VARIANT LogicalType, which
    # this pyarrow cannot even open ("Thrift LogicalType that is not
    # recognized") — so the python reader could never read a
    # JVM-appended variant table, and a sink-only half-support would
    # corrupt mixed-writer tables. Revisit when pyarrow learns the
    # logical type.
}


def _erase_char_types(ddl: str) -> str:
    """Rewrite ``varchar(n)``/``char(n)`` to ``string`` at every
    nesting level — the type Spark itself ships through DataFrames."""
    t = ddl.strip()
    k = t.lower()
    if re.fullmatch(r"(var)?char\s*\(\s*\d+\s*\)", k):
        return "string"
    if k.startswith("array<") and k.endswith(">"):
        return f"array<{_erase_char_types(t[6:-1])}>"
    if k.startswith("map<") and k.endswith(">"):
        kv = _split_top(t[4:-1], ",")
        if len(kv) == 2:
            return (f"map<{_erase_char_types(kv[0])},"
                    f"{_erase_char_types(kv[1])}>")
        return t
    if k.startswith("struct<") and k.endswith(">"):
        items = []
        for item in _split_top(t[7:-1], ","):
            name, sep, sub = item.partition(":")
            items.append(f"{name}:{_erase_char_types(sub)}" if sep else item)
        return f"struct<{','.join(items)}>"
    return t


def _arrow_type(ddl: str):
    import pyarrow as pa

    raw = ddl.strip()
    key = raw.lower()
    if key.startswith("decimal"):
        m = re.match(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", key)
        p, s = (int(m.group(1)), int(m.group(2))) if m else (10, 0)
        return pa.decimal128(p, s)
    # Nested types recurse on the ORIGINAL string, not the lowered key:
    # struct field NAMES are case-preserved (they become Spark column
    # names), only type keywords are case-folded.
    if key.startswith("array<") and key.endswith(">"):
        # Spark ships ArrayType as Arrow list — projection, widening
        # cast (list<float> → list<double> is one Arrow cast) and the
        # parquet writers all handle list columns natively. Filter
        # pushdown never admits an array column (pushFilters is a
        # per-type allowlist), so the Arrow scan stays correct.
        return pa.list_(_arrow_type(raw[6:-1]))
    if key.startswith("struct<") and key.endswith(">"):
        fields = []
        for item in _split_top(raw[7:-1], ","):
            name, sep, sub = item.partition(":")
            if not sep:
                raise ValueError(f"malformed struct field {item!r} in {ddl!r}")
            fields.append(pa.field(name.strip().strip("`"), _arrow_type(sub)))
        return pa.struct(fields)
    if key.startswith("map<") and key.endswith(">"):
        kv = _split_top(raw[4:-1], ",")
        if len(kv) != 2:
            raise ValueError(f"malformed map type {ddl!r}")
        return pa.map_(_arrow_type(kv[0]), _arrow_type(kv[1]))
    if key.startswith("varchar") or key.startswith("char"):
        # Spark ships VARCHAR(n)/CHAR(n) as plain STRING through Arrow —
        # length enforcement happens at analysis/write time, never in
        # the batch format (r14 widening of the exotic-DDL refusal)
        return pa.string()
    if key.startswith("interval"):
        # EVERY day-time unit range ships as duration[us] (r15 —
        # verified per-range through the python source: the declared
        # DDL in the table metadata fixes the Spark-side type, so
        # ranges never alias each other on disk). Year-month ranges
        # fall through to the refusal: Spark's own Arrow conversion
        # rejects YearMonthIntervalType.
        if re.fullmatch(
            r"interval\s+(day|hour|minute|second)"
            r"(\s+to\s+(hour|minute|second))?", key,
        ):
            return pa.duration("us")
    if key not in _DDL_ARROW:
        raise NotImplementedError(
            f"laketable python source does not support type {ddl!r}"
        )
    name = _DDL_ARROW[key]
    if name == "timestamp_us":
        return pa.timestamp("us")
    if name == "duration_us":
        return pa.duration("us")
    return getattr(pa, name)()


def _load_meta(path: str) -> dict:
    from ..catalog.table import expand_meta

    with open(os.path.join(path, _META_REL)) as fh:
        return expand_meta(json.load(fh))


class _FilePartition(InputPartition):
    """One added data file. Carries the projection plan computed on the
    driver (current name → physical name in this file, or None with the
    field's declared default if it didn't exist at the file's schema
    version) so workers never open the metadata JSON. In CDC mode
    ``change``/``sid`` stamp the emitted rows with (_change_type,
    _commit_snapshot_id). ``filters`` are pushed-down predicates
    ((physical_name, op, value) triples) the worker hands to the Arrow
    scan — batch reads only."""

    def __init__(self, abs_path: str,
                 columns: list[tuple[str, str, str | None, object]],
                 change: str | None = None, sid: int | None = None,
                 filters: list[tuple] | None = None):
        self.abs_path = abs_path
        self.columns = columns  # (current_name, ddl, physical|None, default)
        self.change = change
        self.sid = sid
        self.filters = filters


class _EqDeletePartition(InputPartition):
    """One equality-delete file (CDC mode): its key rows are the -D
    records; non-key columns null-fill. ``columns`` maps every current
    field to its physical name INSIDE THE DELETE FILE (None for
    non-key fields)."""

    def __init__(self, abs_path: str, columns: list[tuple[str, str, str | None]],
                 sid: int):
        self.abs_path = abs_path
        self.columns = columns
        self.sid = sid


class _CowNetPartition(InputPartition):
    """One hash bucket of a copy-on-write commit's NET row changes
    (CDC mode with ``cow-changelog=true``): the multiset difference of
    the commit's removed files vs its added files — carried-over rows
    cancel, so an UPDATE surfaces as exactly its -D/+I pairs, the
    streaming equivalent of ``LakeTable.changelog()``'s exceptAll
    netting. Each bucket reads ALL changed files and keeps only rows
    whose stable hash lands in its bucket, so parallelism costs
    ``nbuckets×`` read amplification over the CHANGED set (never the
    table); memory per task is O(changed rows / nbuckets). Right-sized
    for targeted CoW updates (the common CDC case — a rewrite touches
    the affected files only); a full-table rewrite should use the
    batch ``changelog()``, where netting is a JVM shuffle."""

    def __init__(self, old_files: list[tuple[str, list]],
                 new_files: list[tuple[str, list]],
                 out_cols: list[tuple[str, str]],
                 bucket: int, nbuckets: int, sid: int):
        self.old_files = old_files  # (abs_path, projection quadruples)
        self.new_files = new_files
        self.out_cols = out_cols    # (name, ddl) of the current schema
        self.bucket = bucket
        self.nbuckets = nbuckets
        self.sid = sid


class _PosDeletePartition(InputPartition):
    """One referenced DATA file plus every position-delete file of the
    commit that tombstones rows in it (CDC mode): the -D records are
    the data file's rows at the union of tombstoned positions. Grouped
    BY DATA FILE on the driver — the expensive side (the data file) is
    read exactly once per partition; the delete files are KBs (paths +
    int64 positions) and re-reading them across partitions is noise.
    The per-pair alternative reads every data file once per delete
    part-file — D× the table scan for a fanout delete."""

    def __init__(self, delete_abs_list: list[str], data_abs: str,
                 columns: list[tuple[str, str, str | None]], sid: int,
                 data_rel: str | None = None):
        self.delete_abs_list = delete_abs_list
        self.data_abs = data_abs
        self.columns = columns
        self.sid = sid
        # the data file's path as the table enters it (see
        # _read_pos_delete)
        self.data_rel = data_rel


def _projection(
    meta: dict, file_schema_version: int
) -> list[tuple[str, str, str | None, object]]:
    """Field-id resolution: for every CURRENT field, ``(name, ddl,
    physical_name, default)`` where physical_name is the column's name
    inside a file written at ``file_schema_version`` (None → the field
    was added later; reads fill its declared default, like the JVM
    path, or null when there is none)."""
    cur = meta["schemas"][str(meta["current_schema_version"])]
    old = meta["schemas"][str(file_schema_version)]
    old_by_id = {f["id"]: f["name"] for f in old}
    return [
        (f["name"], f["type"], old_by_id.get(f["id"]), f.get("default"))
        for f in cur
    ]


def _align_nested(col, typ, ctx: str):
    """Widen/align one column onto its current declared Arrow type.

    Primitives and same-shape nested types are ONE Arrow cast (the
    widening path). When a cast can't express the change — a field
    ADDED to (or DROPPED from) a struct by ``ALTER COLUMN TYPE`` on
    the containing column — structs align recursively BY NAME, exactly
    the parquet vectorized reader's nested resolution: missing target
    fields null-fill, removed fields drop, struct-level validity is
    preserved (a null struct never becomes a struct of nulls)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if col.type == typ:
        return col
    try:
        return col.cast(typ)
    except (pa.ArrowTypeError, pa.ArrowNotImplementedError):
        # SHAPE mismatches only (field added/dropped inside a struct)
        # fall through to by-name alignment; a DATA-level cast failure
        # (ArrowInvalid, e.g. integer out of range) propagates with
        # Arrow's precise message — re-labelling it as nested
        # evolution would send the operator debugging the wrong layer
        # (review-caught).
        pass
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_struct(typ) and pa.types.is_struct(col.type):
        have = {col.type.field(i).name: i for i in range(col.type.num_fields)}
        children = []
        for i in range(typ.num_fields):
            f = typ.field(i)
            if f.name in have:
                children.append(
                    _align_nested(col.field(have[f.name]), f.type,
                                  f"{ctx}.{f.name}")
                )
            else:
                children.append(pa.nulls(len(col), type=f.type))
        return pa.StructArray.from_arrays(
            children, fields=list(typ), mask=pc.is_null(col)
        )
    if pa.types.is_list(typ) and pa.types.is_list(col.type):
        vals = _align_nested(col.values, typ.value_type, f"{ctx}.element")
        return pa.ListArray.from_arrays(
            col.offsets, vals, type=typ, mask=pc.is_null(col)
        )
    raise ValueError(
        f"cannot align column {ctx!r} from file type {col.type} to "
        f"declared type {typ} — unsupported nested evolution"
    )


def _project(tbl, columns, change: str | None = None, sid: int | None = None):
    """Align an Arrow table onto the current schema (declared default —
    or null — for absent fields, widening casts, by-name nested struct
    alignment), appending CDC metadata columns when requested."""
    import pyarrow as pa

    n = tbl.num_rows
    arrays, fields = [], []
    for name, ddl, phys, default in columns:
        typ = _arrow_type(ddl)
        if phys is None or phys not in tbl.column_names:
            if default is None:
                arrays.append(pa.nulls(n, type=typ))
            else:
                arrays.append(pa.array([default] * n, type=typ))
        else:
            col = _align_nested(tbl.column(phys), typ, name)
            arrays.append(col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col)
        fields.append(pa.field(name, typ))
    if change is not None:
        arrays.append(pa.array([change] * n, type=pa.string()))
        fields.append(pa.field("_change_type", pa.string()))
        arrays.append(pa.array([sid] * n, type=pa.int64()))
        fields.append(pa.field("_commit_snapshot_id", pa.int64()))
    return pa.table(arrays, schema=pa.schema(fields))


def _read_file(partition: _FilePartition) -> Iterator:
    """Worker-side Arrow read with id-based projection + widening cast.
    Pushed-down predicates (batch reads) filter rows during the Arrow
    scan, so only matching rows pay the Arrow→JVM shipping cost."""
    import pyarrow.parquet as pq

    physical = [p for _, _, p, _d in partition.columns if p is not None]
    tbl = pq.read_table(
        partition.abs_path, columns=physical, filters=partition.filters
    )
    out = _project(tbl, partition.columns, partition.change, partition.sid)
    yield from out.to_batches(max_chunksize=1 << 16)


def _read_eq_delete(partition: _EqDeletePartition) -> Iterator:
    import pyarrow.parquet as pq

    tbl = pq.read_table(partition.abs_path)
    out = _project(tbl, partition.columns, "delete", partition.sid)
    yield from out.to_batches(max_chunksize=1 << 16)


def _read_pos_delete(partition: _PosDeletePartition) -> Iterator:
    """Re-read the tombstoned rows of one data file by position.

    Delete files record ``file_path`` as the WRITE-TIME absolute path,
    which :func:`.deletes.matcher` matches against the data file as
    the table enters it (``data_abs`` is ``data_rel`` joined to the
    reader's table path). An empty match RAISES: the partition was
    only planned because the delete file's metadata references this
    data file, so zero matched positions means the path forms
    diverged, not that nothing was deleted (silently yielding no rows
    would drop -D records)."""
    import pyarrow.parquet as pq

    rel = partition.data_rel or partition.data_abs
    named = deletes.matcher(partition.data_abs[:-len(rel)], [rel])
    positions: set[int] = set()
    for delete_abs in partition.delete_abs_list:
        for recorded, ps in deletes.positions(delete_abs).items():
            if named(recorded) is not None:
                positions |= ps
    if not positions:
        raise ValueError(
            f"position-delete file(s) {partition.delete_abs_list} "
            f"reference data file {partition.data_rel or partition.data_abs} "
            f"but no recorded file_path matched it — the table was "
            f"moved/copied in a way that broke the absolute paths the "
            f"delete files recorded"
        )
    physical = [p for _, _, p, _d in partition.columns if p is not None]
    data = pq.read_table(partition.data_abs, columns=physical)
    out = _project(data.take(sorted(positions)), partition.columns,
                   "delete", partition.sid)
    yield from out.to_batches(max_chunksize=1 << 16)


def _canon_strings(vals):
    """Canonical NULLABLE BINARY rendering of any supported Arrow
    array — primitive, list, map, struct, or binary, arbitrarily
    composed (r14; binary leaves r15): two values render identically
    iff they are logically equal. Maps ignore entry order — entries
    sort by the recursively-RENDERED key bytes via an Arrow-native
    stable ``sort_indices``, so float/binary/struct/array keys
    canonicalize too (r15; equal maps carry equal entry sets, so any
    deterministic total order over the injective rendering fixes the
    entry order) — keys never round-trip through Python objects;
    lists keep element order (it is semantic); floats fold -0.0 →
    +0.0 and NaN payloads
    to one canonical NaN WITHOUT merging NaN into NULL; every level
    length-prefixes its parts (``len:bytes``, length in BYTES) so the
    rendering is injective even when values contain the separators,
    and NULL children render as the length marker '~' (no rendered
    length carries it). Rendering as raw BYTES rather than utf8 is
    what admits binary leaves (r15): a byte string needs no text
    canonicalization — the length prefix alone delimits it — and
    ``binary_join(_element_wise)`` operates on BinaryArray natively.
    A NULL value at THIS level renders as an Arrow null — containers
    above add their own markers, and top-level callers pair the
    rendering with a validity bit so NULL containers stay distinct
    from empty ones. Fully vectorized at every level:
    flatten/sort/cast/binary_join kernels only, one recursion per
    nesting level."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    t = vals.type
    if pa.types.is_struct(t):
        parts = []
        for i in range(t.num_fields):
            s = _canon_strings(vals.field(i))
            parts.append(_blen(s).fill_null(b"~"))
            parts.append(s.fill_null(b""))
        cell = pc.binary_join_element_wise(
            *parts, b":", null_handling="replace", null_replacement=b"",
        ) if parts else pa.array([b""] * len(vals), type=pa.binary())
        return pc.if_else(pc.is_valid(vals), cell,
                          pa.scalar(None, type=pa.binary()))
    if pa.types.is_map(t):
        as_list = vals.view(pa.list_(pa.struct(
            [("key", t.key_type), ("value", t.item_type)]
        )))
        sizes = (pc.list_value_length(as_list).fill_null(0)
                 .to_numpy(zero_copy_only=False).astype("int64"))
        ent = pc.list_flatten(as_list)
        keys, items = ent.field(0), ent.field(1)
        # render keys FIRST through the same recursion (injective, and
        # it folds float -0.0/NaN — matching Spark's key-normalization
        # semantics — and takes binary/struct/array keys raw), then
        # sort entries by the RENDERED bytes: equal maps carry equal
        # entry sets, so any deterministic total order on the rendered
        # keys canonicalizes entry order — it need not be the key
        # type's own order (r15: this is what admits float, binary,
        # and nested map KEYS — r14 sorted the raw key, which needs
        # the key type itself Arrow-sortable and utf8-castable)
        ks = _canon_strings(keys)
        row_id = np.repeat(np.arange(len(vals), dtype="int64"), sizes)
        if len(row_id):
            order = pc.sort_indices(
                pa.table({"r": row_id, "k": ks}),
                sort_keys=[("r", "ascending"), ("k", "ascending")],
            )
            ks, items = ks.take(order), items.take(order)
        klen = _blen(ks)
        vs = _canon_strings(items)
        vlen = _blen(vs).fill_null(b"~")
        entry = pc.binary_join_element_wise(
            klen, ks, vlen, vs.fill_null(b""), b":",
            null_handling="replace", null_replacement=b"",
        )
        return pc.if_else(pc.is_valid(vals), _join_rows(sizes, entry),
                          pa.scalar(None, type=pa.binary()))
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        sizes = (pc.list_value_length(vals).fill_null(0)
                 .to_numpy(zero_copy_only=False).astype("int64"))
        vs = _canon_strings(pc.list_flatten(vals))
        vlen = _blen(vs).fill_null(b"~")
        entry = pc.binary_join_element_wise(
            vlen, vs.fill_null(b""), b":",
            null_handling="replace", null_replacement=b"",
        )
        return pc.if_else(pc.is_valid(vals), _join_rows(sizes, entry),
                          pa.scalar(None, type=pa.binary()))
    if pa.types.is_floating(t):
        nulls = pc.is_null(vals)
        a = vals.to_numpy(zero_copy_only=False).copy()
        a += 0.0  # folds -0.0 into +0.0
        a[np.isnan(a)] = np.nan  # one canonical NaN bit pattern
        vals = pc.if_else(nulls, pa.scalar(None, type=t),
                          pa.array(a, type=t))
    if pa.types.is_binary(t) or pa.types.is_large_binary(t) \
            or pa.types.is_fixed_size_binary(t):
        return pc.cast(vals, pa.binary())
    return pc.cast(pc.cast(vals, pa.string()), pa.binary())


def _blen(b):
    """Byte length of a binary array, rendered as binary digits (the
    injectivity prefix)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    return pc.cast(pc.cast(pc.binary_length(b), pa.string()), pa.binary())


def _join_rows(sizes, entry):
    """Join per-entry byte strings back into one per row given the
    per-row entry counts (int64 offsets — no 2^31 entry ceiling)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    off = np.concatenate([[0], np.cumsum(sizes)])
    lst = pa.LargeListArray.from_arrays(pa.array(off, type=pa.int64()),
                                        entry)
    return pc.binary_join(lst, b";")


def _canon_container_cols(col):
    """(validity bit, canonical rendering) group-by key pair for a
    MAP/ARRAY netting column: the validity bit keeps a NULL container
    distinct from an empty one (both render "")."""
    import pyarrow.compute as pc

    return pc.is_valid(col), _canon_strings(col).fill_null(b"")


# test-visible aliases (the map/array cases of the same rendering)
_canon_map_cols = _canon_container_cols
_canon_list_cols = _canon_container_cols


# reserved suffixes for expanded netting columns (NUL can't appear in
# real field names): struct validity / map canonical bytes / raw
# passthrough (never a group-by key; rebuilt via representative row)
_X_VALID = "\x00\x00"
_X_BYTES = "\x00\x01"
_X_RAW = "\x00\x02"

def _net_unkeyable_reason(ddl: str) -> str | None:
    """Why a column of type ``ddl`` cannot be a cow-changelog netting
    key (None when it can). Containers (map/array, arbitrarily
    composed with structs) net via the recursive canonical rendering
    (r14), including BINARY leaves at any depth (r15 — the rendering
    is length-prefixed raw bytes, so a byte string needs no text
    canonicalization); structs outside containers flatten to leaves.
    Map KEYS of any renderable type — float, binary, struct, array —
    net too (r15): entries sort by the RENDERED key bytes rather than
    the raw key, so the key type only needs the injective rendering,
    not a native Arrow sort order. Nothing type-shaped is refused any
    more; only malformed DDL is."""
    t = ddl.strip()
    k = t.lower()
    if k.startswith("array<") and k.endswith(">"):
        return _net_unkeyable_reason(t[6:-1])
    if k.startswith("map<") and k.endswith(">"):
        kv = _split_top(t[4:-1], ",")
        if len(kv) != 2:
            return "malformed map type"
        return (_net_unkeyable_reason(kv[0])
                or _net_unkeyable_reason(kv[1]))
    if k.startswith("struct<") and k.endswith(">"):
        for item in _split_top(t[7:-1], ","):
            name, sep, sub = item.partition(":")
            if not sep:
                continue
            reason = _net_unkeyable_reason(sub)
            if reason:
                return reason
        return None
    return None


def _read_cow_net(partition: _CowNetPartition) -> Iterator:
    """Net a copy-on-write commit's row changes for one hash bucket,
    fully vectorized: concatenate the removed files' rows (sign +1)
    and the added files' rows (sign -1), Arrow hash-group-by over ALL
    columns summing the sign — positive residues are -D records
    (repeated by multiplicity), negative are +I; carried-over rows
    cancel, including NaN-keyed rows (Arrow's hash kernel groups NaNs
    together). Bucketing uses pandas' deterministic row hash (fixed
    key — stable across processes and replays, unlike builtin
    ``hash``); one bucket skips hashing entirely."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    names = [n for n, _ in partition.out_cols]
    schema = pa.schema(
        [pa.field(n, _arrow_type(t)) for n, t in partition.out_cols]
    )
    def _needs_ref(typ) -> bool:
        # map/array columns (at any struct depth) rebuild via the
        # representative-row take rather than from the key columns
        if pa.types.is_struct(typ):
            return any(_needs_ref(f.type) for f in typ)
        return pa.types.is_map(typ) or pa.types.is_list(typ)

    has_struct = any(pa.types.is_struct(f.type) for f in schema)
    has_ref = any(_needs_ref(f.type) for f in schema)
    has_nested = has_struct or has_ref

    # STRUCT columns (r13): Arrow's hash group-by can't key on struct
    # values, but a struct IS its leaves plus a validity bit — so
    # workers net over an EXPANDED view (each struct column recursively
    # replaced by a "<name>␀␀" validity column + "<name>␀<field>"
    # leaves; NUL
    # separators can't collide with real column names) and rebuild the
    # struct rows from the netted key columns. StructArray.flatten()
    # propagates parent nulls into children, and the validity column
    # keeps a NULL struct distinct from a struct of NULLs, so two rows
    # expand identically iff they are logically equal.
    def _expand_col(col, prefix: str, out: list) -> None:
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        if pa.types.is_struct(col.type):
            out.append((prefix + _X_VALID, pc.is_valid(col)))
            for f, kid in zip(col.type, col.flatten()):
                _expand_col(kid, prefix + "\x00" + f.name, out)
        elif pa.types.is_map(col.type) or pa.types.is_list(col.type):
            # MAP/ARRAY columns (r14): group-by keys are the validity
            # bit + the canonical entry rendering (maps sort entries by
            # key; arrays keep element order — it's semantic; nesting
            # recurses, so array<array>/array<struct>/nested map values
            # all render); the raw column rides along (never a key) so
            # output rows rebuild exactly via a representative-row take
            # — the rendering is never parsed back. Works at any struct
            # depth: flatten propagates parent nulls into the child
            # before we land here, and the rebuild takes the raw child
            # at this prefix.
            valid, joined = _canon_container_cols(col)
            out.append((prefix + _X_VALID, valid))
            out.append((prefix + _X_BYTES, joined))
            out.append((prefix + _X_RAW, col))
        else:
            out.append((prefix, col))

    def _expand(tbl):
        cols: list = []
        for n in tbl.column_names:
            _expand_col(tbl.column(n), n, cols)
        # Duplicate struct field names (Spark DDL parses them) would
        # collapse inside dict() and net on a PARTIAL key — fail loudly
        # instead of silently losing a key column (ADVICE r13).
        names = [n for n, _ in cols]
        if len(set(names)) != len(names):
            dupes = sorted({n for n in names if names.count(n) > 1})
            raise ValueError(
                "duplicate expanded column names in struct netting key: "
                f"{[d.replace(chr(0), '.') for d in dupes]}"
            )
        return pa.table(dict(cols))

    def _rebuild_col(typ, prefix: str, getcol, refs):
        if pa.types.is_struct(typ):
            valid = getcol(prefix + _X_VALID)
            children = [
                _rebuild_col(f.type, prefix + "\x00" + f.name, getcol, refs)
                for f in typ
            ]
            return pa.StructArray.from_arrays(
                children, fields=list(typ), mask=pc.invert(valid)
            )
        if pa.types.is_map(typ) or pa.types.is_list(typ):
            # rebuild from the representative row's raw map/array
            # (allt is the concatenated sides table; refs index into
            # it); under a struct parent the raw child at this prefix
            # carries the flatten-propagated parent nulls
            c = allt.column(prefix + _X_RAW).take(refs)
            return c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c
        return getcol(prefix)

    def _rebuild(net_tbl, refs=None):
        def getcol(n):
            c = net_tbl.column(n)
            return c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c

        return pa.table(
            {f.name: _rebuild_col(f.type, f.name, getcol, refs)
             for f in schema}
        )

    def side(files: list[tuple[str, list]], sign: int) -> list:
        out = []
        for abs_path, proj in files:
            physical = [p for _, _, p, _d in proj if p is not None]
            tbl = _project(pq.read_table(abs_path, columns=physical), proj)
            tbl = tbl.cast(schema)
            if has_nested:
                tbl = _expand(tbl)
            if partition.nbuckets > 1:
                import pandas as pd

                # Bucketing must never SPLIT a pair the group-by would
                # cancel. Canonicalizing floats before hashing (-0.0 →
                # +0.0, one NaN bit pattern) keeps that invariant under
                # either group-by float semantic — bit-pattern equality
                # (current pyarrow: identical bits hash identically
                # with or without this) or value equality (a pyarrow
                # that merges -0.0/0.0 or NaN payloads would otherwise
                # see spurious -D/+I pairs under nbuckets>1); the
                # combined multi-bucket feed stays exactly the
                # single-bucket feed.
                # raw map passthrough columns are NOT hashed: the
                # canonical bytes + validity key columns already
                # determine the map value, and pandas can't hash
                # object-of-list map cells anyway
                hash_tbl = tbl.drop_columns(
                    [n for n in tbl.column_names if n.endswith(_X_RAW)]
                ) if has_ref else tbl
                df = hash_tbl.to_pandas()
                # dtype canonicalization is driven by the ARROW types,
                # not pandas dtypes: pandas promotes a null-bearing
                # int64 column to float64 and a null-bearing bool
                # column to object — per FILE — and hash_pandas_object
                # hashes int64 5 / float64 5.0 (and bool True / object
                # True) differently, so the same logical carried-over
                # row would bucket differently in the old vs new file
                # and fail to cancel (review-caught; struct flatten's
                # parent-null propagation makes null leaves routine).
                # Hash every int/bool column as float64 on EVERY file:
                # bucketing needs consistency, not injectivity (a
                # >2^53 collision just co-locates two rows). Fresh
                # float64 from ints/bools can't hold -0.0 or a stray
                # NaN payload, so only NATIVE float columns pay the
                # canonicalization copy.
                for field in hash_tbl.schema:
                    c = field.name
                    if pa.types.is_integer(field.type) or \
                            pa.types.is_boolean(field.type):
                        df[c] = df[c].astype("float64")
                    elif pa.types.is_floating(field.type):
                        a = df[c].to_numpy(copy=True)
                        a += 0.0  # folds -0.0 into +0.0
                        a[np.isnan(a)] = np.nan  # one canonical NaN
                        df[c] = a
                h = pd.util.hash_pandas_object(df, index=False).to_numpy()
                tbl = tbl.filter(
                    pa.array(h % partition.nbuckets == partition.bucket)
                )
            out.append(tbl.append_column(
                "_sign", pa.array(np.full(len(tbl), sign, dtype="int64"))
            ))
        return out

    sides = side(partition.old_files, +1) + side(partition.new_files, -1)
    if not sides:
        return
    key_names = names
    if has_nested:
        key_names = [
            n for n in _expand(schema.empty_table()).column_names
            if not n.endswith(_X_RAW)
        ]
    allt = pa.concat_tables(sides)
    aggs = [("_sign", "sum")]
    if has_ref:
        # a representative ROW index per group: every row in a group is
        # logically equal on all columns (the keys canonicalize every
        # column), so any member's raw map rebuilds the output exactly
        allt = allt.append_column(
            "_rowref", pa.array(np.arange(len(allt), dtype="int64"))
        )
        aggs.append(("_rowref", "min"))
    net = pa.TableGroupBy(allt, key_names).aggregate(aggs)
    counts = net.column("_sign_sum").to_numpy(zero_copy_only=False)
    for change, reps in (
        ("delete", np.clip(counts, 0, None)),
        ("insert", np.clip(-counts, 0, None)),
    ):
        if reps.sum() == 0:
            continue
        rep_idx = np.repeat(np.arange(len(net)), reps)
        out = net.select(key_names).take(rep_idx)
        if has_nested:
            refs = (net.column("_rowref_min").take(rep_idx)
                    if has_ref else None)
            out = _rebuild(out, refs)
        n = len(out)
        out = out.append_column(
            "_change_type", pa.array([change] * n, type=pa.string())
        ).append_column(
            "_commit_snapshot_id",
            pa.array(np.full(n, partition.sid, dtype="int64")),
        )
        yield from out.to_batches(max_chunksize=1 << 16)


# pushed filter class → the pruner's conjunct op
_PUSHED_OPS = {EqualTo: "=", In: "in", GreaterThan: ">",
               GreaterThanOrEqual: ">=", LessThan: "<", LessThanOrEqual: "<="}


def _utc_everywhere() -> bool:
    """True when both the system local timezone and (when visible) the
    Spark session timezone are UTC. Instant-timestamp (``timestamp``)
    predicates push ONLY then: the datasource filter API delivers
    TimestampType literals as NAIVE datetimes rendered in a
    host-dependent zone, while footer stats are canonical naive-UTC
    (catalog.table._json_safe) — comparing across zones could wrongly
    prune a file whose rows match (silent row loss; pruning is never
    re-checked by Spark). Correctness over pruning, the same stance as
    float >/>= under NaN ordering. ``timestamp_ntz`` and ``date`` are
    wall-clock on both sides and stay pushable everywhere."""
    import time

    if time.timezone != 0 or time.altzone != 0:
        return False
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            tz = s.conf.get("spark.sql.session.timeZone", "UTC")
            return tz in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00")
    except Exception:  # planning subprocess without a session
        pass
    return True


def _pos_key(pos: int | None) -> float:
    """Offset ordering: a missing ``pos`` means the snapshot is fully
    consumed, which sorts AFTER any partial position."""
    return float("inf") if pos is None else float(pos)


def _initial_load(back_to: int, chain: list[dict], sn: dict) -> bool:
    """True when ``sn``'s change set is its CUMULATIVE file list: it is
    the oldest element of a fresh (offset-0) start's ancestry and its
    parent was expired — a tolerant walk stops exactly there."""
    return not back_to and sn is chain[-1] and sn.get("parent_id") is not None


class LakeTableStreamReader(DataSourceStreamReader):
    def __init__(self, path: str, skip_non_appends: bool, cdc: bool,
                 max_files: int | None = None, branch: str | None = None,
                 start_snapshot_id: int | None = None,
                 start_ts_ms: int | None = None,
                 cow_net: bool = False, cow_buckets: int = 1):
        self.path = path
        self.skip_non_appends = skip_non_appends
        self.cdc = cdc
        self.max_files = max_files
        self.branch = branch
        self.start_snapshot_id = start_snapshot_id
        self.start_ts_ms = start_ts_ms
        self.cow_net = cow_net          # option("cow-changelog", "true")
        self.cow_buckets = cow_buckets  # option("cdc-cow-buckets", K)
        # Last offset this reader emitted or planned — the base the
        # rate limit advances from. None only before the first call:
        # a fresh stream caps from snapshot 0, and on restart Spark
        # replays the offset log's last batch through partitions()
        # before any latestOffset, seeding the checkpointed position.
        self._last: dict | None = None

    def initialOffset(self) -> dict:
        """Where a NEW stream starts. Default: the table root (replay
        every commit). ``starting-snapshot-id`` / ``starting-timestamp``
        mark a later start, EXCLUSIVE (Iceberg's ``start-snapshot-id``
        / ``stream-from-timestamp``): the named/covered snapshot counts
        as already consumed, only commits after it stream — how a new
        consumer stands up against a 100 TB table without replaying
        its entire history."""
        off = {"snapshot_id": 0}
        if self.start_snapshot_id is not None or self.start_ts_ms is not None:
            meta = _load_meta(self.path)
            head = snapshots.ref_head(meta, self.branch)
            if self.start_snapshot_id is not None:
                if all(sn["snapshot_id"] != self.start_snapshot_id
                       for sn in snapshots.ancestry(meta, head)):
                    raise ValueError(
                        f"starting-snapshot-id {self.start_snapshot_id} is "
                        f"not on the streamed ref's ancestry"
                    )
                off = {"snapshot_id": self.start_snapshot_id}
            else:
                covered = snapshots.as_of(meta, self.start_ts_ms, head)
                if covered is not None:
                    off = {"snapshot_id": covered["snapshot_id"]}
        self._last = off
        return off

    def _atomic(self, added, removed, new_dels) -> bool:
        """Commits the rate limit may not split mid-snapshot: CDC
        commits (their -D/+I records form one atomic feed unit) and
        anything partitions() will raise-or-skip on."""
        return self.cdc or bool(removed) or bool(new_dels)

    def latestOffset(self) -> dict:
        meta = _load_meta(self.path)
        head = snapshots.ref_head(meta, self.branch)
        if not head:
            off = {"snapshot_id": 0}
            self._last = off
            return off
        if self.max_files is None:
            off = {"snapshot_id": head}
            self._last = off
            return off
        # _last None ⇒ genuinely fresh stream (restart replays the
        # offset log through partitions() first) — cap from the root.
        last = self._last or {"snapshot_id": 0}
        budget = self.max_files
        last_sid = last["snapshot_id"]
        cur = {"snapshot_id": last_sid} if last_sid else {"snapshot_id": 0}
        # Resume a partially-consumed snapshot first. An ``init``-marked
        # offset says the positions index the snapshot's CUMULATIVE file
        # list (it was the oldest retained snapshot of a fresh start —
        # its parent was already expired at plan time); without the
        # marker a missing parent means the added-list the positions
        # indexed is gone, and snapshots.changes raises.
        if "pos" in last:
            init = bool(last.get("init"))
            total = len(snapshots.changes(
                meta, snapshots.get(meta, last_sid), initial_load_ok=init)[0])
            take = min(total - last["pos"], budget)
            if last["pos"] + take < total:
                off = {"snapshot_id": last_sid, "pos": last["pos"] + take}
                if init:
                    off["init"] = 1
                self._last = off
                return off
            budget -= take
        chain = snapshots.ancestry(meta, head, last_sid)
        for sn in reversed(chain):  # oldest first
            if budget <= 0:
                break
            init_ok = _initial_load(last_sid, chain, sn)
            added, removed, new_dels = snapshots.changes(
                meta, sn, initial_load_ok=init_ok
            )
            if self._atomic(added, removed, new_dels):
                cur = {"snapshot_id": sn["snapshot_id"]}
                budget -= max(len(added), 1)
            elif len(added) > budget:
                cur = {"snapshot_id": sn["snapshot_id"], "pos": budget}
                if init_ok:
                    cur["init"] = 1
                budget = 0
            else:
                cur = {"snapshot_id": sn["snapshot_id"]}
                budget -= max(len(added), 1)
        self._last = cur
        return cur

    def _cdc_delete_parts(self, meta: dict, sn: dict,
                          new_dels: list[dict]) -> list[InputPartition]:
        """-D partitions for a commit's new delete files. Equality
        deletes ARE the retraction records (key cols, rest null);
        position deletes point at rows to re-read by position."""
        cur = meta["schemas"][str(meta["current_schema_version"])]
        sid = sn["snapshot_id"]
        parts: list[InputPartition] = []
        by_data_file: dict[str, list[str]] = {}
        for d in new_dels:
            if d.get("content", "position") == "equality":
                eq = d.get("equality_cols", [])
                phys = d.get("file_cols") or eq
                by_cur = dict(zip(eq, phys))
                # default=None even for fields that declare one: a
                # retraction's non-key columns are blind, never values
                cols = [(f["name"], f["type"], by_cur.get(f["name"]), None)
                        for f in cur]
                parts.append(_EqDeletePartition(
                    os.path.join(self.path, d["path"]), cols, sid))
            else:
                for ref in d.get("referenced", []):
                    by_data_file.setdefault(ref, []).append(
                        os.path.join(self.path, d["path"])
                    )
        if by_data_file:
            by_path = {f["path"]: f for f in sn["files"]}
            for ref, del_paths in by_data_file.items():
                f = by_path.get(ref)
                proj = _projection(
                    meta, f["schema_version"] if f
                    else meta["current_schema_version"])
                parts.append(_PosDeletePartition(
                    del_paths, os.path.join(self.path, ref), proj, sid,
                    data_rel=ref))
        return parts

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        s, e = start["snapshot_id"], end["snapshot_id"]
        # pos semantics: present → first `pos` added files consumed
        # (start) / covered (end); absent → the snapshot is fully
        # consumed/covered (also the shape of pre-rate-limit offsets,
        # so old checkpoints keep working).
        s_pos, e_pos = start.get("pos"), end.get("pos")
        meta = _load_meta(self.path)
        self._last = dict(end)  # seed the rate-limit base on restart replay
        if s == e and s_pos == e_pos:
            return []
        # Loud guard: Spark plans a batch whenever latestOffset differs
        # from the committed offset — it never checks ordering. An end
        # behind start (a rolled-back table, or a corrupted cap base)
        # must fail here, not silently redeliver consumed commits.
        # Snapshot ids are allocated sequentially, so integer order is
        # commit order.
        if (e, _pos_key(e_pos)) < (s, _pos_key(s_pos)):
            raise ValueError(
                f"offset regression: batch end {end} is behind start "
                f"{start} — the table's ancestry was rewound (rollback?) "
                f"under a running stream; restart from a fresh checkpoint"
            )
        chain = snapshots.ancestry(meta, e or 0, s)
        # slices: (snapshot, lo, hi, initial_ok) — lo/hi bound the
        # snapshot's added-file list, oldest commit first; initial_ok
        # marks the one legal missing-parent case (oldest retained
        # snapshot of a fresh start → cumulative list is the initial
        # load; an init-marked partial offset resumes the same list).
        slices: list[tuple[dict, int, int | None, bool]] = []
        for sn in reversed(chain):
            hi = e_pos if sn["snapshot_id"] == e else None
            slices.append((sn, 0, hi, _initial_load(s, chain, sn)))
        if s and s_pos is not None:
            hi = e_pos if s == e else None
            slices.insert(0, (snapshots.get(meta, s), s_pos, hi,
                              bool(start.get("init"))))
        parts: list[InputPartition] = []
        for sn, lo, hi, init_ok in slices:
            added, removed, new_dels = snapshots.changes(
                meta, sn, initial_load_ok=init_ok
            )
            sid = sn["snapshot_id"]
            # Append mode streams pure appends only; CDC mode also
            # streams merge-on-read commits (their delete files ARE the
            # retraction records). A copy-on-write rewrite (removed
            # files) is only expressible as NETTED changes — CDC mode
            # does that with cow-changelog=true (bucketed multiset
            # diff, _CowNetPartition); otherwise raise/skip and point
            # at the batch changelog().
            expressible = not removed and (self.cdc or not new_dels)
            if not expressible:
                if self.cdc and self.cow_net and removed:
                    parts.extend(
                        self._cow_net_parts(meta, sn, added, removed, new_dels)
                    )
                    continue
                if self.skip_non_appends:
                    continue
                raise ValueError(
                    f"snapshot {sid} ({sn.get('operation')}) is not "
                    + ("expressible as per-file row-level changes (it "
                       "rewrote files); set cow-changelog=true to net it "
                       "into -D/+I records, or use LakeTable.changelog()"
                       if self.cdc else
                       "a pure append; streaming it would replay "
                       "rewritten rows")
                    + " — set skip-non-appends=true to skip"
                )
            if self.cdc:
                if lo != 0 or (hi is not None and hi < len(added)):
                    raise ValueError(
                        f"internal: CDC snapshot {sid} sliced at "
                        f"[{lo}:{hi}] — CDC commits are atomic feed units"
                    )
                parts.extend(self._cdc_delete_parts(meta, sn, new_dels))
            for f in added[lo:hi]:
                parts.append(_FilePartition(
                    os.path.join(self.path, f["path"]),
                    _projection(meta, f["schema_version"]),
                    change="insert" if self.cdc else None,
                    sid=sid if self.cdc else None,
                ))
        return parts

    def _cow_net_parts(self, meta: dict, sn: dict, added: list[dict],
                       removed: set, new_dels: list[dict]) -> list[InputPartition]:
        """A copy-on-write commit as netted -D/+I partitions (see
        _CowNetPartition). Pure CoW only: a commit that mixes a file
        rewrite with delete files has no per-commit netting story the
        buckets can express — route it to the batch changelog()."""
        parent = snapshots.get(meta, sn["parent_id"])
        if new_dels or parent.get("delete_files") or sn.get("delete_files"):
            raise ValueError(
                f"cow-changelog netting supports pure copy-on-write "
                f"commits; snapshot {sn['snapshot_id']} mixes a file "
                f"rewrite with delete files — use LakeTable.changelog() "
                f"for this range"
            )
        cur = meta["schemas"][str(meta["current_schema_version"])]
        out_cols = [(f["name"], f["type"]) for f in cur]
        unkeyable = [
            f"{n} ({reason})" for n, t in out_cols
            for reason in [_net_unkeyable_reason(t)] if reason
        ]
        if unkeyable:
            # every SUPPORTED type now nets: structs leaf-flatten
            # (r13), map/array containers render canonically (r14),
            # binary leaves ride the raw-bytes rendering and map KEYS
            # of any type sort by their rendered bytes (r15) — only
            # malformed DDL reaches this refusal.
            raise NotImplementedError(
                f"cow-changelog netting cannot key on columns "
                f"{unkeyable}; use LakeTable.changelog() for this range"
            )
        old_by_path = {f["path"]: f for f in parent.get("files", [])}
        old_files = [
            (os.path.join(self.path, p),
             _projection(meta, old_by_path[p]["schema_version"]))
            for p in sorted(removed)
        ]
        new_files = [
            (os.path.join(self.path, f["path"]),
             _projection(meta, f["schema_version"]))
            for f in added
        ]
        k = max(1, self.cow_buckets)
        return [
            _CowNetPartition(old_files, new_files, out_cols, b, k,
                             sn["snapshot_id"])
            for b in range(k)
        ]

    def read(self, partition: InputPartition) -> Iterator:
        if isinstance(partition, _EqDeletePartition):
            return _read_eq_delete(partition)
        if isinstance(partition, _PosDeletePartition):
            return _read_pos_delete(partition)
        if isinstance(partition, _CowNetPartition):
            return _read_cow_net(partition)
        return _read_file(partition)

    def commit(self, end: dict) -> None:  # offsets live in the checkpoint
        pass


class LakeTableBatchReader(DataSourceReader):
    """Python batch reader. The pushdown-capable variant below adds
    FILE-LEVEL filter pushdown; this base plans one partition per data
    file of the resolved snapshot (Spark refuses any reader that even
    DEFINES ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false, so the
    pushdown method lives on an opt-in subclass)."""

    def __init__(self, path: str, snapshot_id: int | None = None,
                 ts_ms: int | None = None, branch: str | None = None):
        self.path = path
        self.snapshot_id = snapshot_id
        self.ts_ms = ts_ms
        self.branch = branch
        self.preds: list = []

    def partitions(self) -> Sequence[InputPartition]:
        meta = _load_meta(self.path)
        head = (
            self.snapshot_id
            if self.snapshot_id is not None
            else (snapshots.ref_head(meta, self.branch) or None)
        )
        snap = None
        if self.ts_ms is not None:  # TIMESTAMP AS OF the requested ref
            snap = snapshots.as_of(meta, self.ts_ms, head)
            if snap is None:
                raise ValueError(
                    f"no snapshot committed at or before timestamp "
                    f"{self.ts_ms} ms on the requested ref"
                )
        elif head is not None:
            snap = snapshots.get(meta, head)
        if snap is None:
            return []
        if snap.get("delete_files"):
            raise ValueError(
                "laketable python batch reader does not apply merge-on-read "
                "deletes; use LakeTable.read() for tables with delete files"
            )
        from ..catalog.table import FileEntry

        preds = [(tuple(p.attribute), _PUSHED_OPS[type(p)],
                  list(p.value) if isinstance(p, In) else p.value)
                 for p in self.preds]
        entries = pruning.prune(
            [FileEntry.from_json(f) for f in snap["files"]], preds, meta)
        temporal = getattr(self, "_PUSH_DDL_TEMPORAL", set())
        parts: list[_FilePartition] = []
        for e in entries:
            proj = _projection(meta, e.schema_version)
            # Arrow row filters: top-level columns the file holds, not
            # temporal ones (prune-only, see the pushdown reader)
            phys = {name: (p, ddl.strip().lower())
                    for name, ddl, p, _default in proj if p is not None}
            filters = [
                (phys[path[0]][0], op, lit) for path, op, lit in preds
                if len(path) == 1 and path[0] in phys
                and phys[path[0]][1] not in temporal
            ]
            parts.append(_FilePartition(
                os.path.join(self.path, e.path), proj, filters=filters or None,
            ))
        return parts

    def read(self, partition: _FilePartition) -> Iterator:
        return _read_file(partition)


class LakeTablePushdownBatchReader(LakeTableBatchReader):
    """FILE-LEVEL filter pushdown (``option("filter-pushdown",
    "true")`` + ``spark.sql.python.filterPushdown.enabled=true``):
    Spark hands the scan's predicates to :meth:`pushFilters`;
    ``partitions()`` then prunes whole files from the snapshot's
    manifest with :func:`..catalog.pruning.prune` BEFORE any task
    launches (partition values and footer stats bound by field id; a
    file written before a filtered column existed is judged by the
    column's default), and workers pass the same predicates to the
    Arrow read so matching files ship only matching rows. Every
    filter is still returned to Spark for re-evaluation, so pruning
    can only skip files, never change results."""

    # Columns eligible for pushdown. Floats are NaN-constrained: Spark
    # orders NaN GREATER than every value (and NaN = NaN true) while
    # parquet footer stats omit NaN and Arrow filters use IEEE
    # semantics. The two agree exactly on =, IN, <, <= with a non-NaN
    # literal (NaN matches under NEITHER), so those push safely — file
    # stats can prune (a hiding NaN row wouldn't have matched anyway)
    # and the Arrow row filter drops the same rows Spark would. They
    # DISAGREE on >, >= (Spark keeps NaN rows, stats/IEEE can't see
    # them), so float >/>= predicates are never pushed: Spark applies
    # them after a full read of the surviving files — correctness over
    # pruning, per the NaN-ordering contract.
    # Temporal columns push PRUNE-ONLY: file-level stats comparison is
    # string-vs-string in the footer's canonical form (pruning.norm_stat
    # — lexical order IS chronological there), but the Arrow ROW filter
    # is skipped for them: a datetime scalar against a file's native
    # tz-aware/ns-unit column would drag timezone/unit coercion
    # semantics into the worker, and Spark re-applies the predicate
    # anyway — pruning is the scalable win, row filtering is free JVM
    # work.
    _PUSH_DDL_INT = {"bigint", "long", "int", "integer", "smallint", "tinyint"}
    _PUSH_DDL_FLOAT = {"double", "float"}
    _PUSH_DDL_TEMPORAL = {"date", "timestamp", "timestamp_ntz"}
    _FLOAT_SAFE_OPS = (EqualTo, In, LessThan, LessThanOrEqual)

    def pushFilters(self, filters):
        import datetime

        pushable = (EqualTo, GreaterThan, GreaterThanOrEqual,
                    LessThan, LessThanOrEqual, In)
        meta = _load_meta(self.path)
        ddl_of = {
            f["name"]: f["type"].strip().lower()
            for f in meta["schemas"][str(meta["current_schema_version"])]
        }
        self.preds = []
        for f in filters:
            if not isinstance(f, pushable):
                continue
            # STRUCT-LEAF predicates (r13): Spark delivers nested column
            # paths (("meta","n")), and the writers record dotted footer
            # stats ("meta.n") — so struct-leaf predicates prune whole
            # files, PRUNE-ONLY (no Arrow row filter — pq.read_table
            # filters address flat columns only; Spark re-applies the
            # predicate). Gated to int/string leaves, the two types
            # whose stats comparisons are exact (the float/temporal
            # caveats above apply unchanged, so those leaves never push).
            top = ddl_of.get(f.attribute[0])
            ddl = _nested_leaf_ddl(top, f.attribute[1:]) if top else None
            ddl = ddl.strip().lower() if ddl else None
            flat = len(f.attribute) == 1
            vals = list(f.value) if isinstance(f, In) else [f.value]
            ok = bool(vals) and (
                (ddl in self._PUSH_DDL_INT and all(
                    isinstance(v, int) and not isinstance(v, bool) for v in vals
                ))
                or (ddl == "string" and all(isinstance(v, str) for v in vals))
                or (flat and ddl in self._PUSH_DDL_FLOAT
                    and isinstance(f, self._FLOAT_SAFE_OPS)
                    and all(
                        isinstance(v, (int, float))
                        and not isinstance(v, bool)
                        and v == v  # a NaN literal inverts under Spark
                        for v in vals
                    ))
                or (flat and ddl == "date" and all(
                    isinstance(v, datetime.date)
                    and not isinstance(v, datetime.datetime) for v in vals
                ))
                or (flat and ddl == "timestamp_ntz" and all(
                    isinstance(v, datetime.datetime) for v in vals
                ))
                # instant timestamps: only when every zone in play is
                # UTC — see _utc_everywhere for the row-loss hazard
                or (flat and ddl == "timestamp" and _utc_everywhere() and all(
                    isinstance(v, datetime.datetime) for v in vals
                ))
            )
            if ok:
                self.preds.append(f)
        return filters  # Spark re-applies everything; we only skip files


class _SinkFileMessage(WriterCommitMessage):
    """One executor task's written data files (``files`` empty if the
    task saw no rows): per file the relative path + footer-derived
    FileEntry fields + partition values the driver needs to commit it.
    One task emits MULTIPLE files when partition-transform fanout
    applies (every spec field exactly computable in Python)."""

    def __init__(self, files: list | None = None):
        self.files = files or []


class LakeTableStreamWriter(DataSourceStreamArrowWriter):
    """Streaming SINK half of the `laketable` format — Iceberg's
    structured-streaming append sink re-expressed over the Python
    DataSource writer API:

    - ``write()`` runs on EXECUTORS: each task streams its Arrow
      batches straight into one parquet file under the table's data
      dir and reads its own footer for min/max stats — the driver
      never sees row data, only per-file commit messages (path, rows,
      bytes, stats). Parallelism and I/O scale with the cluster.
    - ``commit(messages, batchId)`` runs once per micro-batch on the
      driver: it publishes ALL the batch's files as ONE snapshot via
      ``LakeTable.commit_streaming_files`` — the same checkpointed
      ``(query-id, batch-id)`` guard as the foreachBatch path, so a
      replayed micro-batch (crash between sink commit and checkpoint
      commit) is skipped and its duplicate files unlinked:
      exactly-once end-to-end.
    - ``abort()`` unlinks the partial batch's files; the metadata
      never referenced them, so readers never saw them.

    Partition-transform FANOUT applies when every spec field is
    exactly computable in Python (``_python_partition_fn``: identity
    over int/string/date, legacy xxhash64 ``bucket`` and murmur3
    ``ibucket``, numeric ``itruncate``, string ``truncate``, and —
    under a UTC session zone — ``days/hours/months/years`` over
    timestamps, the reference's flagship ``days(event_ts)`` shape) —
    streamed commits into such tables carry partition values and PRUNE
    from the first micro-batch. Any non-reproducible field (float
    renderings, calendar transforms under a non-UTC zone) disables
    fanout and files are written UNKEYED: pruning
    degrades conservatively (missing partition keys keep the file;
    footer stats still prune) until ``rewrite_data_files`` folds them
    into the spec-clustered layout — Iceberg's own streaming-write +
    compaction contract.

    Schema-evolution contract (VERDICT r6 item 5): the writer captures
    the table's columns + schema version AT QUERY START and keeps
    writing that shape for the query's lifetime. A mid-stream
    ``add_column``/``rename_column``/``alter_column_type`` is SAFE —
    each committed file is stamped with its true writing version, and
    every reader projects it onto the current schema by field id
    (added columns read as their declared default); a RESTART of the
    checkpoint picks up the evolved schema (and then requires the
    incoming frame to match it). What is NOT safe is the captured
    version no longer meaning what was captured — CREATE OR REPLACE
    re-numbers schema history — so ``commit`` re-checks the version's
    recorded columns against the captured ones and refuses loudly
    instead of stamping files with a lie."""

    def __init__(self, path: str, columns: list[tuple[str, str]],
                 schema_version: int, query_id: str,
                 partition_spec: list | None = None):
        self.path = path
        self.columns = columns  # (name, ddl type) of the CURRENT schema
        self.schema_version = schema_version
        self.query_id = query_id
        self.partition_spec = partition_spec or []

    def write(self, iterator):  # executor-side
        return _write_task_file(self.path, self.columns, iterator,
                                self.partition_spec)

    def commit(self, messages, batchId: int) -> None:  # driver-side
        from ..catalog.table import LakeTable

        entries = _message_entries(messages, self.schema_version)
        # Empty batches still commit the batch-id watermark? No — the
        # guard skips ids ≤ last, and Spark only replays PLANNED
        # batches, so an empty batch simply publishes no snapshot.
        if entries:
            t = LakeTable.load(None, self.path)
            _check_version_unchanged(t, self.schema_version, self.columns)
            t.commit_streaming_files(entries, batchId, self.query_id)

    def abort(self, messages, batchId: int) -> None:
        _unlink_messages(self.path, messages)


class LakeTableBatchWriter(DataSourceArrowWriter):
    """Batch writer (``df.write.format("laketable")``): the same
    executor-side parquet + footer-stats write as the streaming sink,
    committed as one plain append — mode("overwrite") replaces the
    table's file set (and thereby drops now-dangling delete files,
    same as ``LakeTable.overwrite``). Appends auto-retry on commit
    conflicts; tasks' files are written once, only the metadata commit
    re-bases. Production bulk loads should still prefer
    ``LakeTable.append`` (the JVM writer with partition-spec fanout);
    this path completes the format's CRUD surface — and fans out
    partition values itself when the spec is exactly computable in
    Python (see ``_python_partition_fn``). Partition-aware replacement
    (``partitionOverwriteMode=dynamic``) is still deliberately NOT
    offered here — on a spec with any non-reproducible field the task
    files carry no partition values, so the replacement set could not
    be matched; use ``LakeTable.overwrite_partitions`` / SQL
    ``INSERT OVERWRITE``, whose JVM fanout write always records them."""

    def __init__(self, path: str, columns: list[tuple[str, str]],
                 schema_version: int, overwrite: bool,
                 partition_spec: list | None = None):
        self.path = path
        self.columns = columns
        self.schema_version = schema_version
        self.overwrite = overwrite
        self.partition_spec = partition_spec or []

    def write(self, iterator):  # executor-side
        return _write_task_file(self.path, self.columns, iterator,
                                self.partition_spec)

    def commit(self, messages) -> None:  # driver-side
        from ..catalog.table import LakeTable

        entries = _message_entries(messages, self.schema_version)
        if entries or self.overwrite:
            t = LakeTable.load(None, self.path)
            _check_version_unchanged(t, self.schema_version, self.columns)
            t.commit_data_files(entries, overwrite=self.overwrite)

    def abort(self, messages) -> None:
        _unlink_messages(self.path, messages)


def _check_version_unchanged(table, version: int,
                             columns: list[tuple[str, str]]) -> None:
    """Refuse to commit files stamped with a schema version whose
    recorded column list no longer equals what the writer captured at
    query start. Normal evolution (add/rename/widen) APPENDS versions
    and never triggers this; CREATE OR REPLACE re-numbers history, so
    the stamp would attribute the files to the wrong shape — readers
    would mis-project them silently."""
    recorded = table._meta.get("schemas", {}).get(str(version))
    got = [(f["name"], f["type"]) for f in recorded] if recorded else None
    if got != list(columns):
        raise ValueError(
            f"table {table.path} schema version {version} no longer "
            f"records the columns captured at query start "
            f"({list(columns)} -> {got}); the table was replaced under "
            f"a running writer — restart the query against the new table"
        )


def _python_partition_fn(spec_json: list, columns: list[tuple[str, str]]):
    """Per-batch partition-value computation for the Python write path
    — or ``None`` unless EVERY spec field is EXACTLY computable here.

    "Exactly" is the whole contract: a recorded ``_p_*`` value that
    renders differently from the JVM write path would make
    ``_prune_files`` equality-compare different spellings and WRONGLY
    prune. :func:`..catalog.transforms.exact` lists the (transform,
    type) pairs whose values the partition-value codec reproduces; any
    other field disables fanout entirely (PARTIAL keysets would break
    spec attribution on export), and the task writes one unkeyed file.

    Instant timestamps (identity and the calendar family) are exact
    only under a UTC SESSION zone, which a Python worker cannot read
    from a SparkSession but can read from the data: Spark ships
    TimestampType columns as ``timestamp[us, tz=<session tz>]``. The
    returned plan carries those columns as ``utc_instant_cols``;
    ``_write_task_file`` checks the first batch and degrades to
    unkeyed files under any other zone. TIMESTAMP_NTZ stays in the
    wall-clock domain end to end, so it needs no check."""
    types = dict(columns)
    plan: list[tuple[str, transforms.Transform, str]] = []
    utc_instant_cols: set[str] = set()
    for tj in spec_json:
        t = transforms.Transform.from_json(tj)
        ty = types.get(t.column, "")
        if not transforms.exact(t, ty):
            return None
        if ty.strip().lower() in ("timestamp", "timestamp_ltz"):
            utc_instant_cols.add(t.column)
        plan.append((transforms.key(t), t, ty))
    if not plan:
        return None

    def compute(tbl) -> list[dict]:
        """One partition dict per row of the Arrow table."""
        import pyarrow as pa

        per_field = []
        for key, t, ty in plan:
            col = tbl.column(t.column)
            # the codec takes dates and timestamps as Iceberg stores
            # them: days and microseconds since the epoch
            if pa.types.is_timestamp(col.type):
                col = col.cast(pa.timestamp("us", col.type.tz)) \
                    .cast(pa.int64())
            elif pa.types.is_date(col.type):
                col = col.cast(pa.int32())
            per_field.append((key, [
                transforms.spell(t, ty, transforms.result(t, ty, v))
                for v in col.to_pylist()]))
        n = tbl.num_rows
        return [{k: col[i] for k, col in per_field} for i in range(n)]

    compute.utc_instant_cols = frozenset(utc_instant_cols)
    return compute


# one task fans out to at most this many clustered files; beyond it,
# remaining rows go to one unkeyed file (correct, just unpruned) so
# writer count and memory stay bounded on high-cardinality identity
# specs
_FANOUT_CAP = 64


def _write_task_file(path: str, columns: list[tuple[str, str]],
                     iterator, spec_json: list | None = None
                     ) -> _SinkFileMessage:
    """Executor-side write shared by the streaming sink and the batch
    writer: stream Arrow batches straight into parquet (the task never
    buffers its partition — memory stays O(one batch) however large
    the input grows), then read each file's own footer for min/max
    stats so manifest pruning works from commit one.

    With a partition spec whose every field is exactly computable in
    Python (``_python_partition_fn``), rows FAN OUT into one file per
    partition value — streamed commits into a murmur3-bucketed table
    prune from the first micro-batch, no compaction wait."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    target = pa.schema([pa.field(n, _arrow_type(d)) for n, d in columns])
    part_fn = _python_partition_fn(spec_json or [], columns)
    # Instant-timestamp calendar fanout is exact only under a UTC
    # SESSION zone — which this worker cannot read from a SparkSession
    # (there is none here), but CAN read from the data: Spark ships
    # TimestampType as Arrow timestamp[us, tz=<session tz>]. Verified
    # against the first batch (the schema is constant per task); any
    # other zone degrades the whole task to unkeyed files
    # (never-prune), never wrongly-keyed ones.
    _utc_tzs = {"UTC", "Etc/UTC", "GMT", "Z", "+00:00"}
    pending_tz_cols = getattr(part_fn, "utc_instant_cols", frozenset())

    writers: dict[tuple, tuple] = {}  # key items -> (writer, rel, abs)

    def _sink_for(part_items: tuple):
        hit = writers.get(part_items)
        if hit is None:
            rel = os.path.join("data", f"stream-{uuid.uuid4().hex}.parquet")
            ap = os.path.join(path, rel)
            os.makedirs(os.path.dirname(ap), exist_ok=True)
            hit = writers[part_items] = (pq.ParquetWriter(ap, target),
                                         rel, ap)
        return hit[0]

    try:
        for rb in iterator:
            if rb.num_rows == 0:
                continue
            if pending_tz_cols:
                for f in rb.schema:
                    if f.name in pending_tz_cols and \
                            getattr(f.type, "tz", None) not in _utc_tzs:
                        part_fn = None  # non-UTC session: unkeyed files
                        break
                pending_tz_cols = frozenset()
            tbl = pa.Table.from_batches([rb])
            if tbl.schema != target:
                tbl = tbl.cast(target)
            if part_fn is None:
                _sink_for(()).write_table(tbl)
                continue
            parts = part_fn(tbl)
            order: dict[tuple, list[int]] = {}
            for i, p in enumerate(parts):
                order.setdefault(tuple(sorted(p.items())), []).append(i)
            for items, idxs in order.items():
                if items and len(writers) >= _FANOUT_CAP \
                        and items not in writers:
                    items = ()  # overflow: unkeyed (never-prune) file
                sub = tbl if len(idxs) == tbl.num_rows else tbl.take(idxs)
                _sink_for(items).write_table(sub)
    finally:
        for w, _rel, _ap in writers.values():
            w.close()

    from ..catalog.table import footer_min_max

    files = []
    for items, (_w, rel, ap) in writers.items():
        md = pq.ParquetFile(ap).metadata
        if md.num_rows == 0:
            os.remove(ap)
            continue
        files.append({"rel": rel, "rows": md.num_rows,
                      "nbytes": os.path.getsize(ap),
                      "stats": footer_min_max(md),
                      "partition": dict(items)})
    return _SinkFileMessage(files)


def _message_entries(messages, schema_version: int):
    from ..catalog.table import FileEntry

    return [
        FileEntry(
            path=f["rel"], rows=f["rows"], bytes=f["nbytes"],
            schema_version=schema_version, stats=f["stats"],
            partition=f.get("partition") or {}, seq=None,
        )
        for m in messages
        if m is not None
        for f in m.files
    ]


def _unlink_messages(path: str, messages) -> None:
    unlink_quietly(path, (f["rel"] for m in messages
                          for f in (getattr(m, "files", None) or [])))


class LakeTableDataSource(DataSource):
    """`format("laketable")` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "laketable"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("laketable source needs .option('path', <table root>)")
        return path

    def _cdc(self) -> bool:
        return str(self.options.get("mode", "append")).lower() == "cdc"

    def schema(self) -> str:
        meta = _load_meta(self._path())
        fields = meta["schemas"][str(meta["current_schema_version"])]
        # ERASE varchar(n)/char(n) to string in the DECLARED schema:
        # Spark itself erases them in DataFrames (the length lives only
        # in table metadata), and the Python-DataSource Arrow bridge
        # refuses VarcharType outright (r14 exotic-DDL widening)
        ddl = ", ".join(
            f"{f['name']} {_erase_char_types(f['type'])}" for f in fields
        )
        if self._cdc():
            ddl += ", _change_type string, _commit_snapshot_id bigint"
        return ddl

    def reader(self, schema) -> DataSourceReader:
        if self._cdc():
            raise ValueError("mode=cdc is a streaming-only option")
        sid = self.options.get("snapshot-id")
        ts = self.options.get("timestamp-as-of")
        if sid is not None and ts is not None:
            raise ValueError("snapshot-id and timestamp-as-of are exclusive")
        push = str(self.options.get("filter-pushdown", "false")).lower() == "true"
        cls = LakeTablePushdownBatchReader if push else LakeTableBatchReader
        return cls(
            self._path(),
            int(sid) if sid is not None else None,
            ts_ms=int(ts) if ts is not None else None,
            branch=self.options.get("branch"),
        )

    def _write_config(self, schema) -> tuple:
        if self._cdc():
            raise ValueError("mode=cdc is a read-side option")
        path = self._path()
        meta = _load_meta(path)
        version = meta["current_schema_version"]
        spec = meta.get("partition_spec") or []
        table_cols = [(f["name"], f["type"]) for f in meta["schemas"][str(version)]]

        def canon(ddl: str) -> str:  # 'long'/'BIGINT' etc. are one type
            s = ddl.strip().lower()
            return {"long": "bigint", "integer": "int"}.get(s, s)

        incoming = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        if [(n, canon(t)) for n, t in incoming] != [
            (n, canon(t)) for n, t in table_cols
        ]:
            raise ValueError(
                f"write schema {incoming} does not match table schema "
                f"{table_cols}; align names, types and column order"
            )
        return path, table_cols, version, spec

    def streamWriter(self, schema, overwrite: bool) -> DataSourceStreamWriter:
        if overwrite:
            raise ValueError(
                "laketable streaming sink supports append output mode only"
            )
        path, table_cols, version, spec = self._write_config(schema)
        # Idempotency identity: one batch-id watermark per (table,
        # query id). Default to the CHECKPOINT LOCATION — the identity
        # Iceberg gets from Spark's queryId: it survives restarts of
        # the same checkpoint (replays dedup) and differs for a fresh
        # checkpoint (a new query's batch 0 lands instead of being
        # swallowed by the old watermark). sink-query-id overrides for
        # tests or checkpoint migration; concurrent queries must not
        # share an id.
        qid = (self.options.get("sink-query-id")
               or self.options.get("checkpointlocation")
               or "default")
        return LakeTableStreamWriter(path, table_cols, version, str(qid),
                                     partition_spec=spec)

    def writer(self, schema, overwrite: bool) -> DataSourceArrowWriter:
        path, table_cols, version, spec = self._write_config(schema)
        return LakeTableBatchWriter(path, table_cols, version, overwrite,
                                    partition_spec=spec)

    def streamReader(self, schema) -> DataSourceStreamReader:
        skip = str(self.options.get("skip-non-appends", "false")).lower() == "true"
        cap = self.options.get("max-files-per-trigger")
        if cap is not None and int(cap) < 1:
            raise ValueError("max-files-per-trigger must be >= 1")
        ssid = self.options.get("starting-snapshot-id")
        sts = self.options.get("starting-timestamp")
        if ssid is not None and sts is not None:
            raise ValueError(
                "starting-snapshot-id and starting-timestamp are exclusive"
            )
        cow = str(self.options.get("cow-changelog", "false")).lower() == "true"
        if cow and not self._cdc():
            raise ValueError("cow-changelog=true requires mode=cdc")
        buckets = int(self.options.get("cdc-cow-buckets", "1"))
        if buckets < 1:
            raise ValueError("cdc-cow-buckets must be >= 1")
        return LakeTableStreamReader(
            self._path(), skip, self._cdc(),
            max_files=int(cap) if cap is not None else None,
            branch=self.options.get("branch"),
            start_snapshot_id=int(ssid) if ssid is not None else None,
            start_ts_ms=int(sts) if sts is not None else None,
            cow_net=cow, cow_buckets=buckets,
        )


# ---------------------------------------------------------------------------
# Registered driver-row query
# ---------------------------------------------------------------------------

def register_source(spark) -> None:
    """Register the ``laketable`` format on a SparkSession.
    Re-registration is idempotent (latest registration wins), so no
    seen-session bookkeeping: dedup keyed on ``id(spark)`` would
    silently skip a NEW session that reused a garbage-collected
    session's id."""
    spark.dataSource.register(LakeTableDataSource)


def _register_queries() -> None:
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ..operators.registry import register
    from ..sources import load_table

    @register(
        "streaming_table_source_read",
        oracle=(
            # Incrementality is pinned: the first stream pass must have
            # delivered exactly the first three commits, the second
            # pass exactly the fourth — never re-delivering pass-1 rows.
            "SELECT (SELECT COUNT(*) FROM events WHERE user_id < 30) "
            "AS rows_first_pass, "
            "(SELECT COUNT(*) FROM events WHERE user_id < 40) AS rows_total, "
            "CAST((SELECT ROUND(SUM(value), 2) FROM events WHERE user_id < 40) "
            "AS DOUBLE) AS sum_value_streamed"
        ),
    )
    def streaming_table_source_read(spark, sf_dir):
        """Streaming READ of a LakeTable's commits (Iceberg streaming
        read) through the `laketable` Python DataSource: three commits
        land, an availableNow stream drains them into a parquet sink,
        a fourth commit lands, and a SECOND stream run over the SAME
        checkpoint delivers only the new commit — snapshot-id offsets
        recorded in the checkpoint make redelivery impossible. The
        result row carries the row count after each pass plus the
        streamed value checksum, so the oracle verifies exactly-once
        incremental delivery, not just the final state."""
        from ..catalog.table import LakeTable

        register_source(spark)
        ev = load_table(spark, "events", sf_dir).select(
            "event_id", "user_id", "value"
        )
        d = tempfile.mkdtemp(prefix="laketable-src-")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        t = LakeTable.create(
            spark, os.path.join(d, "t"), "event_id bigint, user_id bigint, value double"
        )
        for lo, hi in ((0, 10), (10, 20), (20, 30)):
            t.append(ev.filter((F.col("user_id") >= lo) & (F.col("user_id") < hi)))
        sink, ck = os.path.join(d, "sink"), os.path.join(d, "ck")

        def drain():
            q = (
                spark.readStream.format("laketable").option("path", t.path).load()
                .writeStream.format("parquet").option("path", sink)
                .trigger(availableNow=True)
                .option("checkpointLocation", ck).start()
            )
            q.awaitTermination(300)

        drain()
        rows_first_pass = spark.read.parquet(sink).count()
        t.append(ev.filter((F.col("user_id") >= 30) & (F.col("user_id") < 40)))
        drain()
        return spark.read.parquet(sink).agg(
            F.lit(rows_first_pass).cast("bigint").alias("rows_first_pass"),
            F.count(F.lit(1)).alias("rows_total"),
            F.round(F.sum("value"), 2).cast("double").alias("sum_value_streamed"),
        )

    @register(
        "streaming_table_source_cdc",
        oracle=(
            # The CDC feed's shape is fully determined by the source
            # slices: commit 1 inserts user_id<20, the upsert commit
            # retracts + reinserts every key in [10,30) (equality
            # deletes retract blind — present or not), so the insert
            # checksum covers base + upserted values.
            "SELECT (SELECT COUNT(*) FROM events WHERE user_id < 20) "
            "+ (SELECT COUNT(*) FROM events WHERE user_id >= 10 AND user_id < 30) "
            "AS insert_rows, "
            "(SELECT COUNT(*) FROM events WHERE user_id >= 10 AND user_id < 30) "
            "AS delete_rows, "
            "CAST((SELECT ROUND(SUM(CASE WHEN user_id < 20 THEN value ELSE 0 END) "
            "+ SUM(CASE WHEN user_id >= 10 AND user_id < 30 "
            "THEN value + 1000 ELSE 0 END), 2) FROM events WHERE user_id < 30) "
            "AS DOUBLE) AS insert_value_sum"
        ),
    )
    def streaming_table_source_cdc(spark, sf_dir):
        """CDC feed from a merge-on-read table through the `laketable`
        source's mode=cdc: a base append then a CDC upsert (equality
        deletes + new rows) stream as +I / -D records with commit ids
        — the SOURCE half of the CDC story whose SINK half is
        `streaming_cdc_upsert_laketable`. The oracle pins the exact
        feed cardinalities and the insert-side checksum: equality
        retractions appear once per upserted key (blind retraction —
        Iceberg changelog semantics for equality deletes), inserts
        carry base + upserted values."""
        from ..catalog.table import LakeTable

        register_source(spark)
        ev = load_table(spark, "events", sf_dir).select(
            "event_id", "user_id", "value"
        )
        d = tempfile.mkdtemp(prefix="laketable-cdc-")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        t = LakeTable.create(
            spark, os.path.join(d, "t"),
            "event_id bigint, user_id bigint, value double",
            properties={"write.update.mode": "merge-on-read"},
        )
        t.append(ev.filter(F.col("user_id") < 20))
        t.upsert_by_keys(
            ev.filter((F.col("user_id") >= 10) & (F.col("user_id") < 30))
            .withColumn("value", F.col("value") + 1000),
            on=["event_id"],
        )
        sink, ck = os.path.join(d, "sink"), os.path.join(d, "ck")
        q = (
            spark.readStream.format("laketable")
            .option("path", t.path).option("mode", "cdc").load()
            .writeStream.format("parquet").option("path", sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck).start()
        )
        q.awaitTermination(300)
        feed = spark.read.parquet(sink)
        ins = F.col("_change_type") == "insert"
        return feed.agg(
            F.sum(ins.cast("long")).alias("insert_rows"),
            F.sum((~ins).cast("long")).alias("delete_rows"),
            F.round(F.sum(F.when(ins, F.col("value"))), 2)
            .cast("double").alias("insert_value_sum"),
        )

    @register(
        "streaming_table_source_cdc_cow",
        oracle=(
            # Netting pins the feed exactly: the base commit inserts
            # user_id<20; the CoW update rewrites files but only rows
            # with user_id in [10,20) actually change, so the netted
            # feed carries exactly one -D (old value) and one +I
            # (value+1000) per updated row — carried-over rows cancel.
            "SELECT (SELECT COUNT(*) FROM events WHERE user_id < 20) "
            "+ (SELECT COUNT(*) FROM events WHERE user_id >= 10 AND user_id < 20) "
            "AS insert_rows, "
            "(SELECT COUNT(*) FROM events WHERE user_id >= 10 AND user_id < 20) "
            "AS delete_rows, "
            "CAST((SELECT ROUND(SUM(CASE WHEN user_id < 10 THEN value "
            "ELSE 2 * value + 1000 END), 2) FROM events WHERE user_id < 20) "
            "AS DOUBLE) AS insert_value_sum"
        ),
    )
    def streaming_table_source_cdc_cow(spark, sf_dir):
        """CDC feed over COPY-ON-WRITE commits (round-6 gap closure —
        VERDICT r5 item 2): a CoW UPDATE rewrites whole files, which no
        per-file row feed can express, so ``cow-changelog=true`` NETS
        the commit inside the source (bucketed multiset diff of removed
        vs added files — the streaming equivalent of
        ``LakeTable.changelog()``'s exceptAll) and emits only the true
        -D/+I pairs; carried-over rows cancel. Two hash buckets
        exercise the parallel path. The oracle pins the exact netted
        cardinalities and the insert-side checksum: base inserts at
        original values, updated rows re-inserted at value+1000, one
        retraction per actually-updated row and none for carried
        rows."""
        from ..catalog.table import LakeTable

        register_source(spark)
        ev = load_table(spark, "events", sf_dir).select(
            "event_id", "user_id", "value"
        )
        d = tempfile.mkdtemp(prefix="laketable-cow-")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        t = LakeTable.create(
            spark, os.path.join(d, "t"),
            "event_id bigint, user_id bigint, value double",
        )  # default copy-on-write row-level ops
        t.append(ev.filter(F.col("user_id") < 20))
        t.update({"value": "value + 1000"}, "user_id >= 10")  # CoW rewrite
        sink, ck = os.path.join(d, "sink"), os.path.join(d, "ck")
        q = (
            spark.readStream.format("laketable")
            .option("path", t.path).option("mode", "cdc")
            .option("cow-changelog", "true")
            .option("cdc-cow-buckets", "2").load()
            .writeStream.format("parquet").option("path", sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ck).start()
        )
        q.awaitTermination(300)
        feed = spark.read.parquet(sink)
        ins = F.col("_change_type") == "insert"
        return feed.agg(
            F.sum(ins.cast("long")).alias("insert_rows"),
            F.sum((~ins).cast("long")).alias("delete_rows"),
            F.round(F.sum(F.when(ins, F.col("value"))), 2)
            .cast("double").alias("insert_value_sum"),
        )

    @register(
        "cdc_replicate_table",
        oracle=(
            # Final replicated state: base user_id<20, minus the two
            # deleted users, values +1000 for the updated band.
            "SELECT COUNT(*) AS row_count, "
            "CAST(ROUND(SUM(CASE WHEN user_id >= 10 AND user_id < 15 "
            "THEN value + 1000 ELSE value END), 2) AS DOUBLE) AS value_sum, "
            "TRUE AS replica_matches_source "
            "FROM events WHERE user_id < 20 AND user_id NOT IN (3, 7)"
        ),
    )
    def cdc_replicate_table(spark, sf_dir):
        """End-to-end CDC REPLICATION — the consumer half of the feed:
        a copy-on-write source table (append, then a CoW UPDATE, then a
        CoW DELETE) streams through ``mode=cdc`` + ``cow-changelog``
        netting into ``LakeTable.apply_cdc_batch`` — ONE
        replay-idempotent merge-on-read commit per micro-batch that
        reduces the batch to the last action per key, equality-retracts
        every touched key, and appends the final images (O(batch),
        zero target reads, ``(query-id, batch-id)`` watermark against
        replays). The replica must equal the source bit-for-bit at the
        end (asserted via two-sided exceptAll), and the oracle
        independently pins the final state from plain SQL — proving
        feed completeness, per-key ordering, and the netting's
        carried-rows-cancel property in one row. The CoW→MoR pairing
        is the scale story: the source pays rewrite-on-write once,
        every downstream replica applies changes at O(batch)."""
        from ..catalog.table import LakeTable

        register_source(spark)
        ev = load_table(spark, "events", sf_dir).select(
            "event_id", "user_id", "value"
        )
        d = tempfile.mkdtemp(prefix="laketable-repl-")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        ddl = "event_id bigint, user_id bigint, value double"
        src = LakeTable.create(spark, os.path.join(d, "src"), ddl)
        src.append(ev.filter(F.col("user_id") < 20))
        src.update({"value": "value + 1000"}, "user_id >= 10 AND user_id < 15")
        src.delete_where("user_id IN (3, 7)")
        replica = LakeTable.create(
            spark, os.path.join(d, "replica"), ddl,
            properties={"write.delete.mode": "merge-on-read"},
        )

        def apply_batch(batch_df, batch_id):
            replica.apply_cdc_batch(
                batch_df, on=["event_id"], batch_id=batch_id,
                query_id="cdc_replicate_table",
            )

        q = (
            spark.readStream.format("laketable")
            .option("path", src.path).option("mode", "cdc")
            .option("cow-changelog", "true").load()
            .writeStream.foreachBatch(apply_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(d, "ck")).start()
        )
        q.awaitTermination(300)
        replica._reload()
        rep, source = replica.read(), src.read()
        matches = rep.exceptAll(source).isEmpty() and source.exceptAll(rep).isEmpty()
        return rep.agg(
            F.count(F.lit(1)).alias("row_count"),
            F.round(F.sum("value"), 2).cast("double").alias("value_sum"),
            F.lit(bool(matches)).alias("replica_matches_source"),
        )


_register_queries()

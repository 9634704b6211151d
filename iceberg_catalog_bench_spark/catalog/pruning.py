"""Manifest-level file pruning, shared by ``LakeTable`` (scan and DML)
and the ``laketable`` batch reader's filter pushdown: the data files
of a snapshot that may hold a row matching a conjunction of simple
predicates, decided by their recorded partition values and footer
``[min, max]`` stats, bound by field id as Iceberg's scan planning
binds them. A conjunct is ``(column path, op, literal)``: a tuple of
names (a column, then struct leaves), one of ``= < <= > >= in``, and a
literal (a list for ``in``). Whatever the rules in :func:`_bind` cannot
decide keeps the file. No Spark import: transform values that need a
Spark eval come from the caller's ``transform_values``.
"""

from __future__ import annotations

import datetime
import decimal
import re
from collections.abc import Callable, Sequence
from dataclasses import replace
from typing import Any

from . import spark_xxhash, transforms
from .transforms import HIVE_NULL, Transform, parse_spec

Conjunct = tuple[tuple[str, ...], str, Any]

_ISO_TS = re.compile(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}")
_ISO_DATE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
# a date, or a date and time of day, with no zone
_WALL_CLOCK = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})(?:[T ](\d{2}):(\d{2})(?::(\d{2})(?:\.\d+)?)?)?$")
_LIT = r"'[^']*'|[-\d.]+"
# column refs admit dotted STRUCT-leaf paths (meta.n): leaf stats are
# recorded under the dotted spelling (footer_min_max)
_SIMPLE_PRED = re.compile(
    rf"^\s*(\w+(?:\.\w+)*)\s*(=|==|<=|>=|<|>)\s*({_LIT})\s*$")
_IN_PRED = re.compile(
    rf"^\s*(\w+(?:\.\w+)*)\s+in\s*\(\s*({_LIT})(?:\s*,\s*(?:{_LIT}))*\s*\)\s*$",
    re.IGNORECASE,
)


def conjuncts(where: str) -> list[Conjunct]:
    """The prunable conjuncts of a SQL ``where``: ``col op literal``
    and ``col IN (literals)`` terms of a top-level AND. Other terms are
    skipped (they keep every file). A number with a fraction reads as a
    float, or, past the 15 significant digits a float holds, as the
    exact decimal Spark reads."""
    def lit(s: str) -> Any:
        if s.startswith("'"):
            return s[1:-1]
        if "." not in s:
            return int(s)
        return decimal.Decimal(s) if _digits(s) > 15 else float(s)

    out: list[Conjunct] = []
    for c in re.split(r"(?i)\s+and\s+", where):
        m = _SIMPLE_PRED.match(c)
        if m:
            col, op, val = m.groups()
            out.append((tuple(col.split(".")), "=" if op == "==" else op,
                        lit(val)))
            continue
        m = _IN_PRED.match(c)
        if m:
            vals = re.findall(_LIT, c.split("(", 1)[1].rsplit(")", 1)[0])
            out.append((tuple(m.group(1).split(".")), "in",
                        [lit(v) for v in vals]))
    return out


def _digits(v: Any) -> int:
    """The significant digits of the number ``v`` reads as (0 when it
    reads as none)."""
    try:
        d = decimal.Decimal(str(v).strip())
    except decimal.InvalidOperation:
        return 0
    return len("".join(map(str, d.as_tuple().digits)).strip("0")) \
        if d.is_finite() else 0


def norm_stat(v: Any) -> Any:
    """A stat, default or literal in the form footer stats record
    (``table._json_safe``): dates and timestamps as naive-UTC ISO
    strings with a space separator, so lexical order is chronological
    order. ISO strings with a 'T' or a zone offset are normalized too."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str) and _ISO_TS.match(v):
        try:
            return norm_stat(datetime.datetime.fromisoformat(v))
        except ValueError:
            return v
    return v


def calendar_floor(t: Transform, val: Any) -> str | None:
    """The partition value a calendar transform gives the literal
    ``val``, computed without Spark: a wall-clock literal floors to the
    same value in every session zone. None when ``t`` is not calendar
    or ``val`` is not a wall-clock literal; a literal with a zone names
    an instant whose wall clock depends on the session zone."""
    m = _WALL_CLOCK.match(str(val)) if t.name in transforms.CALENDAR \
        else None
    if m is None:
        return None
    try:
        wall = datetime.datetime(*(int(g or 0) for g in m.groups()))
    except ValueError:
        return None
    us = (wall - datetime.datetime(1970, 1, 1)) \
        // datetime.timedelta(microseconds=1)
    return transforms.spell(t, "timestamp_ntz",
                            transforms.result(t, "timestamp_ntz", us))


def tv_key(t: Transform, col_type: str | None, val: Any) -> tuple:
    return (t.name, t.column, t.param, col_type, repr(val))


def driver_transform_value(t: Transform, col_type: str,
                           val: Any) -> str | None:
    """``t`` of the literal ``val`` cast to ``col_type``, computed
    without Spark, or None where only a Spark eval is exact (a literal
    whose cast Spark might round, wrap or parse)."""
    base = col_type.strip().lower().split("(")[0]
    coerced: Any = None
    if base in spark_xxhash.INT_BITS and not isinstance(val, bool) and (
            isinstance(val, int)
            or isinstance(val, float) and val.is_integer()):
        coerced = int(val)
    elif base == "string" and isinstance(val, str):
        coerced = val
    elif base == "date" and isinstance(val, str) and t.name == "ibucket":
        try:
            coerced = (datetime.date.fromisoformat(val[:10])
                       - datetime.date(1970, 1, 1)).days
        except ValueError:
            return None
    if coerced is None:
        return None
    if t.name in ("identity", "bucket"):
        if not spark_xxhash.fits(coerced, base):
            return None
    elif t.name != "ibucket" and not (
            t.name == "itruncate" and isinstance(coerced, int)):
        return None
    return transforms.spell(t, col_type,
                            transforms.result(t, col_type, coerced))


def driver_transform_values(
    items: Sequence[tuple[Transform, Any, str]]
) -> dict[tuple, str | None]:
    """``transform_values`` without Spark: None where a Spark eval
    would be needed (that literal then prunes no partition value)."""
    return {tv_key(t, typ, v): driver_transform_value(t, typ, v)
            for t, v, typ in items}


def _midnight(v: Any) -> Any:
    return f"{v} 00:00:00" if isinstance(v, str) and _ISO_DATE.match(v) else v


def _order(a: Any, b: Any) -> int | None:
    """-1, 0 or 1 as Spark orders ``a`` and ``b`` (NaN equals NaN and
    sorts above every other number), or None when they are of kinds
    that compare only through a cast (keep the file)."""
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        a_nan, b_nan = a != a, b != b
        if a_nan or b_nan:
            return a_nan - b_nan
    elif not (isinstance(a, str) and isinstance(b, str)):
        return None
    return (a > b) - (a < b)


def _in_range(lo: Any, hi: Any, op: str, lit: Any) -> bool:
    """Whether a column whose values span ``[lo, hi]`` may hold one
    satisfying ``op lit`` (all in ``norm_stat`` form)."""
    if op == "in":
        return any(_in_range(lo, hi, "=", v) for v in lit)
    if lit != lit:  # a NaN literal: stats omit NaN rows
        return True
    lo_o, hi_o = _order(lo, lit), _order(hi, lit)
    if lo_o is None or hi_o is None:
        return True
    return {"=": lo_o <= 0 <= hi_o, "<": lo_o < 0, "<=": lo_o <= 0,
            ">": hi_o > 0, ">=": hi_o >= 0}[op]


def _leaf_default(default: Any, leaves: tuple[str, ...]) -> tuple[bool, Any]:
    """(found, value) of a struct default at a leaf path, each step
    resolved case-insensitively like Spark. Not found when two keys
    differ only by case (the file is then kept)."""
    for step in leaves:
        if not isinstance(default, dict):
            return True, None
        if step in default:
            default = default[step]
            continue
        hits = [v for k, v in default.items() if k.lower() == step.lower()]
        if len(hits) > 1:
            return False, None
        default = hits[0] if hits else None
    return True, default


def _stats_key(stats: dict, key: str, nested: bool) -> str | None:
    if key in stats or not nested:
        return key
    # Spark resolves struct leaves case-insensitively; a recorded
    # dotted key cased differently still prunes when it is unique
    hits = [k for k in stats if k.lower() == key.lower()]
    return hits[0] if len(hits) == 1 else None


def split_top(s: str, sep: str) -> list[str]:
    """Split ``s`` on ``sep`` at bracket depth 0 — the nested-DDL
    tokenizer. Tracks BOTH angle brackets and parentheses: commas
    inside ``struct<...>``/``map<...>`` AND inside ``decimal(p,s)``
    never split (review-caught: ``struct<a:decimal(10,2)>`` split on
    the decimal's comma). Unbalanced brackets raise — a malformed DDL
    like ``struct<a:int>>`` must fail at parse time, not misparse into
    a skewed nested type (ADVICE r13)."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
            if depth < 0:
                raise ValueError(f"unbalanced brackets in DDL fragment: {s!r}")
        if ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if depth != 0:
        raise ValueError(f"unbalanced brackets in DDL fragment: {s!r}")
    parts.append("".join(cur))
    return parts


def leaf_type(top_ddl: str, path: tuple) -> str | None:
    """DDL of the struct LEAF at ``path`` inside ``top_ddl``, walking
    only struct nesting (None when any step crosses a map/array or
    names a missing field) — the resolver behind struct-leaf predicate
    pruning (field names match case-insensitively, like Spark)."""
    cur = top_ddl
    for name in path:
        key = cur.strip().lower()
        if not (key.startswith("struct<") and key.endswith(">")):
            return None
        for item in split_top(cur.strip()[7:-1], ","):
            fname, sep, sub = item.partition(":")
            if sep and fname.strip().strip("`").lower() == name.lower():
                cur = sub.strip()
                break
        else:
            return None
    return cur


def _nan_hides(typ: str, leaves: tuple[str, ...]) -> bool:
    """Whether NaN rows may be missing from the stats of the column of
    type ``typ`` (or its struct leaf): floats, or a leaf not found."""
    leaf = leaf_type(typ, leaves)
    return leaf is None or leaf.strip().lower() in ("float", "double",
                                                     "real")


def _bind(preds: list[tuple], cur: dict, fields: list[dict],
          spec: list[tuple[int, Transform]], wanted: list
          ) -> list[tuple] | None:
    """The conjuncts bound to the files of one schema version (whose
    fields are ``fields``; ``cur`` maps the predicates' column names):

    - stats, partition values and defaults are looked up under the name
      each field had in ``fields``, and a partition field (``spec``:
      source field id, transform) compares the literal transformed at
      the type it had there (Spark hashes ``int`` and ``bigint``
      differently); those literals are appended to ``wanted``;
    - a column added since is judged by its declared default: None
      when that rules every such file out;
    - NaN stats prove nothing, and a float ``>``/``>=`` never prunes on
      stats, because Spark orders NaN above every value.
    """
    at = {f["id"]: f for f in fields}
    checks = []
    for path, op, lit, stat_lit in preds:
        f = cur.get(path[0])
        if f is None:
            continue
        if len(path) == 1 and f["type"].lower().startswith("timestamp"):
            # Spark reads a bare date literal as that day's midnight
            stat_lit = [_midnight(v) for v in stat_lit] if op == "in" \
                else _midnight(stat_lit)
        old = at.get(f["id"])
        if old is None:
            # added after this version: every row reads the default
            found, value = _leaf_default(f.get("default"), path[1:])
            value = norm_stat(value)
            if found and (value is None  # NULL matches no comparison
                          or not _in_range(value, value, op, stat_lit)):
                return None
            continue
        parts = []
        lits = lit if op == "in" else [lit]
        for fid, t in spec if len(path) == 1 else []:
            if fid != f["id"]:
                continue
            # a calendar partition value IS the floored literal's
            # spelling; other transforms compare transform values
            floors = [calendar_floor(t, v) for v in lits]
            tkeys = []
            # tables written before the ibucket hash of a decimal was
            # exact hold buckets of its value rounded to 28 digits
            wide = t.name == "ibucket" and old["type"].lower().startswith(
                "decimal") and any(_digits(v) > 28 for v in lits)
            if None in floors:
                floors = None
                if op in ("=", "in") and not wide:
                    wanted += [(t, v, old["type"]) for v in lits]
                    tkeys = [tv_key(t, old["type"], v) for v in lits]
            parts.append((transforms.key(replace(t, column=old["name"])),
                          floors, tkeys))
        if op in (">", ">=") and (_nan_hides(f["type"], path[1:])
                                  or _nan_hides(old["type"], path[1:])):
            stat_lit = None  # Spark's NaN > every value
        checks.append((".".join((old["name"],) + path[1:]), len(path) > 1,
                       parts, op, stat_lit))
    return checks


def prune(entries: Sequence, preds: list[Conjunct], meta: dict,
          transform_values: Callable = driver_transform_values,
          version: int | None = None) -> list:
    """The entries (``FileEntry``-shaped: ``schema_version``, ``stats``,
    ``partition``) that may hold a row matching every conjunct, whose
    column names are those of schema ``version`` (the current one by
    default; a time-travel read names columns as they were then).

    ``meta`` is the table metadata (``schemas``,
    ``current_schema_version``, ``partition_spec``). Equality and IN
    literals on identity/bucket/truncate partitions are transformed by
    ONE ``transform_values`` call, made on first need, for every
    (literal, column type) pair the entries' versions hold; calendar
    transforms compare floored wall-clock literals without it."""
    if not preds:
        return list(entries)
    schemas, now = meta["schemas"], meta["current_schema_version"]
    ids = {f["name"]: f["id"] for f in schemas[str(now)]}
    spec = [(ids.get(t.column), t)
            for t in parse_spec(meta.get("partition_spec") or [])]
    cur = {f["name"]: f for f in
           schemas[str(now if version is None else version)]}
    preds = [(path, op, lit, [norm_stat(v) for v in lit] if op == "in"
              else norm_stat(lit)) for path, op, lit in preds]
    wanted: list[tuple[Transform, Any, str]] = []
    bound = {v: _bind(preds, cur, schemas[str(v)], spec, wanted)
             for v in {e.schema_version for e in entries}}
    tvals: dict[tuple, str | None] = {}

    def keeps_partition(pval: str, op: str, floors: list | None,
                            tkeys: list) -> bool:
        if pval == HIVE_NULL:
            # the file holds only rows whose source is NULL, which no
            # comparison matches
            return False
        if floors is not None:  # the floor itself is always kept
            if op in ("=", "in"):
                return pval in floors
            return pval >= floors[0] if op in (">", ">=") else \
                pval <= floors[0]
        if not tkeys:
            return True
        if not tvals:
            tvals.update(transform_values(wanted))
        tvs = {tvals[k] for k in tkeys}
        return None in tvs or pval in tvs

    def keeps(e) -> bool:
        checks = bound[e.schema_version]
        if checks is None:
            return False
        for key, nested, parts, op, stat_lit in checks:
            for pkey, floors, tkeys in parts:
                pval = e.partition.get(pkey)
                if pval is not None and not keeps_partition(
                        pval, op, floors, tkeys):
                    return False
            if stat_lit is None:
                continue
            rng = e.stats.get(_stats_key(e.stats, key, nested))
            if not rng:
                continue
            lo, hi = norm_stat(rng[0]), norm_stat(rng[1])
            if lo != lo or hi != hi:
                continue  # NaN-poisoned stats prove nothing
            if not _in_range(lo, hi, op, stat_lit):
                return False
        return True

    return [e for e in entries if keeps(e)]

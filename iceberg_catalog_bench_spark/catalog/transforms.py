"""Iceberg-style partition transforms as Spark column expressions.

The reference partitions tables with Iceberg transforms — ``days(ts)``,
``bucket(16, user_id)``, ``truncate(sku, 8)``, identity — declared at
``ICEBERG-Interoperability-Test-Spec.md:50`` and applied at
``blob_dfs/blob-dfs_bench.py:72`` and
``iceberg-tests/config/framework.yaml:133-134``.

In LakeTable a partition spec drives *write clustering*
(``df.repartition(exprs)``) so rows with the same transform value land
in the same files; read-side pruning then uses per-file min/max stats.
This is the same effect Iceberg achieves with its partition manifest —
declarative transforms, physical clustering, metadata pruning — without
a catalog jar.

Each file records its partition values as strings under :func:`key`,
spelled as ``transform_expr(t, type).cast("string")`` spells them. The
partition-value codec at the end of this module is the one Python copy
of that spelling: the Python writer, pruning's literals and Iceberg
adoption and export all go through it.
"""

from __future__ import annotations

import datetime
import decimal
import functools
import re
from dataclasses import dataclass
from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:  # the spec model below imports without pyspark
    from pyspark.sql import Column

SUPPORTED = ("identity", "days", "hours", "months", "years", "bucket",
             "ibucket", "truncate", "itruncate")


@dataclass(frozen=True)
class Transform:
    """One partition-spec entry: ``name(column[, param])``."""

    name: str
    column: str
    param: int | None = None  # bucket count or truncate width

    def to_json(self) -> dict:
        d = {"transform": self.name, "column": self.column}
        if self.param is not None:
            d["param"] = self.param
        return d

    @staticmethod
    def from_json(d: dict) -> "Transform":
        return Transform(d["transform"], d["column"], d.get("param"))


def transform_expr(t: Transform, input_type: str | None = None) -> Column:
    """Spark expression computing the transform value for clustering.

    ``input_type`` (a Spark SQL type string, when the caller knows the
    source column's type) lets ``ibucket`` pre-convert the
    hashed-as-a-long family JVM-side so the pandas UDF sees exact
    int64 lanes; other transforms ignore it."""
    from pyspark.sql import functions as F

    c = F.col(t.column)
    if t.name == "identity":
        return c
    if t.name == "days":
        return F.to_date(c)
    if t.name == "hours":
        return F.date_trunc("hour", c)
    if t.name == "months":
        return F.date_trunc("month", c)
    if t.name == "years":
        return F.date_trunc("year", c)
    if t.name == "bucket":
        if not t.param:
            raise ValueError("bucket transform needs a bucket count")
        # xxhash64 ≈ Iceberg's bucket hash role: stable, uniform. pmod keeps
        # the result non-negative. NOT the Iceberg spec hash — see
        # `ibucket` below for the spec-true (murmur3 Appendix B)
        # transform; exports label this legacy transform `void` so a
        # conforming external reader scans instead of wrong-pruning.
        return F.pmod(F.xxhash64(c), F.lit(t.param))
    if t.name == "ibucket":
        if not t.param:
            raise ValueError("ibucket transform needs a bucket count")
        # Iceberg-spec bucket: murmur3_x86_32 over Appendix B
        # single-value encodings — hash-identical to what a conforming
        # external engine computes, so adopted foreign bucket values
        # prune exactly and exported chains are spec-true.
        from .iceberg_bucket import ibucket_long_expr, ibucket_obj_expr

        base = (input_type or "").lower().split("(")[0].strip()
        if base in ("int", "integer", "bigint", "long", "smallint",
                    "short", "tinyint", "byte"):
            return ibucket_long_expr(c.cast("long"), t.param)
        if base == "date":
            return ibucket_long_expr(
                F.datediff(c, F.lit("1970-01-01")).cast("long"), t.param)
        if base in ("timestamp", "timestamp_ltz"):
            # instant micros (tz-free), the spec's timestamptz encoding
            return ibucket_long_expr(F.unix_micros(c), t.param)
        return ibucket_obj_expr(c, t.param)
    if t.name == "truncate":
        if not t.param:
            raise ValueError("truncate transform needs a width")
        return F.substring(c.cast("string"), 1, t.param)
    if t.name == "itruncate":
        if not t.param:
            raise ValueError("itruncate transform needs a width")
        # Iceberg-spec truncate (table spec §Partition Transforms),
        # value-identical to a conforming external reader for every
        # source type the spec defines it on:
        # - int/long: v - (v mod W), floor-signed remainder (pmod), so
        #   truncate(-7, 10) = -10;
        # - decimal(p,s): the same arithmetic on the UNSCALED value —
        #   expressed as v - pmod(v, W·10^-s), which keeps scale s so
        #   the string rendering carries the declared digits;
        # - binary: the first W bytes, rendered as uppercase hex (our
        #   dialect for a partition-value STRING spelling of bytes —
        #   exports convert back to raw bytes).
        # All pure JVM.
        base = (input_type or "").strip().lower()
        if base.startswith("decimal"):
            import decimal as _dec
            import re as _re

            m = _re.match(r"decimal\(\s*\d+\s*,\s*(\d+)\s*\)", base)
            scale = int(m.group(1)) if m else 0
            w = _dec.Decimal(t.param).scaleb(-scale)
            return c - F.pmod(c, F.lit(w))
        if base == "binary":
            return F.hex(F.substring(c, 1, t.param))
        lc = c.cast("long")
        return lc - F.pmod(lc, F.lit(t.param))
    raise ValueError(f"unsupported transform {t.name!r}; supported: {SUPPORTED}")


def parse_spec(spec: list[str | dict | Transform]) -> list[Transform]:
    """Parse a partition spec from strings like ``days(ts)``,
    ``bucket(16, user_id)``, ``truncate(8, sku)``, or bare column names."""
    out: list[Transform] = []
    for item in spec:
        if isinstance(item, Transform):
            out.append(item)
        elif isinstance(item, dict):
            out.append(Transform.from_json(item))
        else:
            s = item.strip()
            if "(" not in s:
                out.append(Transform("identity", s))
                continue
            name, _, rest = s.partition("(")
            args = [a.strip() for a in rest.rstrip(")").split(",")]
            name = name.strip().lower()
            if name == "iceberg_bucket":  # spec-true spelling alias
                name = "ibucket"
            if name == "iceberg_truncate":
                name = "itruncate"
            if name in ("bucket", "ibucket", "truncate", "itruncate"):
                out.append(Transform(name, args[1], int(args[0])))
            else:
                out.append(Transform(name, args[0]))
    return out


# -- partition values ---------------------------------------------------------

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"  # the value of a NULL result

CALENDAR = ("days", "hours", "months", "years")
_INTS = ("tinyint", "smallint", "int", "bigint")
_ALIASES = {"byte": "tinyint", "short": "smallint", "integer": "int",
            "long": "bigint", "timestamp_ltz": "timestamp", "real": "float"}
# the (transform, source type) pairs the Python writer may key: result
# and spell reproduce the JVM write path for every value. Instant
# timestamps only under a UTC session zone, which the writer checks on
# each task's Arrow batch. Not admitted: float spellings; calendar
# transforms over DATE other than days, which the JVM spells through
# the session zone's midnight (a DST gap shifts it) while a date
# column carries no zone to check.
_EXACT = {
    "identity": (*_INTS, "string", "date", "timestamp", "timestamp_ntz"),
    "days": ("date", "timestamp", "timestamp_ntz"),
    "hours": ("timestamp", "timestamp_ntz"),
    "months": ("timestamp", "timestamp_ntz"),
    "years": ("timestamp", "timestamp_ntz"),
    "bucket": (*_INTS, "string"),
    "ibucket": (*_INTS, "string"),
    "itruncate": (*_INTS, "decimal", "binary"),
    "truncate": ("string",),
}
_US_HOUR = 3_600_000_000
_US_DAY = 24 * _US_HOUR
_EPOCH_ORD = datetime.date(1970, 1, 1).toordinal()
_EPOCH_DT = datetime.datetime(1970, 1, 1)


def key(t: Transform) -> str:
    """The ``partition`` key of a file entry under ``t``. It does not
    spell ``t``'s parameter (``table._refuse_key_reuse``)."""
    return f"_p_{t.name}_{t.column}"


def parse_key(k: str) -> Transform | None:
    """The parameter-free transform a partition key names, or None for
    a key not spelled by :func:`key` (transform names hold no ``_``)."""
    name, sep, column = k.removeprefix("_p_").partition("_")
    return Transform(name, column) \
        if k.startswith("_p_") and sep and column else None


def exact(t: Transform, source_type: str | None) -> bool:
    """Whether the Python writer may key files under ``t`` over a
    column of ``source_type``."""
    return _base(source_type) in _EXACT.get(t.name, ())


def result(t: Transform, source_type: str | None, v: Any) -> Any:
    """The Iceberg transform result of the Python source value ``v``
    (None for NULL). Values are as Iceberg stores them: a date is its
    day count from the epoch, a timestamp its microsecond count (UTC
    instant or wall clock), a decimal a ``decimal.Decimal`` and binary
    ``bytes``. Days and hours count from the epoch; months and years
    count from 1970. Legacy ``bucket`` alone has a value for NULL:
    Spark's xxhash64 hashes NULL to its seed."""
    if t.name == "identity":
        return v
    if t.name == "bucket":  # Spark's xxhash64, see transform_expr
        from .spark_xxhash import bucket

        return bucket(v, _base(source_type), t.param)
    if v is None:
        return None
    if t.name == "ibucket":
        from .iceberg_bucket import iceberg_bucket

        return iceberg_bucket(v, t.param)
    base = _base(source_type)
    if t.name in CALENDAR:
        us = v * _US_DAY if base == "date" else v
        if t.name == "hours":
            return us // _US_HOUR
        if t.name == "days":
            return us // _US_DAY
        d = datetime.date.fromordinal(_EPOCH_ORD + us // _US_DAY)
        return (d.year - 1970) * 12 + d.month - 1 if t.name == "months" \
            else d.year - 1970
    if t.name == "truncate":  # string sources
        return v[:t.param]
    if t.name == "itruncate":
        if base == "decimal":
            u = unscaled(v, source_type)
            return _decimal(u - u % t.param, source_type)
        if base == "binary":
            return bytes(v[:t.param])
        return v - v % t.param  # floor-signed, as pmod
    raise ValueError(f"unsupported transform {t.name!r}")


def spell(t: Transform, source_type: str | None, r: Any) -> str:
    """The string Spark prints for the result ``r``, as the JVM write
    path records it: ``HIVE_NULL`` for NULL, four-digit years,
    microsecond fractions with trailing zeros trimmed, decimals at the
    declared scale, binary as uppercase hex. A double is spelled as
    Spark spells it only for 0 and magnitudes in ``[1e-3, 1e7)``.
    Raises ``ValueError`` for a pair with no spelling here."""
    return HIVE_NULL if r is None else _codec(t.name, source_type)[0](r)


def unspell(t: Transform, source_type: str | None, s: str) -> Any:
    """The result whose spelling is ``s``: the inverse of
    :func:`spell`."""
    return None if s == HIVE_NULL else _codec(t.name, source_type)[1](s)


@functools.lru_cache(maxsize=256)
def _base(source_type: str | None) -> str:
    b = (source_type or "").strip().lower().split("(")[0].strip()
    return _ALIASES.get(b, b)


def _scale(source_type: str | None) -> int:
    m = re.search(r",\s*(\d+)\s*\)", source_type or "")
    return int(m.group(1)) if m else 0


def unscaled(d: decimal.Decimal, source_type: str) -> int:
    """The unscaled integer of ``d`` at the scale of the decimal type
    ``source_type``, exact at any precision; ValueError when ``d`` has
    more fraction digits."""
    scale = _scale(source_type)
    sign, digits, exp = d.as_tuple()
    n = int("".join(map(str, digits)))
    if exp + scale < 0:
        n, rest = divmod(n, 10 ** -(exp + scale))
        if rest:
            raise ValueError(f"{d} has more than {scale} fraction digits")
    else:
        n *= 10 ** (exp + scale)
    return -n if sign else n


def _decimal(u: int, source_type: str) -> decimal.Decimal:
    """The decimal of the unscaled ``u`` at ``source_type``'s scale."""
    return decimal.Decimal(f"{u}e-{_scale(source_type)}")


def _spell_date(days: int) -> str:
    return datetime.date.fromordinal(_EPOCH_ORD + days).isoformat()


def _unspell_date(s: str) -> int:
    return datetime.date.fromisoformat(s).toordinal() - _EPOCH_ORD


def _spell_ts(us: int) -> str:
    s = (_EPOCH_DT + datetime.timedelta(microseconds=us)).isoformat(" ")
    return s.rstrip("0") if "." in s else s


def _unspell_ts(s: str) -> int:
    dt = datetime.datetime.fromisoformat(s)
    if dt.tzinfo is not None:
        dt = dt.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return (dt - _EPOCH_DT) // datetime.timedelta(microseconds=1)


def _spell_month(r: int) -> str:
    y, m = divmod(r, 12)
    return f"{1970 + y:04d}-{m + 1:02d}-01 00:00:00"


# (spell, unspell) of a non-NULL value of each source type
_VALUES = {
    **{b: (str, int) for b in _INTS},
    "string": (str, str),
    "boolean": (lambda r: "true" if r else "false",
                lambda s: s.lower() == "true"),
    "date": (_spell_date, _unspell_date),
    "timestamp": (_spell_ts, _unspell_ts),
    "timestamp_ntz": (_spell_ts, _unspell_ts),
    "float": (repr, float),
    "double": (repr, float),
}


@functools.lru_cache(maxsize=256)
def _codec(name: str, source_type: str | None) -> tuple:
    """(spell, unspell) of one non-NULL result of the transform
    ``name`` over ``source_type``."""
    base = _base(source_type)
    if name == "days":
        return _spell_date, _unspell_date
    if name == "hours":
        return (lambda r: _spell_ts(r * _US_HOUR),
                lambda s: _unspell_ts(s) // _US_HOUR)
    if name == "months":
        return _spell_month, \
            lambda s: (int(s[:4]) - 1970) * 12 + int(s[5:7]) - 1
    if name == "years":
        return (lambda r: f"{1970 + r:04d}-01-01 00:00:00",
                lambda s: int(s[:4]) - 1970)
    if name in ("bucket", "ibucket"):
        return str, int
    if name == "truncate":
        return str, str
    if name == "itruncate" and base == "binary":
        return lambda r: r.hex().upper(), bytes.fromhex
    if base == "decimal" and name in ("identity", "itruncate"):
        return (lambda r: format(_decimal(unscaled(r, source_type),
                                          source_type), "f"),
                decimal.Decimal)
    if name == "identity" or name == "itruncate" and base in _INTS:
        hit = _VALUES.get(base)
        if hit is not None:
            return hit
    raise ValueError(f"no partition-value spelling of {name} over "
                     f"{source_type!r}")

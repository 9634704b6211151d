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
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING

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

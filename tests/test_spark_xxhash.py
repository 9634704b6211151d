"""The driver-side copy of Spark's xxhash64 (``catalog/spark_xxhash.py``)
matches Spark's own ``xxhash64`` and ``pmod(xxhash64(c), n)`` — the
legacy ``bucket`` transform — bit for bit, for every integral width
and for strings long enough to reach every XXH64 branch (32-byte
stripes, 8-byte words, the 4-byte word and single tail bytes)."""

import random

import pytest
from pyspark.sql import functions as F

from iceberg_catalog_bench_spark.catalog import spark_xxhash

_RANGES = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}


def _spark_hashes(spark, typ, values, n=16):
    rows = (spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                                  f"i int, v {typ}")
            .select("i", F.xxhash64("v").alias("h"),
                    F.pmod(F.xxhash64("v"), F.lit(n)).alias("b"))
            .orderBy("i").collect())
    return [(r.h, r.b) for r in rows]


@pytest.mark.parametrize("typ", sorted(_RANGES))
def test_integral_extremes_and_random_values(spark, typ):
    bits = _RANGES[typ]
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    rng = random.Random(bits)
    values = [lo, lo + 1, -1, 0, 1, hi - 1, hi] + [
        rng.randint(lo, hi) for _ in range(40)]
    for n in (1, 7, 16):
        got = [(spark_xxhash.xxhash64(v, typ), spark_xxhash.bucket(v, typ, n))
               for v in values]
        assert got == _spark_hashes(spark, typ, values, n), (typ, n)


def test_strings_cover_every_tail_branch(spark):
    rng = random.Random(40)
    alphabet = "az09 é日😀"
    values = []
    for nbytes in range(41):  # 0-40 UTF-8 bytes: every stripe/tail mix
        s = ""
        while len(s.encode("utf-8")) < nbytes:
            ch = rng.choice(alphabet)
            if len((s + ch).encode("utf-8")) <= nbytes:
                s += ch
            elif len((s + "a").encode("utf-8")) <= nbytes:
                s += "a"
        assert len(s.encode("utf-8")) == nbytes
        values.append(s)
    values += ["日本語のテキスト" * 3, "😀" * 9]  # multibyte only
    got = [(spark_xxhash.xxhash64(v, "string"),
            spark_xxhash.bucket(v, "string", 16)) for v in values]
    assert got == _spark_hashes(spark, "string", values)


@pytest.mark.parametrize("val,typ", [
    (128, "tinyint"), (-32769, "smallint"), (1 << 31, "int"),
    (1 << 63, "bigint"), (True, "int"), ("5", "int"), (5, "string"),
    (1.0, "bigint"),
])
def test_values_outside_the_type_have_no_driver_hash(val, typ):
    assert not spark_xxhash.fits(val, typ)
    with pytest.raises(ValueError):
        spark_xxhash.xxhash64(val, typ)

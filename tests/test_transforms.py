"""Spark-free tests for the partition-value codec in
``catalog.transforms``: every result the codec spells reads back as
itself, and calendar results spell as the floors of the source
value's own spelling. ``test_round11`` pins the spellings against the
JVM write path.
"""
import datetime
import decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_catalog_bench_spark.catalog import transforms
from iceberg_catalog_bench_spark.catalog.transforms import Transform

pytestmark = pytest.mark.spark_free

EPOCH = datetime.date(1970, 1, 1)
FIRST_DAY = (datetime.date(1, 1, 1) - EPOCH).days
LAST_DAY = (datetime.date(9999, 12, 31) - EPOCH).days
US_DAY = 86_400_000_000
DAYS = st.integers(FIRST_DAY, LAST_DAY)
MICROS = st.integers(FIRST_DAY * US_DAY, (LAST_DAY + 1) * US_DAY - 1)


def _ints(bits):
    return st.integers(-(1 << (bits - 1)), (1 << (bits - 1)) - 1)


def _decimals(scale):
    return st.integers(-10 ** 20, 10 ** 20).map(
        lambda u: decimal.Decimal(f"{u}e-{scale}"))


# (transform, source type, results): every transform, over each kind of
# source it spells, years 1-9999
CASES = [
    ("identity", "tinyint", _ints(8)),
    ("identity", "smallint", _ints(16)),
    ("identity", "int", _ints(32)),
    ("identity", "bigint", _ints(64)),
    ("identity", "string", st.text()),
    ("identity", "boolean", st.booleans()),
    ("identity", "date", DAYS),
    ("identity", "timestamp", MICROS),
    ("identity", "timestamp_ntz", MICROS),
    ("identity", "decimal(38,0)", _decimals(0)),
    ("identity", "decimal(10,2)", _decimals(2)),
    ("identity", "decimal(38,10)", _decimals(10)),
    ("identity", "double", st.floats(1e-3, 1e7, exclude_max=True)
     | st.floats(-1e7, -1e-3, exclude_min=True) | st.just(0.0)),
    ("days", "timestamp", DAYS),
    ("hours", "timestamp", st.integers(FIRST_DAY * 24, LAST_DAY * 24 + 23)),
    ("months", "timestamp", st.integers((1 - 1970) * 12, (9999 - 1970) * 12
                                        + 11)),
    ("years", "timestamp", st.integers(1 - 1970, 9999 - 1970)),
    ("bucket", "bigint", st.integers(0, 15)),
    ("ibucket", "string", st.integers(0, 15)),
    ("truncate", "string", st.text(max_size=4)),
    ("itruncate", "bigint", _ints(64)),
    ("itruncate", "decimal(12,7)", _decimals(7)),
    ("itruncate", "binary", st.binary(max_size=4)),
]


@pytest.mark.parametrize("name,typ,results", CASES,
                         ids=[f"{n}-{t}" for n, t, _ in CASES])
def test_unspell_inverts_spell(name, typ, results):
    t = Transform(name, "c", 4)

    @settings(max_examples=200, deadline=None)
    @given(r=results)
    def roundtrip(r):
        s = transforms.spell(t, typ, r)
        assert isinstance(s, str) and s != transforms.HIVE_NULL
        back = transforms.unspell(t, typ, s)
        assert back == r and type(back) is type(r), (r, s, back)

    roundtrip()
    assert transforms.spell(t, typ, None) == transforms.HIVE_NULL
    assert transforms.unspell(t, typ, transforms.HIVE_NULL) is None


@settings(max_examples=300, deadline=None)
@given(us=MICROS, typ=st.sampled_from(["timestamp", "timestamp_ntz"]))
def test_calendar_results_spell_as_floors_of_the_source(us, typ):
    ts = transforms.spell(Transform("identity", "c"), typ, us)
    floors = {"days": ts[:10], "hours": ts[:13] + ":00:00",
              "months": ts[:7] + "-01 00:00:00",
              "years": ts[:4] + "-01-01 00:00:00"}
    for name, floor in floors.items():
        t = Transform(name, "c")
        assert transforms.spell(t, typ, transforms.result(t, typ, us)) \
            == floor


def test_spellings_spark_prints():
    ts = Transform("identity", "c")
    hour = Transform("hours", "c")
    us = (datetime.datetime(999, 1, 1, 5) - datetime.datetime(1970, 1, 1)) \
        // datetime.timedelta(microseconds=1)
    assert transforms.spell(hour, "timestamp",
                            transforms.result(hour, "timestamp", us)) \
        == "0999-01-01 05:00:00"
    assert transforms.spell(ts, "timestamp", us + 500_000) \
        == "0999-01-01 05:00:00.5"
    assert transforms.spell(ts, "boolean", True) == "true"
    assert transforms.spell(ts, "decimal(10,2)", decimal.Decimal("12.3")) \
        == "12.30"
    assert transforms.spell(ts, "decimal(12,7)",
                            decimal.Decimal("0.0000001")) == "0.0000001"
    t = Transform("itruncate", "c", 2)
    assert transforms.spell(t, "binary",
                            transforms.result(t, "binary", b"\x0a\xbc\xde")) \
        == "0ABC"
    with pytest.raises(ValueError):
        transforms.spell(ts, "binary", b"\x0a")


def test_keys_and_the_pairs_the_writer_keys():
    t = Transform("bucket", "user_id", 4)
    assert transforms.key(t) == "_p_bucket_user_id"
    assert transforms.parse_key("_p_bucket_user_id") \
        == Transform("bucket", "user_id")
    assert transforms.parse_key("_g") is None
    assert transforms.exact(t, "bigint") and transforms.exact(t, "string")
    assert not transforms.exact(t, "date")
    assert not transforms.exact(Transform("months", "d"), "date")
    assert not transforms.exact(Transform("identity", "x"), "double")

"""Round 14 pins: map-key CoW-changelog netting units, the narrowed
planner gate, the DDL tokenizer's unbalanced-bracket guard, and the
case-insensitive struct-leaf default walk (ADVICE r13 items)."""

import pyarrow as pa
import pytest

from iceberg_catalog_bench_spark.streaming.table_source import (
    _canon_map_cols,
    _net_unkeyable_reason,
    _split_top,
)


def _canon(rows, typ=None):
    arr = pa.array(rows, type=typ or pa.map_(pa.string(), pa.int64()))
    valid, joined = _canon_map_cols(arr)
    return valid.to_pylist(), joined.to_pylist()


def test_canon_map_order_insensitive_and_injective():
    valid, joined = _canon([
        [("b", 2), ("a", 1)],   # same logical map, different order...
        [("a", 1), ("b", 2)],   # ...must render identically
        [("ab", 1)],            # "ab"=1 vs "a"=1,"b"=2: length prefixes
        [("a", 12)],            # "a"=12 vs "a"=1 + junk
        [("a", None)],          # null value distinct from any value
        [("a", 0)],
        None,                   # null map...
        [],                     # ...distinct from empty map via validity
    ])
    assert joined[0] == joined[1]
    assert len({joined[0], joined[2], joined[3], joined[4], joined[5]}) == 5
    assert joined[6] == joined[7] == b""  # both join to b"" ...
    assert (valid[6], valid[7]) == (False, True)  # ... validity splits them


def test_canon_map_embedded_separators_stay_injective():
    # keys containing the ':'/';' join separators must not collide with
    # entry or map boundaries — the length prefixes disambiguate
    valid, joined = _canon(
        [[("a:1", 2)], [("a", 1)], [("a;1", 2), ("b", 1)]],
    )
    assert len(set(joined)) == 3


def test_canon_map_float_values_canonicalize_but_keep_null():
    typ = pa.map_(pa.string(), pa.float64())
    valid, joined = _canon(
        [[("a", -0.0)], [("a", 0.0)], [("a", float("nan"))], [("a", None)]],
        typ,
    )
    assert joined[0] == joined[1]          # -0.0 folds into +0.0
    assert joined[2] != joined[3]          # NaN value is NOT a NULL value


def test_canon_map_sliced_input_row_aligned():
    arr = pa.array(
        [[("x", 9)], [("b", 2), ("a", 1)], None, [("c", 3)]],
        type=pa.map_(pa.string(), pa.int64()),
    )
    valid, joined = _canon_map_cols(arr.slice(1, 3))
    full_valid, full_joined = _canon_map_cols(arr)
    assert joined.to_pylist() == full_joined.to_pylist()[1:4]
    assert valid.to_pylist() == full_valid.to_pylist()[1:4]


def test_net_unkeyable_reason_matrix():
    ok = [
        "bigint", "string", "struct<a:int,b:string>",
        "map<string,bigint>", "map<int,double>", "map<string,decimal(10,2)>",
        "struct<a:struct<b:int>>", "map<date,timestamp>",
        # r14: arrays with primitive elements and nested-in-struct
        # maps/arrays net too (raw-passthrough + rowref rebuild)
        "array<int>", "array<double>", "array<decimal(20,4)>",
        "struct<a:map<string,int>>", "struct<a:struct<b:array<int>>>",
        # r14 recursion: any container composition renders
        # canonically
        "array<array<int>>", "array<struct<a:int>>",
        "map<string,array<int>>", "map<string,map<string,int>>",
        "struct<a:array<array<int>>>",
        "array<map<string,struct<x:double>>>",
        "binary", "struct<a:binary>",
        # r15: binary INSIDE containers nets too — the rendering is
        # length-prefixed raw bytes, no text canonicalization needed
        "array<binary>", "map<string,binary>",
        "array<struct<a:binary>>", "struct<a:array<binary>>",
        "map<string,array<binary>>",
        # r15: map KEYS of any renderable type — entries sort by the
        # rendered key bytes, not the raw key
        "map<double,int>",
        "map<array<int>,int>",
        "map<binary,int>",
        "map<struct<a:int,b:string>,bigint>",
    ]
    for t in ok:
        assert _net_unkeyable_reason(t) is None, t
    bad = [
        "map<string>",                # malformed: one type param
    ]
    for t in bad:
        assert _net_unkeyable_reason(t), t


def test_split_top_raises_on_unbalanced_ddl():
    assert _split_top("a:int,b:struct<c:int,d:decimal(10,2)>", ",") == [
        "a:int", "b:struct<c:int,d:decimal(10,2)>"
    ]
    with pytest.raises(ValueError, match="unbalanced"):
        _split_top("a:struct<b:int>>", ",")
    with pytest.raises(ValueError, match="unbalanced"):
        _split_top("a:struct<b:int", ",")


def test_struct_leaf_default_walk_case_insensitive(spark, tmp_path):
    """ADVICE r13: the pushdown gate matches leaf names
    case-insensitively, so the pre-struct-file default walk must too —
    a predicate cased differently from the stored default keys must
    not prune a file whose non-null default matches."""
    from pyspark.sql.datasource import EqualTo
    from pyspark.sql.types import StructType

    from iceberg_catalog_bench_spark.catalog.table import LakeTable
    from iceberg_catalog_bench_spark.streaming.table_source import (
        LakeTableDataSource,
        register_source,
    )

    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"), "k bigint")
    t.append(spark.range(0, 3).toDF("k").repartition(1))
    t.add_column("meta", "struct<lang:string,n:bigint>",
                 default={"lang": "xx", "n": 0})
    ddl = "k bigint, meta struct<lang:string,n:bigint>"
    t.append(spark.createDataFrame([(10, ("en", 5))], ddl).repartition(1))
    ds = LakeTableDataSource(
        options={"path": t.path, "filter-pushdown": "true"}
    )
    schema = StructType.fromDDL(ddl)

    def plan(*filters):
        r = ds.reader(schema)
        r.pushFilters(list(filters))
        return r.partitions()

    # differently-cased leaf path still resolves the default 'xx' →
    # the pre-struct file is KEPT (pre-fix: case-miss → None → pruned)
    assert len(plan(EqualTo(("meta", "LANG"), "xx"))) == 1
    # and a non-matching value still prunes it
    assert len(plan(EqualTo(("meta", "LANG"), "yy"))) == 0


def test_canon_list_order_is_semantic_and_injective():
    from iceberg_catalog_bench_spark.streaming.table_source import (
        _canon_list_cols,
    )

    arr = pa.array(
        [[1, 2], [2, 1], None, [], [12], [1, None], [1], [None]],
        type=pa.list_(pa.int64()),
    )
    valid, joined = _canon_list_cols(arr)
    j = joined.to_pylist()
    assert j[0] != j[1]                      # order is semantic
    assert j[2] == j[3] == b""               # null vs empty join alike...
    assert valid.to_pylist()[2:4] == [False, True]  # ...validity splits
    assert len({j[0], j[4], j[5], j[6], j[7]}) == 5  # no collisions


def test_canon_recursive_compositions():
    """r14 recursion: array<array>, array<struct>, nested map values
    all render canonically — distinct logical values never collide,
    logically-equal ones always do."""
    from iceberg_catalog_bench_spark.streaming.table_source import (
        _canon_container_cols,
    )

    # array<array<int>>: nesting boundaries can't be faked by flat twins
    aa = pa.array(
        [[[1], [2]], [[1, 2]], [[1, 2], []], [[1, 2], None], [], None],
        type=pa.list_(pa.list_(pa.int64())),
    )
    v, j = _canon_container_cols(aa)
    js = j.to_pylist()
    assert len(set(js[:4])) == 4            # all distinct
    assert js[4] == js[5] == b""            # empty vs NULL outer ...
    assert v.to_pylist()[4:] == [True, False]  # ... split by validity

    # array<struct>: NULL struct element vs struct-of-nulls stay apart
    ast = pa.array(
        [[{"a": 1, "b": "x"}], [None], [{"a": None, "b": None}]],
        type=pa.list_(pa.struct([("a", pa.int64()), ("b", pa.string())])),
    )
    _, j2 = _canon_container_cols(ast)
    assert len(set(j2.to_pylist())) == 3

    # map<string,array<int>>: entry order canonical, values recurse
    mv = pa.array(
        [[("b", [2]), ("a", [1])], [("a", [1]), ("b", [2])],
         [("a", [1, 2])], [("a", None)]],
        type=pa.map_(pa.string(), pa.list_(pa.int64())),
    )
    _, j3 = _canon_container_cols(mv)
    js3 = j3.to_pylist()
    assert js3[0] == js3[1]
    assert len({js3[0], js3[2], js3[3]}) == 3


def test_arrow_type_varchar_char_as_string(spark, tmp_path):
    """r14: VARCHAR(n)/CHAR(n) ship as Arrow STRING (Spark enforces
    length at analysis/write, never in the batch format) — end-to-end
    through the python source."""
    from iceberg_catalog_bench_spark.catalog.table import LakeTable
    from iceberg_catalog_bench_spark.streaming.table_source import (
        _arrow_type,
        register_source,
    )

    assert _arrow_type("varchar(10)") == pa.string()
    assert _arrow_type("CHAR(3)") == pa.string()
    assert _arrow_type("struct<v:varchar(5)>") == pa.struct(
        [("v", pa.string())]
    )
    register_source(spark)
    t = LakeTable.create(spark, str(tmp_path / "t"),
                         "k bigint, code varchar(8)")
    # Spark itself erases char/varchar to string in DataFrames (the
    # length lives only in table metadata) — appends arrive as string
    t.append(spark.createDataFrame([(1, "abc"), (2, None)],
                                   "k bigint, code string"))
    rows = {r["k"]: r["code"] for r in (
        spark.read.format("laketable").option("path", t.path).load()
        .collect())}
    assert rows == {1: "abc", 2: None}


# --- property: rendering equality ⟺ logical equality --------------------
try:
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    # adversarial alphabet: the rendering's own separators and markers
    _KEYS = st.text(alphabet=":;~0123456789ab", min_size=0, max_size=5)
    _INTS = st.one_of(st.none(), st.integers(-2**31, 2**31))

    def _logical(v):
        """Order-insensitive-for-maps logical normal form."""
        if isinstance(v, dict):
            return ("m", tuple(sorted((k, _logical(x))
                                      for k, x in v.items())))
        if isinstance(v, (list, tuple)):
            return ("l", tuple(_logical(x) for x in v))
        return v

    def _roundtrip(rows, typ, logical_rows=None):
        """``logical_rows``: the rows as dicts where ``rows`` holds map
        entries as ordered item lists — the oracle must compare the
        maps, not the entry order the generator happened to pick."""
        from iceberg_catalog_bench_spark.streaming.table_source import (
            _canon_container_cols,
        )

        arr = pa.array(rows, type=typ)
        valid, joined = _canon_container_cols(arr)
        rendered = list(zip(valid.to_pylist(), joined.to_pylist()))
        logical = [None if r is None else _logical(r)
                   for r in (rows if logical_rows is None else logical_rows)]
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                same_logical = logical[i] == logical[j] and \
                    (rows[i] is None) == (rows[j] is None)
                assert (rendered[i] == rendered[j]) == same_logical, (
                    rows[i], rows[j], rendered[i], rendered[j])

    @settings(max_examples=60, deadline=None)
    @given(st.lists(
        st.one_of(st.none(),
                  st.dictionaries(_KEYS, _INTS, max_size=4)),
        min_size=2, max_size=8))
    def test_prop_map_render_iff_logical(rows):
        rows2 = [None if r is None else list(r.items()) for r in rows]
        _roundtrip(rows2, pa.map_(pa.string(), pa.int64()), rows)

    @settings(max_examples=60, deadline=None)
    @given(st.lists(
        st.one_of(st.none(), st.lists(
            st.one_of(st.none(), st.lists(_INTS, max_size=3)),
            max_size=3)),
        min_size=2, max_size=8))
    def test_prop_nested_list_render_iff_logical(rows):
        _roundtrip(rows, pa.list_(pa.list_(pa.int64())))

    @settings(max_examples=60, deadline=None)
    @given(st.lists(
        st.one_of(st.none(),
                  st.dictionaries(_KEYS, st.one_of(
                      st.none(), st.lists(_KEYS, max_size=3)), max_size=3)),
        min_size=2, max_size=8))
    def test_prop_map_of_string_lists_render_iff_logical(rows):
        rows2 = [None if r is None else list(r.items()) for r in rows]
        _roundtrip(rows2, pa.map_(pa.string(), pa.list_(pa.string())), rows)

    # r15: binary leaves — adversarial byte strings built from the
    # rendering's own separators/markers plus non-utf8 bytes
    _BYTES = st.binary(max_size=5).map(
        lambda b: bytes(x % 256 for x in b)
    ) | st.sampled_from([b":", b";", b"~", b"1:", b"\x00", b"\xff\xfe"])

    @settings(max_examples=60, deadline=None)
    @given(st.lists(
        st.one_of(st.none(), st.lists(
            st.one_of(st.none(), _BYTES), max_size=3)),
        min_size=2, max_size=8))
    def test_prop_binary_list_render_iff_logical(rows):
        _roundtrip(rows, pa.list_(pa.binary()))

    @settings(max_examples=60, deadline=None)
    @given(st.lists(
        st.one_of(st.none(),
                  st.dictionaries(_KEYS, st.one_of(st.none(), _BYTES),
                                  max_size=4)),
        min_size=2, max_size=8))
    # the same map with its entries in another order renders identically
    @example(rows=[{"": b"", "1": b"", "0": None},
                   {"0": None, "": b"", "1": b""}])
    def test_prop_map_of_binary_render_iff_logical(rows):
        rows2 = [None if r is None else list(r.items()) for r in rows]
        _roundtrip(rows2, pa.map_(pa.string(), pa.binary()), rows)

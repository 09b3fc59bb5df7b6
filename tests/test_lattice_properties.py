"""Property-based lattice checks (hypothesis): the merge must be a real
commutative/associative/idempotent join with NULL as identity and STRING
as the absorbing top, on arbitrary JSON shapes — not just the curated
F2 fixtures. The last block is a differential test of the Spark engine
(``operators.infer``) against the single-threaded fold."""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nifi_hive_schema_generator_bundle_spark.plans.lattice import (
    finalize_type,
    infer_json_value,
    infer_raw,
    merge_raw,
    merge_types,
    schema_from_json_lines,
    type_to_dict,
)

def canon(dt):
    """Order-insensitive comparison form (SURVEY §1.4.6: the reference
    scrambles struct key order; ours keeps first-seen — both are
    order-unspecified, so properties hold up to field order)."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            sorted(
                (StructField(f.name, canon(f.dataType)) for f in dt.fields),
                key=lambda f: f.name,
            )
        )
    if isinstance(dt, ArrayType):
        return ArrayType(canon(dt.elementType))
    return dt


json_values = st.recursive(
    st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(10**15), max_value=10**15),
        st.floats(allow_nan=False, allow_infinity=False),
        st.text(max_size=8),
    ),
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(min_size=1, max_size=6), children, max_size=4),
    ),
    max_leaves=12,
)


@settings(max_examples=200, deadline=None)
@given(json_values, json_values)
def test_merge_commutative(a, b):
    ta, tb = infer_json_value(a), infer_json_value(b)
    assert canon(merge_types(ta, tb)) == canon(merge_types(tb, ta))


@settings(max_examples=150, deadline=None)
@given(json_values, json_values, json_values)
def test_merge_associative(a, b, c):
    ta, tb, tc = (infer_json_value(v) for v in (a, b, c))
    assert canon(merge_types(merge_types(ta, tb), tc)) == canon(
        merge_types(ta, merge_types(tb, tc))
    )


@settings(max_examples=200, deadline=None)
@given(json_values)
def test_merge_idempotent(a):
    t = infer_json_value(a)
    assert merge_types(t, t) == t


@settings(max_examples=200, deadline=None)
@given(json_values)
def test_raw_and_typed_lattices_agree(a):
    assert infer_raw(a) == type_to_dict(infer_json_value(a))


@settings(max_examples=150, deadline=None)
@given(json_values, json_values)
def test_raw_merge_agrees(a, b):
    got = merge_raw(infer_raw(a), infer_raw(b))
    want = type_to_dict(merge_types(infer_json_value(a), infer_json_value(b)))
    assert got == want


@settings(max_examples=150, deadline=None)
@given(st.lists(st.dictionaries(st.text(min_size=1, max_size=4), json_values, max_size=3), min_size=1, max_size=5))
def test_finalized_schema_reparses_all_records_as_strings(objs):
    """Round-trip (SURVEY §5b): the inferred schema, finalized to concrete
    Hive types, must describe every record — every key path present in the
    data exists in the schema."""
    from pyspark.sql.types import ArrayType, StringType, StructType

    schema = None
    for o in objs:
        t = infer_json_value(o)
        schema = t if schema is None else merge_types(schema, t)
    final = finalize_type(schema)

    def covered(value, dt):
        if value is None:
            return True  # explicit nulls are absorbed by any type
        if isinstance(dt, StringType):
            return True  # strings swallow anything (conflict demotion)
        if isinstance(dt, StructType):
            if not isinstance(value, dict):
                return False
            return all(
                k in dt.fieldNames() and covered(v, dt[k].dataType)
                for k, v in value.items()
            )
        if isinstance(dt, ArrayType):
            if not isinstance(value, list):
                return False
            return all(covered(v, dt.elementType) for v in value)
        return True

    for o in objs:
        assert covered(o, final), (o, final.simpleString())


# --- engine vs oracle: schema_of_variant_agg string parse ----------------

BIG_EXPONENT = object()  # rendered as the literal 1e400 (overflows a double)

_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=5
)
# keys that stress the aggregate's schema string: quoting, separators,
# type syntax, the empty key and case pairs
_keys = st.one_of(
    st.sampled_from(
        ["`", "``", ":", ",", ">", "<", " ", "", "OBJECT<", "ARRAY<", "a", "A",
         "b", "B", "a b", "x: y, z", "DECIMAL(38,0)"]
    ),
    _text,
)
_engine_values = st.recursive(
    st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(10**45), max_value=10**45),  # beyond DECIMAL(38)
        st.floats(allow_nan=False, allow_infinity=False),
        st.just(BIG_EXPONENT),
        _text,
    ),
    lambda children: st.one_of(
        st.lists(children, max_size=4),  # empty and mixed arrays
        st.dictionaries(_keys, children, max_size=4),
    ),
    max_leaves=10,
)


def _nest(leaf, kinds, key):
    for kind in kinds:
        leaf = {key: leaf} if kind == "obj" else [leaf]
    return leaf


_deep = st.builds(
    _nest,
    _engine_values,
    st.lists(st.sampled_from(["obj", "arr"]), min_size=6, max_size=8),
    _keys,
)
_records = st.one_of(
    st.dictionaries(_keys, _engine_values, max_size=5),
    st.builds(lambda k, v: {k: v}, _keys, _deep),
)


def _dump(v) -> str:
    if v is BIG_EXPONENT:
        return "1e400"
    if isinstance(v, dict):
        return "{" + ",".join(f"{json.dumps(k)}:{_dump(x)}" for k, x in v.items()) + "}"
    if isinstance(v, list):
        return "[" + ",".join(_dump(x) for x in v) + "]"
    return json.dumps(v)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(st.lists(st.lists(_records, min_size=1, max_size=4), min_size=1, max_size=25))
def test_engine_schema_equals_single_thread_fold(spark, examples):
    """Every example is one key of ONE ``infer_schema_by_key`` job; each
    key's schema must equal ``schema_from_json_lines`` over its lines."""
    from nifi_hive_schema_generator_bundle_spark.operators.infer import (
        infer_schema_by_key,
    )

    lines = [[_dump(r) for r in recs] for recs in examples]
    rows = [(str(i), line) for i, ls in enumerate(lines) for line in ls]
    df = spark.createDataFrame(rows, "k string, v string").repartition(3)
    got = infer_schema_by_key(df, "v", "k")
    assert set(got) == {str(i) for i in range(len(lines))}
    for i, ls in enumerate(lines):
        assert canon(got[str(i)]) == canon(schema_from_json_lines(ls)), ls


def test_engine_empty_input_is_empty_struct(spark):
    from pyspark.sql.types import StructType

    from nifi_hive_schema_generator_bundle_spark.operators.infer import infer_schema_df

    df = spark.createDataFrame([], "value string")
    assert infer_schema_df(df, "value") == StructType([])


def test_engine_top_level_arrays_render_error(spark):
    from nifi_hive_schema_generator_bundle_spark.operators.infer import infer_schema_df
    from nifi_hive_schema_generator_bundle_spark.plans.render import render_hive_ddl

    df = spark.createDataFrame([('[{"a": 1}]',), ("[2]",)], "value string")
    assert "ERROR" in render_hive_ddl(infer_schema_df(df, "value"), "t", "/x")


def test_engine_all_invalid_key_is_absent(spark):
    from nifi_hive_schema_generator_bundle_spark.operators.infer import (
        infer_schema_by_key,
    )

    rows = [("bad", "nope"), ("bad", "5"), ("bad", None), ("ok", '{"a": 1}')]
    df = spark.createDataFrame(rows, "k string, v string")
    assert set(infer_schema_by_key(df, "v", "k")) == {"ok"}

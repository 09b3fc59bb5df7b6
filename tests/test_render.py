"""Golden tests for the reference-exact DDL renderer (SURVEY §1.5)."""

from __future__ import annotations

from pyspark.sql.types import ArrayType, NullType, StringType, StructField, StructType

from nifi_hive_schema_generator_bundle_spark.plans.lattice import schema_from_json_lines
from nifi_hive_schema_generator_bundle_spark.plans.render import (
    render_definition,
    render_hive_ddl,
    render_spark_ddl,
    render_type,
    sanitize_identifiers,
    sanitize_schema,
)

S = StringType()


def struct(**kw):
    return StructType([StructField(k, v, True) for k, v in kw.items()])


def test_scalar_renders_string():
    assert render_type(S) == "STRING"
    assert render_type(NullType()) == "STRING"  # catch-all, CreateHQL.scala:81


def test_array_renders_multiline_with_pad():
    # Seq("ARRAY<", out(elem, i+1), "$pad>") mkString "\n"  (CreateHQL.scala:71-73)
    assert render_type(ArrayType(S)) == "ARRAY<\n\tSTRING\n>"
    assert render_type(ArrayType(S), indent=1) == "\tARRAY<\n\t\tSTRING\n\t>"


def test_struct_renders_backticked_colon_fields():
    got = render_type(struct(a=S, b=ArrayType(S)))
    assert got == "STRUCT<\n\t`a`: STRING,\n\t`b`: ARRAY<\n\t\tSTRING\n\t>\n>"


def test_definition_top_level_no_colon():
    got = render_definition(struct(a=S, b=struct(c=S)), indent=1)
    assert got == "\t`a` STRING,\n\t`b` STRUCT<\n\t\t`c`: STRING\n\t>"


def test_definition_non_struct_is_error():
    assert render_definition(S) == "ERROR"  # CreateHQL.scala:91
    assert render_definition(ArrayType(S)) == "ERROR"


def test_sanitize_whole_definition():
    assert sanitize_identifiers("`a.b` STRING,\n`c-d` STRING") == (
        "`a_b` STRING,\n`c_d` STRING"
    )


def test_sanitize_schema_structural():
    t = sanitize_schema(struct(**{"a.b": S, "c-d": ArrayType(struct(**{"e.f": S}))}))
    assert [f.name for f in t.fields] == ["a_b", "c_d"]
    assert t["c_d"].dataType.elementType.fields[0].name == "e_f"


def test_full_ddl_reference_format():
    schema = schema_from_json_lines(
        ['{"id": 1, "attrs": {"server.timezone": "UTC", "User-Agent": "x"}, "kids": []}']
    )
    ddl = render_hive_ddl(schema, "t1", "/data/t1")
    assert ddl == (
        "DROP TABLE t1;\n"
        "CREATE TABLE t1 (".replace("CREATE TABLE", "CREATE EXTERNAL TABLE") + "\n"
        "\t`id` STRING,\n"
        "\t`attrs` STRUCT<\n"
        "\t\t`server_timezone`: STRING,\n"
        "\t\t`User_Agent`: STRING\n"
        "\t>,\n"
        "\t`kids` ARRAY<\n"
        "\t\tSTRING\n"
        "\t>\n"
        ") ROW FORMAT SERDE 'org.apache.hive.hcatalog.data.JsonSerDe'\n"
        "location '/data/t1';"
    )


def test_ddl_drop_if_exists_compat_flag():
    schema = struct(a=S)
    assert render_hive_ddl(schema, "t", "/x", drop_if_exists=True).startswith(
        "DROP TABLE IF EXISTS t;"
    )


def test_spark_ddl_executable_dialect():
    schema = struct(**{"a.b": S, "c": ArrayType(NullType()), "d": struct(e=NullType())})
    ddl = render_spark_ddl(schema, "t", "/x")
    assert "`a_b` STRING" in ddl
    assert "`c` ARRAY<STRING>" in ddl  # bottoms render as STRING
    assert "`d` STRUCT<`e`: STRING>" in ddl
    # nested names are sanitized and quoted too, backticks doubled
    nested = render_spark_ddl(struct(**{"a`b": struct(**{"x.y z": S})}), "t", "/x")
    assert "`a``b` STRUCT<`x_y z`: STRING>" in nested
    assert ddl.startswith("CREATE TABLE t (") and ddl.endswith("USING JSON LOCATION '/x'")


def test_render_alter_ddl_add_and_change():
    from pyspark.sql.types import StringType, StructField, StructType

    from nifi_hive_schema_generator_bundle_spark.plans.lattice import (
        infer_json_line,
        merge_types,
    )
    from nifi_hive_schema_generator_bundle_spark.plans.render import (
        render_alter_ddl,
    )

    old = infer_json_line('{"a": [1], "keep": "x"}')
    new = merge_types(old, infer_json_line('{"a": 2, "n.ew": {"k": 1}}'))
    stmts = render_alter_ddl(old, new, "t")
    joined = "\n".join(stmts)
    assert "ALTER TABLE t ADD COLUMNS (`n_ew` STRUCT<`k`: STRING>);" in joined
    assert "ALTER TABLE t CHANGE COLUMN `a` `a` STRING;" in joined
    assert "keep" not in joined  # unchanged columns untouched
    assert render_alter_ddl(new, new, "t") == []  # no drift -> no statements
    # a bottom refined to STRING renders the same: nothing to restate
    assert render_alter_ddl(struct(a=NullType()), struct(a=StringType()), "t") == []


def test_render_partition_ddl_multi_and_sanitize():
    from nifi_hive_schema_generator_bundle_spark.plans.render import (
        render_partition_ddl,
    )

    out = render_partition_ddl(
        "t",
        [
            ({"dt": "2024-01-01", "src.kind": "a'b"}, "/data/dt=2024-01-01"),
            ({"dt": "2024-01-02", "src.kind": "c"}, "/data/dt=2024-01-02"),
        ],
    )
    assert out == (
        "ALTER TABLE t ADD IF NOT EXISTS "
        "PARTITION (`dt`='2024-01-01', `src_kind`='a\\'b') "
        "location '/data/dt=2024-01-01' "
        "PARTITION (`dt`='2024-01-02', `src_kind`='c') "
        "location '/data/dt=2024-01-02';"
    )
    assert render_partition_ddl("t", []) == ""


def test_render_partition_ddl_executes_on_spark(spark, tmp_path):
    """The emitted statement must actually run against a partitioned
    Spark-catalog table (quoting, backticks, multi-clause)."""
    from nifi_hive_schema_generator_bundle_spark.plans.render import (
        render_partition_ddl,
    )

    loc = str(tmp_path / "ptab")
    spark.sql(
        f"CREATE TABLE ptab_r5 (v INT) USING parquet "
        f"PARTITIONED BY (dt STRING) LOCATION '{loc}'"
    )
    try:
        p1 = str(tmp_path / "p1")
        spark.createDataFrame([(1,)], "v int").write.parquet(p1)
        ddl = render_partition_ddl(
            "ptab_r5", [({"dt": "2024-01-01"}, p1)]
        ).rstrip(";")
        spark.sql(ddl)
        got = spark.sql(
            "SELECT v, dt FROM ptab_r5 WHERE dt = '2024-01-01'"
        ).collect()
        assert [(r["v"], r["dt"]) for r in got] == [(1, "2024-01-01")]
    finally:
        spark.sql("DROP TABLE IF EXISTS ptab_r5")

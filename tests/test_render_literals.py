"""String literals in rendered DDL: a location or partition value with a
quote or a backslash must reach Spark unchanged."""

from __future__ import annotations

from pyspark.sql.types import LongType, StructField, StructType

from nifi_hive_schema_generator_bundle_spark.catalog import register_table
from nifi_hive_schema_generator_bundle_spark.plans.render import (
    render_partition_ddl,
)


def test_quote_and_backslash_literals_reach_spark(spark, tmp_path):
    schema = StructType([StructField("a", LongType())])
    table = "render_literal_keep"
    register_table(spark, schema, table, str(tmp_path / "plain"))
    odd = str(tmp_path / "o'brien")
    try:
        # a failed CREATE after the DROP would leave no table at all
        register_table(spark, schema, table, odd)
        assert spark.catalog.tableExists(table)
        info = {
            r["col_name"]: r["data_type"]
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        }
        assert info["Location"] in (odd, "file:" + odd)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")

    parser = spark._jsparkSession.sessionState().sqlParser()
    for value in ("x\\", "a\\nb", "it's"):
        ddl = render_partition_ddl("t", [({"dt": value}, "/d")]).rstrip(";")
        plan = parser.parsePlan(ddl)
        spec = plan.parts().head().spec()
        assert spec.apply("dt") == value, ddl

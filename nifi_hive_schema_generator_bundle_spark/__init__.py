"""A PySpark-native analytics engine with the capabilities of the
``cavemandaveman/nifi-hive-schema-generator-bundle`` NiFi processor, rebuilt
Spark-first (SURVEY.md): distributed JSON schema inference over DataFrames,
reference-compatible Hive DDL generation, metastore registration,
valid/invalid routing, batch + Structured Streaming — plus the
LLM-training-data operators (dedup, similarity search, text analysis,
multimodal columns) designed for 100 TB scale.
"""

from .catalog import ddl_per_group, infer_and_register, infer_ddl, register_table
from .operators.infer import infer_schema_df, route_and_infer
from .operators.routing import is_valid_json, split_valid
from .plans.lattice import (
    finalize_type,
    infer_json_line,
    infer_json_value,
    merge_types,
    schema_from_json_lines,
)
from .plans.render import (
    render_definition,
    render_hive_ddl,
    render_spark_ddl,
    render_type,
    sanitize_identifiers,
    sanitize_schema,
)
from .session import get_session

__version__ = "0.1.0"

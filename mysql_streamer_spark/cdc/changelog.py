"""Changelog mode (P4): fixed-schema projection of every row change.

Reference: util/change_log_message_builder.py:49-79 and
replication_handler/schema/changelog.v2.yaml — every DML event is projected
to ``{table_schema, table_name, id}`` under one constant schema id, giving
downstream consumers a uniform "something changed at this key" feed.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: The single registered changelog schema (change_log_data_event_handler.py:48-60).
CHANGELOG_SCHEMA_ID = 1


@lru_cache(maxsize=None)
def changelog_columns(id_col: str = "pk") -> tuple[Column, ...]:
    """{schema_id, table_schema, table_name, id, message_type}, built once."""
    return (
        F.lit(CHANGELOG_SCHEMA_ID).alias("schema_id"),
        F.col("database").alias("table_schema"),
        F.col("table").alias("table_name"),
        F.col(id_col).alias("id"),
        F.col("message_type"),
    )


def changelog_projection(df: DataFrame, id_col: str = "pk") -> DataFrame:
    """CDC events -> {schema_id, table_schema, table_name, id, message_type}."""
    return df.select(*changelog_columns(id_col))

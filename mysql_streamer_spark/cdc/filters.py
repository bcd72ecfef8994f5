"""Admission filters over the CDC stream (SURVEY.md §2.2, F1-F5).

All filters are plain Column predicates so Catalyst pushes them into the
parquet/Kafka scan (check ``.explain``: they appear under ``PushedFilters``)
— the reference instead pushed only_tables/only_schemas into its binlog
reader (low_level_binlog_stream_reader_wrapper.py:78-94); here the optimizer
does the equivalent for any source that supports pushdown.
"""

from __future__ import annotations

from collections.abc import Iterable
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_streamer_spark.cdc.source import HEARTBEAT_DB, REFRESH_SUFFIX

#: Reference itest config (config-env-itest-opensource.yaml:29-35).
DEFAULT_SCHEMA_BLACKLIST = (
    "information_schema",
    "mysql",
    "performance_schema",
    "test",
    HEARTBEAT_DB,
)

#: Statements the DDL branch drops outright (schema_event_handler.py:139-142).
SKIPPABLE_QUERIES = ("BEGIN", "COMMIT")


@lru_cache(maxsize=1)
def heartbeat_predicate() -> Column:
    """F5/S7: the row is a heartbeat."""
    return F.col("database") == HEARTBEAT_DB


@lru_cache(maxsize=None)
def blacklist_predicate(blacklist: tuple[str, ...]) -> Column:
    """F1: the row's database is not blacklisted."""
    return ~F.col("database").isin(list(blacklist))


@lru_cache(maxsize=None)
def whitelist_predicate(whitelist: tuple[str, ...]) -> Column:
    """F2: the row's table is whitelisted; whitelisting ``t`` implies its
    ``t_data_pipeline_refresh`` twin (reference :78-94)."""
    return F.col("table").isin(list(whitelist) + [t + REFRESH_SUFFIX for t in whitelist])


@lru_cache(maxsize=None)
def admission_predicate(
    blacklist: tuple[str, ...] = DEFAULT_SCHEMA_BLACKLIST, whitelist: tuple[str, ...] = ()
) -> Column:
    """The envelope's admission as one Column: not a heartbeat (F5), not
    blacklisted (F1), whitelisted when the whitelist is non-empty (F2).
    The predicates are built once per distinct list and reused by every
    batch (a Column is an unresolved expression no session owns)."""
    keep = ~heartbeat_predicate() & blacklist_predicate(blacklist)
    return keep & whitelist_predicate(whitelist) if whitelist else keep


def filter_blacklisted_schemas(
    df: DataFrame, blacklist: Iterable[str] = DEFAULT_SCHEMA_BLACKLIST
) -> DataFrame:
    """F1: drop events whose database is blacklisted."""
    return df.filter(blacklist_predicate(tuple(blacklist)))


def filter_table_whitelist(df: DataFrame, whitelist: Iterable[str]) -> DataFrame:
    """F2: keep only whitelisted tables. Empty = keep all."""
    tables = tuple(whitelist)
    return df.filter(whitelist_predicate(tables)) if tables else df


def split_heartbeats(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F5/S7: (data_events, heartbeats). Heartbeat rows update position /
    feed the replication-delay metric but never reach the handlers
    (simple_binlog_stream_reader_wrapper.py:150-215)."""
    is_hb = heartbeat_predicate()
    return df.filter(~is_hb), df.filter(is_hb)


def filter_skippable_queries(df: DataFrame, query_col: str = "query") -> DataFrame:
    """F3: drop BEGIN/COMMIT query events on the DDL branch."""
    return df.filter(~F.upper(F.trim(F.col(query_col))).isin(list(SKIPPABLE_QUERIES)))

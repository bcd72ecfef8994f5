"""Correctness checks, run after the timed window.

DuckDB evaluates the package's own oracle SQL over the generated files (the
``events`` view) and the result is compared, event by event, with what the
system committed. A failed event is one that is missing, committed more than
once, or committed with any column different from the oracle; a committed
row the oracle does not have counts as failed too.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def connect(event_files: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    files = ", ".join(f"'{f}'" for f in event_files)
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet([{files}])")
    return con


def keyed_failures(
    con: duckdb.DuckDBPyConnection,
    oracle_sql: str,
    committed_sql: str,
    key: str,
    cols: list[str],
) -> dict[str, int]:
    """Per-key comparison. ``missing``: oracle key never committed;
    ``duplicated``: key committed more than once; ``wrong``: committed once
    with a differing column; ``extra``: committed key the oracle lacks."""
    eq = " AND ".join(f'o."{c}" IS NOT DISTINCT FROM c."{c}"' for c in cols)
    row = con.execute(
        f"""
WITH o AS ({oracle_sql}),
c AS ({committed_sql}),
cn AS (SELECT "{key}", count(*) AS n FROM c GROUP BY "{key}"),
j AS (SELECT o."{key}" AS k, cn.n FROM o LEFT JOIN cn ON o."{key}" = cn."{key}")
SELECT
  (SELECT count(*) FROM o),
  (SELECT count(*) FROM j WHERE n IS NULL),
  (SELECT count(*) FROM j WHERE n > 1),
  (SELECT count(*) FROM o JOIN cn ON o."{key}" = cn."{key}" AND cn.n = 1
     JOIN c ON c."{key}" = o."{key}" WHERE NOT ({eq})),
  (SELECT count(*) FROM cn WHERE "{key}" NOT IN (SELECT "{key}" FROM o))
"""
    ).fetchone()
    expected, missing, duplicated, wrong, extra = (int(x) for x in row)
    return {
        "expected": expected,
        "missing": missing,
        "duplicated": duplicated,
        "wrong": wrong,
        "extra": extra,
        "failed": missing + duplicated + wrong + extra,
    }


def multiset_failures(
    con: duckdb.DuckDBPyConnection, oracle_sql: str, committed_sql: str
) -> dict[str, int]:
    """Keyless comparison: rows the oracle has that were not committed plus
    rows committed beyond the oracle (a wrong row counts on both sides)."""
    row = con.execute(
        f"""
WITH o AS ({oracle_sql}), c AS ({committed_sql})
SELECT (SELECT count(*) FROM o),
       (SELECT count(*) FROM (SELECT * FROM o EXCEPT ALL SELECT * FROM c)),
       (SELECT count(*) FROM (SELECT * FROM c EXCEPT ALL SELECT * FROM o))
"""
    ).fetchone()
    expected, missing, extra = (int(x) for x in row)
    return {"expected": expected, "missing": missing, "extra": extra, "failed": missing + extra}


# -- per workload ----------------------------------------------------------------

ENVELOPE_COLS = [
    "schema_id", "cluster_name", "database_name", "table_name", "message_type",
    "timestamp", "log_file", "log_pos", "offset", "txn_order", "pk",
    "payload_k", "payload_val", "previous_payload_val",
]


def check_envelope_sink(con, sink_dir: str) -> dict[str, int]:
    """``tail``: committed envelope rows vs the batch envelope oracle."""
    from mysql_streamer_spark.queries.cdc import _ENVELOPE_SELECT, _ORACLE_PIPELINE_CTES

    cols = ", ".join(f'"{c}"' for c in ENVELOPE_COLS)
    oracle = (
        f"SELECT * REPLACE (epoch_us(timestamp) AS timestamp) FROM "
        f"({_ORACLE_PIPELINE_CTES + _ENVELOPE_SELECT})"
    )
    committed = (
        f"SELECT * REPLACE (epoch_us(timestamp) AS timestamp) FROM (SELECT {cols} "
        f"FROM read_parquet('{sink_dir}/*/*.parquet', hive_partitioning = false))"
    )
    return keyed_failures(con, oracle, committed, "txn_order", ENVELOPE_COLS)


def decode_wire_sink(sink_dir: str) -> pa.Table:
    """Decode committed Confluent frames with the registry's writer schemas
    (the consumer side): magic byte, 4-byte id, Avro body."""
    import glob

    from mysql_streamer_spark.connectors.avro_wire import (
        compile_decoder,
        registry_payload_schemas,
    )

    decoders = {}
    for sid, schema in registry_payload_schemas().items():
        db = schema["namespace"].rsplit(".", 1)[-1]
        decoders[sid] = (compile_decoder(schema), db, schema["name"])
    cols: dict[str, list] = {
        k: [] for k in ("schema_id", "database_name", "table_name", "txn_order",
                        "pk", "payload_k", "payload_val", "header_ok")
    }
    for path in sorted(glob.glob(f"{sink_dir}/*/*.parquet")):
        t = pq.read_table(path, columns=["txn_order", "value"])
        for key, buf in zip(t["txn_order"].to_pylist(), t["value"].to_pylist()):
            sid = int.from_bytes(buf[1:5], "big")
            dec, db, table = decoders[sid]
            rec, _ = dec(buf, 5)
            cols["schema_id"].append(sid)
            cols["database_name"].append(db)
            cols["table_name"].append(table)
            cols["txn_order"].append(key)
            cols["pk"].append(rec["pk"])
            cols["payload_k"].append(rec["k"])
            cols["payload_val"].append(rec["val"])
            cols["header_ok"].append(buf[0] == 0)
    return pa.table(
        {
            "schema_id": pa.array(cols["schema_id"], pa.int32()),
            "database_name": pa.array(cols["database_name"], pa.string()),
            "table_name": pa.array(cols["table_name"], pa.string()),
            "txn_order": pa.array(cols["txn_order"], pa.int64()),
            "pk": pa.array(cols["pk"], pa.int64()),
            "payload_k": pa.array(cols["payload_k"], pa.int64()),
            "payload_val": pa.array(cols["payload_val"], pa.float64()),
            "header_ok": pa.array(cols["header_ok"], pa.bool_()),
        }
    )


WIRE_COLS = ["schema_id", "database_name", "table_name", "txn_order", "pk",
             "payload_k", "payload_val", "header_ok"]


def check_wire_sink(con, sink_dir: str) -> dict[str, int]:
    """``backfill``: decoded committed frames vs the Confluent-payload
    oracle."""
    from mysql_streamer_spark.queries.cdc import _CONFLUENT_PAYLOAD_ORACLE

    con.register("committed_wire", decode_wire_sink(sink_dir))
    try:
        return keyed_failures(
            con, _CONFLUENT_PAYLOAD_ORACLE, "SELECT * FROM committed_wire",
            "txn_order", WIRE_COLS,
        )
    finally:
        con.unregister("committed_wire")


def check_same_wire(con, reference_dir: str, sink_dir: str) -> dict[str, int]:
    """A repeated drain of the same backlog must commit the same frames."""
    def frames(d: str) -> str:
        return (f"SELECT txn_order, value FROM read_parquet('{d}/*/*.parquet', "
                "hive_partitioning = false)")

    return multiset_failures(con, frames(reference_dir), frames(sink_dir))


def _ddl_event_oracle() -> str:
    """The package's ``_ddl_barrier_oracle`` with its final aggregate
    replaced by the per-event rows it aggregates."""
    from mysql_streamer_spark.queries.streaming_q import _ddl_barrier_oracle

    sql = _ddl_barrier_oracle()
    cut = sql.rindex('SELECT database, base_table AS "table"')
    return (sql[:cut] + 'SELECT database, base_table AS "table", version, schema_id, '
            "epoch_us(timestamp) AS ts FROM routed")


def check_ddl_sink(con, sink_dir: str) -> dict[str, int]:
    """``ddl_recover``: every routed DataEvent vs the as-of routing oracle
    (per event), plus the package's aggregate oracle compared exactly."""
    from mysql_streamer_spark.queries.streaming_q import _ddl_barrier_oracle

    committed = (
        'SELECT database, "table", version, schema_id, epoch_us(ts) AS ts '
        f"FROM read_parquet('{sink_dir}/*/*.parquet', hive_partitioning = false)"
    )
    out = multiset_failures(con, _ddl_event_oracle(), committed)
    agg = (
        'SELECT database, "table", version, schema_id, count(*) AS n_events, '
        "min(ts) AS first_ts, max(ts) AS last_ts FROM "
        f"read_parquet('{sink_dir}/*/*.parquet', hive_partitioning = false) "
        'GROUP BY database, "table", version, schema_id'
    )
    oracle_agg = (
        "SELECT * REPLACE (epoch_us(first_ts) AS first_ts, epoch_us(last_ts) AS last_ts) "
        f"FROM ({_ddl_barrier_oracle()})"
    )
    committed_agg = (
        "SELECT * REPLACE (epoch_us(first_ts) AS first_ts, epoch_us(last_ts) AS last_ts) "
        f"FROM ({agg})"
    )
    out["aggregate_mismatch"] = multiset_failures(con, oracle_agg, committed_agg)["failed"]
    return out

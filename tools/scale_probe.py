"""Scale probe for the near-dup dedup path: times MinHash-LSH pair
generation and exact n-gram Jaccard as the corpus is multiplied k-fold,
in two regimes:

- ``distinct``: each replica's text is letter-rotated, so rows grow but
  the duplication rate stays constant — pure row-count scaling. Healthy
  behaviour is ~linear time in k (map-side shingling dominates).
- ``dup``: replicas are EXACT copies, so every document gains k-1 twins —
  duplication-rate scaling. Candidate pairs grow ~k^2 inside each bucket;
  this regime is what the MAX_BUCKET_SIZE / NGRAM_DF_CAP guards exist
  for, and the probe shows time growing with found-pair count, not with
  corpus^2.

Usage: python tools/scale_probe.py [sf_dir] [max_k]
Prints one JSON line per (regime, k) with rows, pairs, seconds.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

#: doc_id namespace stride between replicas
_OFFSET = 10_000_000

def replicate(docs: DataFrame, k: int, distinct: bool) -> DataFrame:
    """K-fold corpus replica. ``distinct`` tags every token with the
    replica index, so replicas share NO shingles/windows — honest pure
    row-count scaling at ANY k (the earlier vowel-rotation scheme cycled
    mod 5, which silently made replicas i and i+5 exact duplicates: a
    dup-regime explosion mislabeled as row growth once k > 5). The
    duplication RATE inside each replica is preserved — internal
    duplicates replicate with it — so found-pair counts grow exactly
    k-fold."""
    parts = []
    for i in range(k):
        rep = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * _OFFSET))
        if distinct and i > 0:
            rep = rep.withColumn(
                "text",
                F.expr(
                    f"array_join(transform(split(text, ' '), "
                    f"t -> concat('r{i}', t)), ' ')"
                ),
            )
        parts.append(rep)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def replicate_embeddings(emb: DataFrame, k: int, distinct: bool) -> DataFrame:
    """Replica i rotates the vector by i MOD dim components (distinct
    regime) so replicas point in genuinely different directions; dup
    regime copies. Rotation is modular so any k materializes (a raw
    i-shift sliced negative lengths past k = dim); past k = dim the
    directions repeat — fine for row-count scaling probes (ids stay
    unique), called out here so recall-style audits never run on k > dim
    folds expecting distinct directions."""
    parts = []
    for i in range(k):
        rep = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * _OFFSET))
        if distinct and i > 0:
            rep = rep.withColumn(
                "embedding",
                F.expr(
                    f"concat(slice(embedding, ({i} % size(embedding)) + 1, "
                    f"size(embedding) - ({i} % size(embedding))), "
                    f"slice(embedding, 1, {i} % size(embedding)))"
                ),
            )
        parts.append(rep)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def probe_embeddings(spark, sf_dir: str, max_k: int) -> None:
    from mysql_streamer_spark.tables import load_table
    from mysql_streamer_spark.queries.similarity import cosine_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    emb.count()
    k = 1
    while k <= max_k:
        for regime in ("distinct", "dup"):
            corpus = replicate_embeddings(emb, k, distinct=(regime == "distinct"))
            corpus = corpus.persist()
            n_rows = corpus.count()
            t0 = time.time()
            n_pairs = cosine_neardup_pairs(corpus).count()
            dt = time.time() - t0
            corpus.unpersist()
            print(
                json.dumps(
                    {
                        "probe": "embedding_neardup",
                        "regime": regime,
                        "k": k,
                        "rows": n_rows,
                        "pairs": n_pairs,
                        "sec": round(dt, 2),
                    }
                ),
                flush=True,
            )
        k *= 2


def probe_semdedup(spark, sf_dir: str, max_k: int) -> None:
    """SemDeDup wall time vs corpus size. Healthy behaviour: the
    assignment pass is linear in rows (10-centroid broadcast); the
    in-cell pairwise stage grows with Σ cell² — in the dup regime every
    replica lands in the SAME cell as its twin, so removed counts grow
    ~k× while time tracks cell-pair counts, not corpus²."""
    from mysql_streamer_spark.tables import load_table
    from mysql_streamer_spark.queries.similarity import semdedup_flags

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    emb.count()
    k = 1
    while k <= max_k:
        for regime in ("distinct", "dup"):
            corpus = replicate_embeddings(emb, k, distinct=(regime == "distinct"))
            corpus = corpus.persist()
            n_rows = corpus.count()
            t0 = time.time()
            flags = semdedup_flags(corpus)
            n_removed = flags.filter(~F.col("keep")).count()
            dt = time.time() - t0
            corpus.unpersist()
            print(
                json.dumps(
                    {
                        "probe": "semdedup",
                        "regime": regime,
                        "k": k,
                        "rows": n_rows,
                        "removed": n_removed,
                        "sec": round(dt, 2),
                    }
                ),
                flush=True,
            )
        k *= 2


def probe_kmeans(spark, sf_dir: str, max_k: int) -> None:
    """k-means wall time vs corpus size: assignment is map-only against k
    broadcast centroids and the update aggregate has fixed (k x dim)
    output cardinality, so healthy behaviour is ~linear time in rows."""
    from mysql_streamer_spark.tables import load_table
    from mysql_streamer_spark.queries.similarity import kmeans_assignments

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    emb.count()
    k = 1
    while k <= max_k:
        corpus = replicate_embeddings(emb, k, distinct=True).persist()
        n_rows = corpus.count()
        t0 = time.time()
        n = kmeans_assignments(corpus).count()
        dt = time.time() - t0
        corpus.unpersist()
        print(
            json.dumps(
                {"probe": "kmeans", "k": k, "rows": n_rows,
                 "assigned": n, "sec": round(dt, 2)}
            ),
            flush=True,
        )
        k *= 2


def probe_incremental(spark, sf_dir: str, max_k: int) -> None:
    """Incremental delta-vs-index dedup: the index grows k-fold while the
    delta stays the original corpus slice — healthy behaviour is cost
    tracking the delta's collision count, not the index size."""
    from pyspark.sql import functions as F
    from mysql_streamer_spark.tables import load_table
    from mysql_streamer_spark.queries.dedup import (
        INCR_DELTA_MODULUS,
        JACCARD_THRESHOLD,
        MAX_BUCKET_SIZE,
        lsh_bands,
    )
    from mysql_streamer_spark import text as tx

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.count()
    delta = docs.filter(F.col("doc_id") % INCR_DELTA_MODULUS == 0)
    k = 1
    while k <= max_k:
        index_corpus = replicate(
            docs.filter(F.col("doc_id") % INCR_DELTA_MODULUS != 0), k, distinct=True
        ).persist()
        n_index = index_corpus.count()
        t0 = time.time()
        def _bands(d):
            sh = (
                d.withColumn("toks", tx.tokens_col("text"))
                .withColumn("shingles", tx.shingles_col())
                .filter(F.size("shingles") > 0)
                .select("doc_id", "shingles")
            )
            return lsh_bands(sh, pre_shingled=True)
        db = _bands(delta).withColumnRenamed("doc_id", "delta_id")
        ib = _bands(index_corpus)
        ok = (
            ib.groupBy("band_id", "band_hash")
            .agg(F.count("*").alias("bsz"))
            .filter(F.col("bsz") <= MAX_BUCKET_SIZE)
            .select("band_id", "band_hash")
        )
        n_cand = (
            db.join(ib.join(ok, ["band_id", "band_hash"]), ["band_id", "band_hash"])
            .select("delta_id", "doc_id")
            .distinct()
            .count()
        )
        dt = time.time() - t0
        index_corpus.unpersist()
        print(
            json.dumps(
                {"probe": "incremental_dedup", "k": k, "index_rows": n_index,
                 "candidates": n_cand, "sec": round(dt, 2)}
            ),
            flush=True,
        )
        k *= 2


def probe_hll(spark, sf_dir: str, max_k: int) -> None:
    """HLL sketch vs exact distinct as the event stream is multiplied with
    FRESH user ids per replica (true cardinality grows k-fold). Healthy
    behaviour: both scale ~linearly in rows locally, but the sketch's
    shuffled bytes stay at one 4 KiB register array per partition per
    group while exact distinct shuffles every distinct value — the gap
    that decides the 100 TB case."""
    from pyspark.sql import functions as F
    from mysql_streamer_spark.queries.sketches import HLL_LG_K
    from mysql_streamer_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    ev.count()
    k = 1
    while k <= max_k:
        parts = [
            ev.withColumn("user_id", F.col("user_id") + F.lit(i * _OFFSET))
            for i in range(k)
        ]
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionByName(p)
        corpus = corpus.persist()
        n_rows = corpus.count()
        t0 = time.time()
        corpus.groupBy("event_type").agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(HLL_LG_K))
            ).alias("est")
        ).count()
        t_sketch = time.time() - t0
        t0 = time.time()
        corpus.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact")
        ).count()
        t_exact = time.time() - t0
        corpus.unpersist()
        print(
            json.dumps(
                {"probe": "hll_distinct", "k": k, "rows": n_rows,
                 "sketch_sec": round(t_sketch, 2),
                 "exact_sec": round(t_exact, 2)}
            ),
            flush=True,
        )
        k *= 2


def probe_tfidf(spark, sf_dir: str, max_k: int) -> None:
    """TF-IDF top-k as the corpus is multiplied (distinct regime): the
    (doc, term) aggregate and the per-doc window both key on doc-scoped
    keys, so healthy behaviour is ~linear in rows with no stage blowing
    up on the shared vocabulary."""
    from mysql_streamer_spark.queries.textops import q_text_tfidf_topk
    from mysql_streamer_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    docs.count()
    k = 1
    while k <= max_k:
        corpus = replicate(docs, k, distinct=True).persist()
        n_rows = corpus.count()
        t0 = time.time()
        # rebuild the query over the replicated frame (same plan shape)
        from pyspark.sql import Window
        from mysql_streamer_spark import text as tx

        tf = (
            corpus.withColumn("toks", tx.tokens_col("text"))
            .select("doc_id", F.explode("toks").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
        )
        df_dim = tf.groupBy("term").agg(F.count("*").alias("df"))
        w = Window.partitionBy("doc_id").orderBy(
            (F.col("tf").cast("double") / F.col("df").cast("double")).desc(),
            F.col("term").asc(),
        )
        n_out = (
            tf.join(df_dim, "term")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .count()
        )
        dt = time.time() - t0
        corpus.unpersist()
        print(
            json.dumps(
                {"probe": "tfidf_topk", "k": k, "rows": n_rows,
                 "out_rows": n_out, "sec": round(dt, 2)}
            ),
            flush=True,
        )
        k *= 2


#: the most expensive bench queries (BENCH_DETAIL top of table) — the ones
#: where a super-linear surprise would hide (VERDICT r4 item 5)
_TOP5_BENCH = (
    "dedup_budget_report",
    "dedup_jaccard_ngram",
    "dedup_containment",
    "dedup_pair_agreement",
    "streaming_python_source",
)


def _materialize_scaled_sf(
    spark, sf_dir: str, k: int, out_dir: str, relational: bool = False
) -> None:
    """Write a k-fold replica of an sf_dir that registry queries can read
    unchanged: documents/embeddings replicate in the distinct regime
    (unique ids, rotated content — pure row-count scaling), events
    replicate with shifted event_ids (distinct binlog positions), and the
    small relational tables symlink to the originals — unless
    ``relational`` is set, which also k-folds lineitem/orders with
    shifted order keys (same parts/customers, so the co-purchase graph
    gains k-fold baskets over one part universe: the DENSER-graph regime
    the graph family must survive, not k disjoint copies)."""
    import os

    from mysql_streamer_spark.tables import TABLE_NAMES, load_table, table_path

    os.makedirs(out_dir, exist_ok=True)
    for name in TABLE_NAMES:
        dst = table_path(out_dir, name)
        if os.path.exists(dst):
            continue
        if name == "documents":
            replicate(load_table(spark, sf_dir, name), k, distinct=True).write.parquet(dst)
        elif name == "embeddings":
            replicate_embeddings(
                load_table(spark, sf_dir, name), k, distinct=True
            ).write.parquet(dst)
        elif relational and name in ("lineitem", "orders"):
            t = load_table(spark, sf_dir, name)
            keycol = "l_orderkey" if name == "lineitem" else "o_orderkey"
            # dense re-ids (key*k + i) keep the key space compact; every
            # other column (partkey, custkey, dates, prices) repeats, so
            # joins against the symlinked dims stay valid
            parts = [
                t.withColumn(keycol, F.col(keycol) * F.lit(k) + F.lit(i))
                for i in range(k)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            out.write.parquet(dst)
        elif name == "events":
            # dense re-ids (id*k + i), NOT the 10M stride: binlog file
            # numbers derive from event_id div 1000 and feed the
            # txn_order 2^48 shift — a sparse stride overflows long
            ev = load_table(spark, sf_dir, name)
            parts = [
                ev.withColumn("event_id", F.col("event_id") * F.lit(k) + F.lit(i))
                .withColumn("user_id", F.col("user_id") + F.lit(i * _OFFSET))
                for i in range(k)
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            # ONE part file: the file-stream staging links part files
            # individually, and a multi-file events table would turn the
            # single-batch streaming queries into arbitrary-mtime-order
            # multi-batch schedules (watermark drops the oracles don't
            # model). Driver sf_dirs are single-file for the same reason.
            out.coalesce(1).write.parquet(dst)
        else:
            os.symlink(table_path(sf_dir, name), dst)


def probe_bench_top5(
    spark, sf_dir: str, ks=(1, 4, 10), names=_TOP5_BENCH, relational: bool = False
) -> None:
    """Wall clock of the named registry queries at k-fold input, run
    through the REGISTRY (same code path as bench/driver). The noop-format
    write forces full materialization of every column (a bare count()
    would let Spark prune map-side work). Healthy behaviour: ≤~linear
    growth in k."""
    import shutil
    import tempfile

    from mysql_streamer_spark.queries import all_specs

    specs = {s.name: s for s in all_specs()}
    for k in ks:
        tmp = tempfile.mkdtemp(prefix=f"scale_probe_sf_k{k}_")
        try:
            _materialize_scaled_sf(spark, sf_dir, k, tmp, relational=relational)
            for name in names:
                t0 = time.time()
                specs[name].fn(spark, tmp).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.time() - t0
                print(
                    json.dumps(
                        {"probe": "bench_top5", "query": name, "k": k,
                         "sec": round(dt, 2)}
                    ),
                    flush=True,
                )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--materialize":
        # tools/scale_probe.py --materialize K OUT_DIR [SF_DIR] [--relational]
        from mysql_streamer_spark.session import get_spark

        k = int(sys.argv[2])
        out_dir = sys.argv[3]
        rest = sys.argv[4:]
        relational = "--relational" in rest
        rest = [a for a in rest if a != "--relational"]
        sf_dir = rest[0] if rest else "/root/testdata/sf0.1"
        _materialize_scaled_sf(
            get_spark("scale_materialize"), sf_dir, k, out_dir,
            relational=relational,
        )
        print(json.dumps({"materialized": out_dir, "k": k, "sf_dir": sf_dir,
                          "relational": relational}))
        return 0
    if len(sys.argv) > 1 and sys.argv[1] == "--top5":
        from mysql_streamer_spark.session import get_spark

        sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
        probe_bench_top5(get_spark("scale_probe_top5"), sf_dir)
        return 0
    if len(sys.argv) > 2 and sys.argv[1] == "--queries":
        # tools/scale_probe.py --queries a,b[,c] [SF_DIR] [--ks 1,10,100]
        from mysql_streamer_spark.session import get_spark

        names = tuple(sys.argv[2].split(","))
        rest = sys.argv[3:]
        ks = (1, 4, 10)
        relational = "--relational" in rest
        rest = [a for a in rest if a != "--relational"]
        if "--ks" in rest:
            i = rest.index("--ks")
            ks = tuple(int(x) for x in rest[i + 1].split(","))
            rest = rest[:i] + rest[i + 2 :]
        sf_dir = rest[0] if rest else "/root/testdata/sf0.1"
        probe_bench_top5(
            get_spark("scale_probe_named"),
            sf_dir,
            ks=ks,
            names=names,
            relational=relational,
        )
        return 0
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    max_k = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from mysql_streamer_spark.session import get_spark
    from mysql_streamer_spark.tables import load_table
    from mysql_streamer_spark.queries.dedup import (
        minhash_candidate_pairs,
        ngram_jaccard_pairs,
    )

    spark = get_spark("scale_probe")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.count()  # warm

    k = 1
    while k <= max_k:
        for regime in ("distinct", "dup"):
            corpus = replicate(docs, k, distinct=(regime == "distinct")).persist()
            n_rows = corpus.count()
            t0 = time.time()
            n_minhash = minhash_candidate_pairs(corpus).count()
            t_minhash = time.time() - t0
            t0 = time.time()
            n_jaccard = ngram_jaccard_pairs(corpus).count()
            t_jaccard = time.time() - t0
            corpus.unpersist()
            print(
                json.dumps(
                    {
                        "probe": "text_dedup",
                        "regime": regime,
                        "k": k,
                        "rows": n_rows,
                        "minhash_pairs": n_minhash,
                        "minhash_sec": round(t_minhash, 2),
                        "jaccard_pairs": n_jaccard,
                        "jaccard_sec": round(t_jaccard, 2),
                    }
                ),
                flush=True,
            )
        k *= 2
    probe_embeddings(spark, sf_dir, max_k)
    probe_semdedup(spark, sf_dir, max_k)
    probe_kmeans(spark, sf_dir, max_k)
    probe_incremental(spark, sf_dir, max_k)
    probe_hll(spark, sf_dir, max_k)
    probe_tfidf(spark, sf_dir, max_k)
    return 0


if __name__ == "__main__":
    sys.exit(main())

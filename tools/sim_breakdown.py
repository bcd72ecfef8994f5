"""Stage-level breakdown of the heavy sim queries (guide §1): times each
sub-frame of the pipeline with the noop sink so the expensive piece is
identified empirically instead of guessed.

Usage: python tools/sim_breakdown.py [--sf DIR] [--reps N]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def t(label: str, df, reps: int, spark) -> float:
    best = None
    for _ in range(reps):
        spark.sparkContext.setJobDescription(f"breakdown: {label}")
        t0 = time.time()
        df.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
        spark.catalog.clearCache()
    print(f"  {best:6.2f}s  {label}", flush=True)
    return best


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mysql_streamer_spark import vectors as vx
    from mysql_streamer_spark.queries.similarity import (
        NEARDUP_MAX_BUCKET,
        _centroids,
        _cell_score,
        _emb,
    )
    from mysql_streamer_spark.session import get_spark

    spark = get_spark("sim_breakdown")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64).mapInPandas(lambda it: it, "id long").write.mode(
        "overwrite"
    ).format("noop").save()

    emb = _emb(spark, args.sf)
    r = args.reps

    print("== hard_negatives pieces ==")
    t("emb scan", emb, r, spark)
    b_raw = vx.lsh_id_bucket_table(emb)
    t("lsh_id_bucket_table (kernel)", b_raw, r, spark)
    t("with_quantized", vx.with_quantized(emb).select("vec_id", "qv", "nrm"), r, spark)

    def pairs_frame():
        b = vx.lsh_id_bucket_table(emb).persist()
        ok = (
            b.groupBy("table_id", "bucket")
            .agg(F.count("*").alias("bsz"))
            .filter(F.col("bsz") <= NEARDUP_MAX_BUCKET)
            .select("table_id", "bucket")
        )
        bb = b.join(ok, ["table_id", "bucket"])
        return (
            bb.alias("a")
            .join(
                bb.alias("b"),
                (F.col("a.table_id") == F.col("b.table_id"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") != F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("anchor_id"),
                F.col("b.vec_id").alias("neg_id"),
            )
            .distinct()
        ), b

    pf, b = pairs_frame()
    t("bucket pairs distinct (w/ persist)", pf, r, spark)
    b.unpersist()
    n = pf.count()
    print(f"    candidate pairs: {n}")

    pf2, b2 = pairs_frame()
    qe = vx.with_quantized(emb).select("vec_id", "label", "qv", "nrm")
    scored = (
        pf2.join(
            qe.select(
                F.col("vec_id").alias("anchor_id"),
                F.col("label").alias("anchor_label"),
                F.col("qv").alias("a_qv"),
                F.col("nrm").alias("a_nrm"),
            ),
            "anchor_id",
        )
        .join(
            qe.select(
                F.col("vec_id").alias("neg_id"),
                F.col("label").alias("neg_label"),
                F.col("qv").alias("b_qv"),
                F.col("nrm").alias("b_nrm"),
            ),
            "neg_id",
        )
        .filter(F.col("anchor_label") != F.col("neg_label"))
        .withColumn("cosine", vx.cosine_col("a_qv", "b_qv", "a_nrm", "b_nrm"))
    )
    t("+ qe joins + cosine", scored.select("anchor_id", "neg_id", "cosine"), r, spark)
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("neg_id").asc()
    )
    full = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("anchor_id", "anchor_label", "neg_id", "neg_label", "cosine")
    )
    t("+ window top-1 (full query)", full, r, spark)
    b2.unpersist()

    print("== ivf_imbalance pieces ==")
    e = vx.with_quantized(emb).select("vec_id", "qv", "nrm", "label")
    cents = _centroids(e)
    t("centroids", cents, r, spark)
    scored2 = (
        e.drop("label")
        .crossJoin(F.broadcast(cents))
        .withColumn("cscore", _cell_score("qv", "nrm"))
    )
    t("+ cross-join cscore", scored2.select("vec_id", "label", "cscore"), r, spark)
    w2 = Window.partitionBy("vec_id").orderBy(F.col("cscore").desc(), F.col("label").asc())
    assign = (
        scored2.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("label").alias("cell"))
    )
    t("+ assign window", assign, r, spark)

    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Time one or more registered queries in isolation, bench-methodology
(noop sink, clearCache between runs, warmup of JVM + Python worker pool).

Usage: python tools/time_query.py [--sf DIR] [--reps N] [--explain] query ...

Prints per-query rep times and the min — the same statistic bench.py
records — without paying for the other 300+ queries, so an optimization
can be measured in a tight loop (guide §1).
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain", action="store_true",
                    help="print .explain('formatted') instead of timing")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from mysql_streamer_spark.queries import all_specs
    from mysql_streamer_spark.session import get_spark

    spark = get_spark("time_query")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # same warmup as bench.py: JVM codegen + the Python worker pool
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64).mapInPandas(lambda it: it, "id long").write.mode(
        "overwrite"
    ).format("noop").save()

    specs = {s.name: s for s in all_specs()}
    for name in args.queries:
        spec = specs[name]
        if args.explain:
            spec.fn(spark, args.sf)._jdf.queryExecution()  # force analysis
            print(f"==== {name} ====")
            spec.fn(spark, args.sf).explain("formatted")
            spark.catalog.clearCache()
            continue
        times = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"time_query: {name}")
            t0 = time.time()
            spec.fn(spark, args.sf).write.mode("overwrite").format(
                "noop"
            ).save()
            times.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
        print(f"{name}: min={min(times)} runs={times}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Same-session min-of-2 pin for named registry queries at an sf_dir —
the SCALE.md discipline for adjudicating bench drift: run each query
twice through the registry (noop sink, cache cleared between runs, same
JVM), print one JSON line per query with both runs and the min.

Usage: python tools/pin_queries.py query[,query...] [sf_dir]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from mysql_streamer_spark.session import get_spark
    from mysql_streamer_spark.queries import all_specs

    spark = get_spark("pin_queries")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64).mapInPandas(lambda it: it, "id long").write.mode(
        "overwrite"
    ).format("noop").save()

    specs = {s.name: s for s in all_specs()}
    for name in names:
        runs = []
        for _ in range(2):
            t0 = time.time()
            specs[name].fn(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            runs.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
        print(
            json.dumps(
                {"query": name, "runs": runs, "min": min(runs), "sf_dir": sf_dir}
            ),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())

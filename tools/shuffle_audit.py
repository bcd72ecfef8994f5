"""Measured shuffle-volume audit: run named registry queries end-to-end
(noop sink) with the Spark UI's REST metrics enabled, and report per query
the bytes/records that actually crossed a shuffle boundary, next to the
input bytes scanned — hard evidence for the docstrings' "only ids shuffle"
/ "map-side partials" claims, instead of plan-shape inference alone.

Two numbers per query:
- record amplification = shuffle-write records / input records — how many
  rows cross the wire per row scanned (an explode-then-aggregate posting
  index legitimately exceeds 1; a map-side operator is ~0);
- bytes per shuffled record — the WIDTH of what shuffles. The "only ids
  shuffle" claims mean this stays tens of bytes even when text/vector
  columns are hundreds.

(Local-mode caveat: the REST inputBytes metric under-reports local
filesystem reads — footers only — so the audit is record-based, which the
UI tracks exactly.)

Usage: python tools/shuffle_audit.py q1,q2,... [sf_dir]
Prints one JSON line per query; attribution is by stage-id watermark, so
run queries one at a time (this tool is sequential by construction).
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _stages(base: str) -> list[dict]:
    with urllib.request.urlopen(f"{base}/stages?status=complete") as r:
        return json.load(r)


def main() -> int:
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from mysql_streamer_spark.queries import all_specs
    from mysql_streamer_spark.session import get_spark

    spark = get_spark("shuffle_audit", extra_conf={"spark.ui.enabled": "true"})
    base = (
        f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
        f"{spark.sparkContext.applicationId}"
    )
    specs = {s.name: s for s in all_specs()}
    # JVM + Python-worker warmup so the first audited query is not charged
    # one-time startup stages
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(64).mapInPandas(lambda it: it, "id long").write.mode(
        "overwrite"
    ).format("noop").save()
    time.sleep(1.0)

    for name in names:
        seen = {s["stageId"] for s in _stages(base)}
        t0 = time.time()
        specs[name].fn(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        dt = time.time() - t0
        time.sleep(1.0)  # let the listener bus drain into the UI store
        new = [s for s in _stages(base) if s["stageId"] not in seen]
        in_recs = sum(s.get("inputRecords", 0) for s in new)
        sw_bytes = sum(s.get("shuffleWriteBytes", 0) for s in new)
        sw_recs = sum(s.get("shuffleWriteRecords", 0) for s in new)
        print(
            json.dumps(
                {
                    "query": name,
                    "sec": round(dt, 2),
                    "n_stages": len(new),
                    "input_records": in_recs,
                    "shuffle_write_mb": round(sw_bytes / 1e6, 3),
                    "shuffle_write_records": sw_recs,
                    "bytes_per_shuffled_record": (
                        round(sw_bytes / sw_recs, 1) if sw_recs else None
                    ),
                    "record_amplification": (
                        round(sw_recs / in_recs, 3) if in_recs else None
                    ),
                }
            ),
            flush=True,
        )
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    sys.exit(main())

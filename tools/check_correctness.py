"""Local stand-in for the driver's t2 harness: run every queries() entry on
Spark and its oracle_sql() on DuckDB at a given sf, compare row-count,
column names, and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def normalize(rows, colnames):
    """Canonicalize rows the way the driver's pandas-based compare does:
    no float rounding (bit-exact repr), and int-typed vs float-typed cells
    DIFFER even when numerically equal — DuckDB's sum() returns HUGEINT,
    which lands in pandas as float64, so an oracle must CAST(... AS BIGINT)
    any integer sum or it will hash-mismatch a Spark long."""
    out = []
    for row in rows:
        vals = []
        for name in sorted(colnames):
            v = row[name]
            if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                raise TypeError(
                    f"column {name!r} holds an array value — the driver's "
                    "pandas canonicalizer cannot sort/hash list cells; emit "
                    "a joined string instead"
                )
            if hasattr(v, "item"):  # numpy scalar -> python
                v = v.item()
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"f:{v!r}"
            elif isinstance(v, int) and not isinstance(v, bool):
                v = f"i:{v}"
            vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb
    import __spark_entry__ as entrymod
    from mysql_streamer_spark.session import get_spark
    from mysql_streamer_spark.tables import TABLE_NAMES, table_path

    import os

    spark = get_spark("check_correctness")
    con = duckdb.connect()
    # big-fold gates: keep the oracle in RAM as far as the box allows and
    # spill to /tmp (not the repo cwd) beyond that
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute(f"SET memory_limit='{os.environ.get('DUCK_MEM', '96GB')}'")
    for t in TABLE_NAMES:
        p = table_path(sf_dir, t)
        # materialized k-fold dirs (tools/scale_probe.py --materialize)
        # carry Spark-written parquet DIRECTORIES; DuckDB wants a glob
        if os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        # pandas on BOTH sides, like the driver harness: dtype-level
        # divergence (e.g. DuckDB HUGEINT -> float64) must surface here.
        spark_pdf = sdf.toPandas()
        spark_rows = spark_pdf.to_dict("records")
        spark_cols = sdf.columns
        spark.catalog.clearCache()  # drop per-query persisted intermediates
        dt = time.time() - t0
        if name not in oracles:
            print(f"  {name:32s} rows={len(spark_rows):7d}  (rows-only, no oracle)  {dt:.1f}s")
            continue
        duck_pdf = con.execute(oracles[name]).df()
        duck_cols = list(duck_pdf.columns)
        duck_rows = duck_pdf.to_dict("records")

        ok = True
        if sorted(spark_cols) != sorted(duck_cols):
            print(f"FAIL {name}: columns spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
            ok = False
        elif len(spark_rows) != len(duck_rows):
            print(f"FAIL {name}: rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
            ok = False
        else:
            try:
                a = normalize(spark_rows, spark_cols)
                b = normalize(duck_rows, duck_cols)
            except TypeError as exc:
                print(f"FAIL {name}: {exc}")
                n_fail += 1
                continue
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
                print(f"FAIL {name}: value mismatch; first diffs:")
                for x, y in diffs:
                    print(f"    spark: {x}")
                    print(f"    duck : {y}")
                ok = False
        if ok:
            print(f"  OK {name:32s} rows={len(spark_rows):7d}  {dt:.1f}s")
        else:
            n_fail += 1
    print("ALL OK" if n_fail == 0 else f"{n_fail} FAILURES")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())

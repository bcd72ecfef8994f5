"""CDC streaming benchmark: backfill throughput, tail replication delay, DDL
crash recovery.

    python3 cdcbench/run.py --workload backfill|tail|ddl_recover \\
        --seed N --seconds S --trace 0|1 [--cpus C]

Run from the root of a checkout that holds ``mysql_streamer_spark/``. The
benchmark generates its inputs from ``--seed`` (``gen.py``), builds the
package's Spark session at ``local[C]`` (default: all cores), sets up and
warms the workload's streaming composition once and reports that time as
``setup_s``, measures for ``--seconds``, checks every committed
event against the package's oracle SQL in DuckDB (``check.py``), and prints
one JSON object as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``attempted`` counts generated events; ``failed`` counts events missing,
duplicated or differing from the oracle, plus ``tail`` events committed
more than ``DELAY_LIMIT_S`` after creation (``failed / attempted`` is the
failure fraction). With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` they are the per-layer ones, from units of work that
alternate traced and untraced so the run also reports its own overhead.
``metrics.json`` maps every metric to its unit, workloads and reason.
Scratch files live in ``.cdcbench/`` under the checkout root; the traced
run's spans and the full result of every run are kept in
``.cdcbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _metric_specs() -> dict:
    with open(os.path.join(HERE, "metrics.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="CDC streaming benchmark")
    ap.add_argument("--workload", required=True, choices=["backfill", "tail", "ddl_recover"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    return ap.parse_args(argv)


def _package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "mysql_streamer_spark", "__init__.py"))


def main(argv: list[str]) -> int:
    started = time.time()
    args = _parse(argv)
    if not _package_present():
        print(f"cdcbench: no mysql_streamer_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import mysql_streamer_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(mysql_streamer_spark.__file__))) != ROOT:
        print("cdcbench: mysql_streamer_spark imported from outside the checkout", file=sys.stderr)
        return 2

    import harness
    import workloads
    from spans import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".cdcbench")
    work = harness.clean_dir(os.path.join(base, "work", run_id))
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    harness.prepare_env(ROOT, work)

    generate, warm, measure, check_fn, e2e_fn, layers_fn = workloads.WORKLOADS[args.workload]
    b = workloads.Bench(
        work=work, seed=args.seed, seconds=args.seconds,
        traced=bool(args.trace), tracer=Tracer(run_id) if args.trace else None,
    )
    spark = None
    phases: dict[str, float] = {}
    try:
        t0 = time.time()
        generate(b)
        phases["generate_s"] = time.time() - t0
        # set-up, timed once: JVM launch and the package's session build,
        # the progress listener, source/sink registration and one warm batch
        t0 = time.time()
        spark = b.spark = harness.build_session(ROOT, work, args.cpus)
        phases["session_s"] = time.time() - t0
        b.listener = harness.make_progress_listener()
        spark.streams.addListener(b.listener)
        warm(b)
        setup_s = time.time() - t0
        b.listener.take()

        host = harness.HostWindow()
        gc0 = harness.jvm_gc_seconds(spark)
        t0 = time.time()
        with harness.RssSampler(harness.jvm_pid(spark)) as rss:
            units = measure(b)
        phases["measure_s"] = time.time() - t0
        gc_s = harness.jvm_gc_seconds(spark) - gc0
        host_stats = host.close()

        t0 = time.time()
        verdict = check_fn(b, units)
        phases["check_s"] = time.time() - t0
        result = {
            "workload": args.workload, "seed": args.seed, "cpus": args.cpus,
            "setup_s": setup_s, "phases": phases, "units": [
                {"phase": u.extra.get("phase", args.workload), "traced": u.traced,
                 "seconds": u.end - u.start, "batches": len(u.commits)}
                for u in units
            ],
            "check": verdict["detail"], "host": host_stats,
        }
        if args.trace:
            metrics = layers_fn(b, units)
            metrics.update(host_stats)
            metrics["jvm.gc_s"] = gc_s / max(1, len(units))
            metrics.update(_overhead(units))
            b.tracer.write(os.path.join(out_dir, f"trace-{run_id}.json"))
        else:
            metrics = e2e_fn(b, units)
            result["delay_samples"] = metrics.pop("delay_samples")
            metrics["setup_s"] = setup_s
            metrics["peak_rss_mb"] = rss.peak_bytes / 2**20
        result["failed_frac"] = verdict["failed"] / verdict["attempted"]
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    specs = _metric_specs()
    # every end-to-end metric must be measured; a per-layer one reads 0 on a
    # workload that bypasses its layer (metrics.json says which)
    kind = "per_layer" if args.trace else "end_to_end"
    report = {
        name: {"value": float(metrics[name] if kind == "end_to_end" else metrics.get(name, 0.0)),
               "unit": spec["unit"]}
        for name, spec in specs[kind].items()
    }
    result["metrics"] = report
    result["wall_s"] = time.time() - started
    with open(os.path.join(out_dir, f"result-{run_id}.json"), "w", encoding="utf-8") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({k: v for k, v in result.items() if k != "metrics"}))
    print(json.dumps({
        "correct": verdict["failed"] == 0,
        "attempted": int(verdict["attempted"]),
        "failed": int(verdict["failed"]),
        "metrics": report,
    }))
    return 0


def _overhead(units) -> dict[str, float]:
    """Tracing overhead: median traced unit minus median untraced unit,
    each timed from its start to its last commit, over units of equal work:
    the drains of backfill, the cycles of ddl_recover and the restart
    drains of tail (its scheduled drains differ in size). The first such
    unit is left out: it is still warming and always untraced."""
    def span(u):
        return max(u.commits.values()) - u.start

    timed = [u for u in units if u.commits and u.extra.get("phase") not in ("crash", "tail")][1:]
    traced = [span(u) for u in timed if u.traced]
    plain = [span(u) for u in timed if not u.traced]
    if not traced or not plain:
        return {"trace.overhead_s": 0.0}
    return {"trace.overhead_s": median(traced) - median(plain)}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

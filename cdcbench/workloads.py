"""The three workloads of the CDC streaming benchmark.

Each workload has the same four steps, driven by ``run.py``:

``generate``  write the seeded inputs (before any Spark exists);
``warm``      one pass of the workload's composition on a small input
              (ddl_recover: one cycle over its feed, staged here) — the
              last part of set-up, timed with the session build as setup_s;
``measure``   the timed window: units of work for ``seconds`` (backfill
              drains; tail drains on a schedule while the open-loop
              producer runs, then crash-and-restart rounds; ddl_recover
              crash-and-recover cycles);
``check``     compare what was committed with the oracle (untimed).

Units alternate traced / untraced in a traced run, so the run measures its
own tracing overhead; end-to-end figures come from untraced runs only.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime
from statistics import median

import numpy as np

import check
import gen
import harness
from spans import Tracer

#: a tail event committed later than this after its creation counts as failed
DELAY_LIMIT_S = 60.0


@dataclass
class Bench:
    work: str
    seed: int
    seconds: float
    traced: bool
    spark: object = None
    listener: object = None
    tracer: Tracer | None = None
    inputs: dict = field(default_factory=dict)


@dataclass
class Unit:
    """One timed unit of work (a drain, a stream cycle, a recovery cycle)."""

    traced: bool
    start: float
    end: float = 0.0
    out: str = ""
    ckpt: str = ""
    progress: list = field(default_factory=list)
    commits: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


# -- shared helpers --------------------------------------------------------------


def commit_times(ckpt: str) -> dict[int, float]:
    """batch id -> the time the engine committed it (commit-log file mtime)."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime
    return out


def trigger_start(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"]).timestamp()


def batch_rows(progress: list[dict]) -> dict[int, int]:
    return {p["batch_id"]: p["rows"] for p in progress if p["rows"] > 0}


def sink_batches(out: str) -> set[int]:
    """Batch ids with a directory in the per-batch-id sink."""
    return {
        int(os.path.basename(d).split("=", 1)[1])
        for d in glob.glob(os.path.join(out, "batch_id=*"))
    }


def weighted_quantiles(values: list[float], weights: list[int], qs=(0.5, 0.99)) -> list[float]:
    v = np.repeat(np.asarray(values, dtype=float), np.asarray(weights, dtype=int))
    return [float(np.quantile(v, q)) for q in qs]


def progress_phases(progress: list[dict]) -> dict[str, float]:
    """Engine phase time (s) summed over data micro-batches."""
    tot: dict[str, float] = {}
    for p in progress:
        if p["rows"] <= 0:
            continue
        for k, v in p["durations_ms"].items():
            tot[k] = tot.get(k, 0.0) + v / 1000.0
    return tot


def engine_layers(units: list[Unit], all_units: list[Unit]) -> dict[str, float]:
    """microbatch / checkpoint / source-offset / lifecycle metrics, averaged
    per unit; sink and checkpoint directories shared by several units (the
    tail's) are split evenly among them."""
    n = max(1, len(units))
    acc: dict[str, float] = {}

    def add(k: str, v: float) -> None:
        acc[k] = acc.get(k, 0.0) + v

    for u in units:
        ph = progress_phases(u.progress)
        data = [p for p in u.progress if p["rows"] > 0]
        add("microbatch.count", len(data))
        add("microbatch.trigger_s", ph.get("triggerExecution", 0.0))
        add("microbatch.planning_s", ph.get("queryPlanning", 0.0))
        add("microbatch.add_batch_s", ph.get("addBatch", 0.0))
        add("microbatch.fixed_s", ph.get("triggerExecution", 0.0) - ph.get("addBatch", 0.0))
        add("checkpoint.wal_s", ph.get("walCommit", 0.0))
        add("checkpoint.commit_s", ph.get("commitOffsets", 0.0))
        add("source.offset_s", ph.get("latestOffset", 0.0) + ph.get("getBatch", 0.0))
        add("source.rows", sum(p["rows"] for p in data))
        for start, end, cycle_progress, cycle_commits in u.extra.get("cycles", []):
            cdata = [p for p in cycle_progress if p["rows"] > 0]
            if not cdata:
                continue
            add("stream.start_s", min(trigger_start(p) for p in cdata) - start)
            add("stream.stop_s", end - max(cycle_commits.values()))
    out = {k: v / n for k, v in acc.items()}
    outs = {u.out for u in units}
    for d in outs:
        share = len(outs) * sum(1 for u in all_units if u.out == d)
        files, size = harness.dir_stats(d)
        ckpt = next(u.ckpt for u in units if u.out == d)
        for k, v in (("sink.files", files), ("sink.bytes", size),
                     ("sink.batches", len(sink_batches(d))),
                     ("checkpoint.bytes", harness.dir_stats(ckpt)[1])):
            out[k] = out.get(k, 0.0) + v / share
    return out


def _min_units(b: Bench, least: int = 1) -> int:
    """A traced run needs traced and untraced units to report overhead: it
    runs at least three, untraced / traced / untraced, so that a traced and
    an untraced unit follow the first one (the slowest, still warming)."""
    return max(least, 3 if b.traced else 1)


def _traced_unit(b: Bench, index: int) -> bool:
    return b.traced and index % 2 == 1


# =================================================================================
# backfill: catch-up after downtime, a large staged backlog in a few batches
# =================================================================================

#: three 40k-row micro-batches per drain: large enough that per-row work
#: (envelope, Avro encode, parquet write) carries the drain, small enough
#: that three drains fit one run on a slow host. Three batches, not two:
#: with two equal halves the median event sits on the batch boundary and
#: delay_p50_s would flip between the two batches' commit times from seed
#: to seed
BACKFILL_EVENTS = 120_000
BACKFILL_FILES = 12
BACKFILL_FILES_PER_TRIGGER = 4
#: the first timed drain runs 15-35% slower than the next ones, so a run
#: takes the median of at least three: of two, it was half the figure
BACKFILL_MIN_DRAINS = 3
#: one 20k-row warm-up batch; a warm-up replicating a whole drain (three
#: 16k-row batches) did not make the first timed drain any faster and cost
#: 3 s more per set-up
BACKFILL_WARM_EVENTS = 20_000
WARM_EVENTS = 4_000


def backfill_generate(b: Bench) -> None:
    src = os.path.join(b.work, "input", "backlog")
    gen.stage_backlog(src, b.seed, BACKFILL_EVENTS, BACKFILL_FILES)
    warm = os.path.join(b.work, "input", "warm")
    gen.stage_backlog(warm, b.seed + 1_000_003, BACKFILL_WARM_EVENTS, BACKFILL_FILES_PER_TRIGGER)
    b.inputs.update(src=src, warm=warm, files=sorted(glob.glob(f"{src}/*.parquet")))


def _publish_body(out: str, tracer: Tracer | None, counters: dict):
    """The backfill foreachBatch body: envelope -> per-table Confluent wire
    -> idempotent per-batch-id parquet overwrite (the
    ``streaming_confluent_publish`` composition). Traced, each layer
    boundary is materialized on its own so its busy time is separable."""
    from mysql_streamer_spark.cdc import pipeline
    from mysql_streamer_spark.connectors import avro_wire

    def body(batch_df, batch_id: int) -> None:
        target = f"{out}/batch_id={batch_id}"
        if tracer is None:
            env = pipeline.envelope_pipeline_df(batch_df)
            avro_wire.payload_to_confluent(env).write.mode("overwrite").parquet(target)
            return
        from pyspark.sql import functions as F

        with tracer.span("source.input"):
            batch_df = batch_df.persist()
            n_in = batch_df.count()
        with tracer.span("envelope.plan"):
            env = pipeline.envelope_pipeline_df(batch_df)
        with tracer.span("envelope.busy"):
            env = env.persist()
            n_env = env.count()
        with tracer.span("wire.plan"):
            wire = avro_wire.payload_to_confluent(env)
        with tracer.span("wire.busy"):
            wire = wire.persist()
            row = wire.agg(F.count("*"), F.sum(F.length("value"))).collect()[0]
        wire.write.mode("overwrite").parquet(target)
        for df in (wire, env, batch_df):
            df.unpersist()
        counters["envelope.rows_in"] = counters.get("envelope.rows_in", 0) + n_in
        counters["envelope.rows_out"] = counters.get("envelope.rows_out", 0) + n_env
        counters["wire.rows"] = counters.get("wire.rows", 0) + int(row[0])
        counters["wire.bytes"] = counters.get("wire.bytes", 0) + int(row[1] or 0)

    return body


def _backfill_drain(b: Bench, src: str, tag: str, traced: bool) -> Unit:
    from mysql_streamer_spark.streaming import runner

    base = harness.clean_dir(os.path.join(b.work, "backfill", tag))
    u = Unit(traced=traced, start=time.time(), out=f"{base}/out", ckpt=f"{base}/ckpt")
    body = _publish_body(u.out, b.tracer if traced else None, u.extra.setdefault("counters", {}))
    events = runner.load_events_stream(b.spark, src, BACKFILL_FILES_PER_TRIGGER)
    q = (
        events.writeStream.foreachBatch(body)
        .option("checkpointLocation", u.ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    u.end = time.time()
    u.commits = commit_times(u.ckpt)
    u.progress = harness.drain_listener(b.listener, len(u.commits))
    u.extra["cycles"] = [(u.start, u.end, u.progress, u.commits)]
    return u


def backfill_warm(b: Bench) -> None:
    _backfill_drain(b, b.inputs["warm"], "warm", traced=False)


def backfill_measure(b: Bench) -> list[Unit]:
    from mysql_streamer_spark.streaming import runner

    units: list[Unit] = []
    t0 = time.time()
    while len(units) < _min_units(b, BACKFILL_MIN_DRAINS) or time.time() - t0 < b.seconds:
        traced = _traced_unit(b, len(units))
        if traced:
            b.tracer.instrument(runner, "load_events_stream", "source.peek")
        try:
            units.append(_backfill_drain(b, b.inputs["src"], f"drain{len(units)}", traced))
        finally:
            if b.tracer is not None:
                b.tracer.restore()
    return units


def backfill_check(b: Bench, units: list[Unit]) -> dict:
    con = check.connect(b.inputs["files"])
    detail = check.check_wire_sink(con, units[0].out)
    for u in units[1:]:
        detail["failed"] += check.check_same_wire(con, units[0].out, u.out)["failed"]
    con.close()
    return {"attempted": BACKFILL_EVENTS * len(units), "failed": detail["failed"], "detail": detail}


def backfill_e2e(b: Bench, units: list[Unit]) -> dict[str, float]:
    """Per drain: rate, catch-up time and delay percentiles over its events;
    each reported as the median over drains."""
    rates, spans, p50s, p99s, samples = [], [], [], [], 0
    for u in units:
        last = max(u.commits.values())
        rates.append(BACKFILL_EVENTS / (last - u.start))
        spans.append(last - u.start)
        rows = batch_rows(u.progress)
        bids = sorted(u.commits)
        p50, p99 = weighted_quantiles(
            [u.commits[bid] - u.start for bid in bids], [rows.get(bid, 0) for bid in bids])
        p50s.append(p50)
        p99s.append(p99)
        samples += sum(rows.values())
    return {
        "events_per_s": median(rates),
        "delay_p50_s": median(p50s),
        "delay_p99_s": median(p99s),
        "recovery_s": median(spans),
        "delay_samples": samples,
    }


def backfill_layers(b: Bench, units: list[Unit]) -> dict[str, float]:
    traced = [u for u in units if u.traced]
    out = engine_layers(traced, units)
    n = max(1, len(traced))
    self_t: dict[str, float] = {}
    counters: dict[str, float] = {}
    for u in traced:
        for k, v in Tracer.self_times(b.tracer.window(u.start, u.end)).items():
            self_t[k] = self_t.get(k, 0.0) + v
        for k, v in u.extra["counters"].items():
            counters[k] = counters.get(k, 0) + v
    body = sum(self_t.get(k, 0.0) for k in (
        "source.input", "envelope.plan", "envelope.busy", "wire.plan", "wire.busy"))
    out.update({
        "source.files": len(b.inputs["files"]),
        "source.peek_s": self_t.get("source.peek", 0.0) / n,
        "source.backlog_events": _backlog(traced, lambda u, t: BACKFILL_EVENTS),
        "envelope.rows_in": counters.get("envelope.rows_in", 0) / n,
        "envelope.rows_out": counters.get("envelope.rows_out", 0) / n,
        "envelope.plan_s": self_t.get("envelope.plan", 0.0) / n,
        "envelope.busy_s": self_t.get("envelope.busy", 0.0) / n,
        "envelope.admit_ratio": counters.get("envelope.rows_out", 0)
        / max(1, counters.get("envelope.rows_in", 0)),
        "wire.rows": counters.get("wire.rows", 0) / n,
        "wire.bytes": counters.get("wire.bytes", 0) / n,
        "wire.bytes_per_row": counters.get("wire.bytes", 0) / max(1, counters.get("wire.rows", 0)),
        "wire.busy_s": (self_t.get("wire.busy", 0.0) + self_t.get("wire.plan", 0.0)) / n,
        "sink.write_s": out.get("microbatch.add_batch_s", 0.0) - body / n,
        "stream.cycles": 1,
    })
    return out


def _backlog(units: list[Unit], stamped_by) -> float:
    """Mean over triggers of events stamped by the trigger's start but not
    yet in a started batch."""
    samples = []
    for u in units:
        taken = 0
        for p in sorted((p for p in u.progress if p["rows"] > 0), key=lambda p: p["batch_id"]):
            samples.append(stamped_by(u, trigger_start(p)) - taken)
            taken += p["rows"]
    return float(np.mean(samples)) if samples else 0.0


# =================================================================================
# tail: steady-state replication, open-loop producer, back-to-back drains
# =================================================================================

TAIL_RATE = 8_000.0
TAIL_EVENTS_PER_FILE = 4_000
TAIL_MAX_FILES = 1_000_000
#: drains start on a fixed schedule (a scheduled ``stream`` invocation), or at
#: once when the previous drain overran its slot. Back to back, every event
#: waited ~1.5 drain lengths, so host contention moved delay_p50_s by a
#: quarter between runs; on a schedule the wait part does not scale with it
TAIL_DRAIN_INTERVAL_S = 6.0
#: after the open loop, each of these rounds publishes one held-back file,
#: crashes the next drain after its sink write and restarts it (the recovery
#: measurement; recovery_s is the median over rounds)
TAIL_CRASH_ROUNDS = 3


def tail_generate(b: Bench) -> None:
    base = os.path.join(b.work, "input", "tail")
    plan = gen.write_plan(
        plan_path=f"{base}/plan.json",
        staging_dir=f"{base}/staging",
        source_dir=os.path.join(b.work, "tail", "src"),
        stamp_log=f"{base}/stamps.jsonl",
        seed=b.seed,
        rate=TAIL_RATE,
        seconds=b.seconds,
        events_per_file=TAIL_EVENTS_PER_FILE,
        held_back=TAIL_CRASH_ROUNDS,
    )
    warm = os.path.join(b.work, "input", "warm")
    gen.stage_backlog(warm, b.seed + 1_000_003, WARM_EVENTS, 2)
    b.inputs.update(plan=plan, plan_path=f"{base}/plan.json", warm=warm)


def tail_warm(b: Bench) -> None:
    from mysql_streamer_spark.streaming import runner

    base = harness.clean_dir(os.path.join(b.work, "tail", "warm"))
    runner.run_envelope_stream(
        b.spark, b.inputs["warm"], f"{base}/out", f"{base}/ckpt",
        max_files_per_trigger=TAIL_MAX_FILES, state_dir=f"{base}/state",
    )
    harness.drain_listener(b.listener, 1)


def _crash_before_state_advance(*args, **kwargs):
    """Stands in for ``state_table.advance_state`` in a crash drain: the
    batch's sink directory is already written and read back, but neither
    the state row nor the engine commit is. The restart must replay the
    batch over its own directory (the idempotent overwrite) and advance the
    state for it."""
    raise RuntimeError("injected crash after the sink write, before the state advance")


def _tail_unit(b: Bench, src: str, out: str, ckpt: str, state: str, traced: bool,
               phase: str) -> Unit:
    from pyspark.errors import StreamingQueryException

    from mysql_streamer_spark.streaming import runner, state_table

    if b.tracer is not None:
        set_tail_tracing(b, traced)
    original = state_table.advance_state
    if phase == "crash":
        state_table.advance_state = _crash_before_state_advance
    before = set(commit_times(ckpt))
    b.inputs["envelope_rows_out"] = 0
    start = time.time()
    crashed = False
    try:
        runner.run_envelope_stream(
            b.spark, src, out, ckpt, max_files_per_trigger=TAIL_MAX_FILES, state_dir=state,
        )
    except StreamingQueryException:
        crashed = True
    finally:
        state_table.advance_state = original
    end = time.time()
    if b.tracer is not None:
        set_tail_tracing(b, False)
        b.spark.catalog.clearCache()
    commits = {k: v for k, v in commit_times(ckpt).items() if k not in before}
    u = Unit(traced=traced, start=start, end=end, out=out, ckpt=ckpt, commits=commits)
    u.progress = harness.drain_listener(b.listener, len(commits))
    u.extra.update(phase=phase, crashed=crashed, rows_out=b.inputs["envelope_rows_out"],
                   cycles=[(start, end, u.progress, commits)] if commits else [])
    return u


def tail_measure(b: Bench) -> list[Unit]:
    """Start the producer, wait for its first file, then drain every
    ``TAIL_DRAIN_INTERVAL_S`` until a drain that began after the producer
    finished has returned. Then, per crash round, publish one held-back
    file, crash the next drain after its sink write and before its state
    advance and commit, and restart it."""
    base = os.path.join(b.work, "tail")
    src = harness.clean_dir(f"{base}/src")
    out, ckpt, state = f"{base}/out", f"{base}/ckpt", f"{base}/state"
    plan = b.inputs["plan"]
    producer = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
         "produce", "--plan", b.inputs["plan_path"]]
    )
    units: list[Unit] = []
    try:
        while not os.listdir(src):
            if producer.poll() is not None:
                raise RuntimeError("producer exited before publishing a file")
            time.sleep(0.01)
        slot = time.time()
        while True:
            time.sleep(max(0.0, slot - time.time()))
            slot = max(slot + TAIL_DRAIN_INTERVAL_S, time.time())
            done_before = producer.poll() is not None
            traced = _traced_unit(b, len(units))
            units.append(_tail_unit(b, src, out, ckpt, state, traced, "tail"))
            if done_before:
                break
    finally:
        producer.wait(timeout=60)
    if producer.returncode != 0:
        raise RuntimeError(f"producer failed with code {producer.returncode}")

    b.inputs["held_back_published"] = []
    for i, name in enumerate(plan["files"][len(plan["due"]):]):
        b.inputs["held_back_published"].append(time.time())
        os.replace(os.path.join(plan["staging_dir"], name), os.path.join(src, name))
        units.append(_tail_unit(b, src, out, ckpt, state, False, "crash"))
        offsets = {int(n) for n in os.listdir(os.path.join(ckpt, "offsets")) if n.isdigit()}
        replay = sorted(offsets - set(commit_times(ckpt)))
        rewritten = len(sink_batches(out) & set(replay))
        # restarts replay one file each: the equal units the traced run
        # takes its overhead from
        restart = _tail_unit(b, src, out, ckpt, state, _traced_unit(b, i), "restart")
        restart.extra.update(replay=replay, rewritten=rewritten)
        units.append(restart)
    return units


def _tail_delays(b: Bench, units: list[Unit]):
    """Per committed event: commit time of its batch minus the creation
    stamp of the file that carried it (its due time for scheduled files,
    its publish time for held-back ones). Event id is recovered from
    txn_order (file_no:15 | log_pos:32 | offset:16). Returns (delays,
    scheduled mask, stamps, per-file stamp, file offsets)."""
    import duckdb

    plan = b.inputs["plan"]
    offsets = np.cumsum([0] + plan["sizes"])
    with open(plan["stamp_log"], encoding="utf-8") as fh:
        stamps = [json.loads(line) for line in fh]
    due = np.asarray([s["due"] for s in stamps] + b.inputs["held_back_published"])
    commits: dict[int, float] = {}
    for u in units:
        commits.update(u.commits)
    rows = duckdb.sql(
        f"SELECT batch_id, txn_order FROM read_parquet('{units[0].out}/*/*.parquet', "
        "hive_partitioning = true)"
    ).fetchnumpy()
    txn = rows["txn_order"].astype(np.int64)
    event_id = (txn >> 48) * 1000 + (((txn >> 16) & 0xFFFFFFFF) - 4) // 4
    file_idx = np.searchsorted(offsets, event_id, side="right") - 1
    commit = np.asarray([commits[int(x)] for x in rows["batch_id"]])
    return commit - due[file_idx], file_idx < len(stamps), stamps, due, offsets


def tail_check(b: Bench, units: list[Unit]) -> dict:
    plan = b.inputs["plan"]
    files = [os.path.join(plan["source_dir"], f) for f in plan["files"]]
    con = check.connect(files)
    detail = check.check_envelope_sink(con, units[0].out)
    con.close()
    delays, *_ = _tail_delays(b, units)
    detail["late"] = int((delays > DELAY_LIMIT_S).sum())
    crashes = [u for u in units if u.extra["phase"] == "crash"]
    restarts = [u for u in units if u.extra["phase"] == "restart"]
    detail["crashed"] = all(u.extra["crashed"] for u in crashes)
    detail["rewritten"] = [u.extra["rewritten"] for u in restarts]
    failed = detail["failed"] + detail["late"]
    total = int(sum(plan["sizes"]))
    # a crash round that did not crash after its sink write measured no
    # recovery: the run is void
    if not detail["crashed"] or min(detail["rewritten"]) < 1:
        failed = total
    return {"attempted": total, "failed": failed, "detail": detail}


def tail_e2e(b: Bench, units: list[Unit]) -> dict[str, float]:
    delays, scheduled, stamps, due, _ = _tail_delays(b, units)
    tail = [u for u in units if u.extra["phase"] == "tail" and u.commits]
    restarts = [u for u in units if u.extra["phase"] == "restart"]
    last = max(max(u.commits.values()) for u in tail)
    events = int(sum(b.inputs["plan"]["sizes"][: len(stamps)]))
    steady = delays[scheduled]
    return {
        "events_per_s": events / (last - due[0]),
        "delay_p50_s": float(np.quantile(steady, 0.5)),
        "delay_p99_s": float(np.quantile(steady, 0.99)),
        "recovery_s": median(max(u.commits.values()) - u.start for u in restarts),
        "delay_samples": int(len(steady)),
    }


def set_tail_tracing(b: Bench, on: bool) -> None:
    """Instrument the tail's public calls (or restore the originals)."""
    b.tracer.restore()
    if not on:
        return
    from mysql_streamer_spark.streaming import runner, singleton, state_table

    t = b.tracer
    t.instrument(runner, "load_events_stream", "source.peek")
    t.instrument(runner, "read_sink_batch", "state.readback")
    t.instrument(state_table, "batch_position", "state.readback")
    t.instrument(state_table, "advance_state", "state.advance")
    t.instrument(state_table, "save_topic_offsets", "state.advance")
    t.instrument(singleton.NamespaceLock, "__enter__", "lock.acquire")
    def materialized(original):
        """The envelope boundary, materialized so its busy time separates
        from the sink write that follows."""
        def envelope(*args, **kwargs):
            with t.span("envelope.plan"):
                env = original(*args, **kwargs)
            with t.span("envelope.busy"):
                env = env.persist()
                b.inputs["envelope_rows_out"] += env.count()
            return env

        return envelope

    t.substitute(runner, "envelope_pipeline_df", materialized)


def tail_layers(b: Bench, units: list[Unit]) -> dict[str, float]:
    traced = [u for u in units if u.traced and u.extra["phase"] == "tail"]
    out = engine_layers(traced, units)
    n = max(1, len(traced))
    self_t: dict[str, float] = {}
    for u in traced:
        for k, v in Tracer.self_times(b.tracer.window(u.start, u.end)).items():
            self_t[k] = self_t.get(k, 0.0) + v
    _, _, stamps, _, offsets = _tail_delays(b, units)
    published = np.asarray([s["published"] for s in stamps])
    body = sum(self_t.get(k, 0.0) for k in (
        "envelope.plan", "envelope.busy", "state.readback", "state.advance"))
    state_files, state_bytes = harness.dir_stats(os.path.join(b.work, "tail", "state"))
    restarts = [u for u in units if u.extra["phase"] == "restart"]
    replayed_rows = sum(
        batch_rows(u.progress).get(bid, 0) for u in restarts for bid in u.extra["replay"])
    rows_out = sum(u.extra["rows_out"] for u in traced)
    out.update({
        "source.files": len(stamps) / max(1, len(units) - 2 * len(restarts)),
        "source.peek_s": self_t.get("source.peek", 0.0) / n,
        "source.backlog_events": _backlog(
            traced, lambda u, t: float(offsets[np.searchsorted(published, t, side="right")])),
        "envelope.rows_in": out.get("source.rows", 0.0),
        "envelope.rows_out": rows_out / n,
        "envelope.admit_ratio": rows_out / max(1.0, out.get("source.rows", 0.0) * n),
        "envelope.plan_s": self_t.get("envelope.plan", 0.0) / n,
        "envelope.busy_s": self_t.get("envelope.busy", 0.0) / n,
        "sink.write_s": out.get("microbatch.add_batch_s", 0.0) - body / n,
        "sink.batches_rewritten": sum(u.extra["rewritten"] for u in restarts) / len(restarts),
        "stream.cycles": len(units),
        "lock.acquire_s": self_t.get("lock.acquire", 0.0) / n,
        "state.advance_s": self_t.get("state.advance", 0.0) / n,
        "state.readback_s": self_t.get("state.readback", 0.0) / n,
        "state.files": state_files,
        "state.bytes": state_bytes,
        "recovery.replayed_batches": sum(len(u.extra["replay"]) for u in restarts) / len(restarts),
        "recovery.replayed_rows": replayed_rows / len(restarts),
        "recovery.first_commit_s": median(
            min(u.commits.values()) - u.start for u in restarts if u.commits),
        "gen.late_s": float(max(s["published"] - s["due"] for s in stamps)),
    })
    return out


# =================================================================================
# ddl_recover: DDL barrier feed with an injected mid-DDL crash, then restart
# =================================================================================

#: events in the table the feed is staged from. The feed is a few
#: ts-ordered files, one batch each; a cycle crashes in its third batch,
#: which is left unwritten, and the restart replays it and drains the rest.
#: Cycle time is almost all per-batch cost: at half the events it was the same
DDL_EVENTS = 100_000
DDL_FAIL_AFTER = 2
#: a run's figures are medians over at least this many cycles: with two, a
#: single slow cycle on a busy host moved the median by a quarter
DDL_MIN_CYCLES = 3


def ddl_generate(b: Bench) -> None:
    sf = os.path.join(b.work, "input", "sf")
    gen.write_events_table(sf, b.seed, DDL_EVENTS)
    b.inputs.update(sf=sf, files=[os.path.join(sf, "events.parquet")])


def _ddl_cycle(b: Bench, tag: str, traced: bool) -> Unit:
    """One crash-and-recover cycle over the staged feed with its own
    checkpoint, sink and state directories (the feed is only read)."""
    from pyspark.errors import StreamingQueryException

    from mysql_streamer_spark.streaming import ddl_barrier

    src = b.inputs["src"]
    base = harness.clean_dir(os.path.join(b.work, "ddl", tag))
    out, ckpt, state = (f"{base}/{d}" for d in ("out", "ckpt", "state"))
    if b.tracer is not None:
        set_ddl_tracing(b, traced)
    u = Unit(traced=traced, start=time.time(), out=out, ckpt=ckpt)
    try:
        ddl_barrier.run_ddl_barrier_stream(
            b.spark, src, out, ckpt, state,
            fail_after_batches=DDL_FAIL_AFTER, fail_mode="mid_ddl",
        )
        crashed = False
    except StreamingQueryException:
        crashed = True
    restart = time.time()
    before = commit_times(ckpt)
    offsets = [int(n) for n in os.listdir(os.path.join(ckpt, "offsets")) if n.isdigit()]
    replay = sorted(set(offsets) - set(before))
    rewritten = len(sink_batches(out) & set(replay))
    first_progress = harness.drain_listener(b.listener, len(before))
    ddl_barrier.run_ddl_barrier_stream(b.spark, src, out, ckpt, state)
    u.end = time.time()
    if b.tracer is not None:
        set_ddl_tracing(b, False)
    u.commits = commit_times(ckpt)
    after = {k: v for k, v in u.commits.items() if k not in before}
    second_progress = harness.drain_listener(b.listener, len(after))
    u.progress = first_progress + second_progress
    u.extra.update(
        crashed=crashed,
        restart=restart,
        replay=replay,
        rewritten=rewritten,
        after=after,
        src=src,
        state=state,
        # lifecycle timing from the clean restart (the crashed start has no
        # clean stop)
        cycles=[(restart, u.end, second_progress, after)],
    )
    return u


def set_ddl_tracing(b: Bench, on: bool) -> None:
    b.tracer.restore()
    if not on:
        return
    from pyspark.sql.classic.dataframe import DataFrame

    from mysql_streamer_spark.streaming import ddl_barrier

    t = b.tracer
    t.instrument(ddl_barrier.DdlBarrierHandler, "__call__", "ddl.handler")
    t.instrument(ddl_barrier.DdlBarrierHandler, "_save_state", "ddl.state_save")
    t.instrument(ddl_barrier, "dim_from_interval_rows", "ddl.dim_build")
    t.instrument(ddl_barrier, "route_data_events", "ddl.route_plan")
    t.instrument(DataFrame, "collect", "ddl.collect")


def ddl_warm(b: Bench) -> None:
    """Stage the feed once (every cycle reads it) and warm with one full
    cycle over it."""
    from mysql_streamer_spark.streaming import ddl_barrier

    b.inputs["src"] = os.path.join(b.work, "input", "feed")
    ddl_barrier.stage_barrier_feed(b.spark, b.inputs["sf"], b.inputs["src"])
    _ddl_cycle(b, "warm", traced=False)


def ddl_measure(b: Bench) -> list[Unit]:
    units: list[Unit] = []
    t0 = time.time()
    while len(units) < _min_units(b, DDL_MIN_CYCLES) or time.time() - t0 < b.seconds:
        traced = _traced_unit(b, len(units))
        units.append(_ddl_cycle(b, f"cycle{len(units)}", traced))
    return units


def ddl_check(b: Bench, units: list[Unit]) -> dict:
    con = check.connect(b.inputs["files"])
    failed, detail = 0, {}
    for u in units:
        d = check.check_ddl_sink(con, u.out)
        failed += d["failed"] + d["aggregate_mismatch"] + (0 if u.extra["crashed"] else DDL_EVENTS)
        detail = d
    con.close()
    detail["crashed"] = all(u.extra["crashed"] for u in units)
    return {"attempted": DDL_EVENTS * len(units), "failed": failed, "detail": detail}


def _ddl_batch_weights(u: Unit) -> dict[int, int]:
    import duckdb

    rows = duckdb.sql(
        f"SELECT batch_id, count(*) FROM read_parquet('{u.out}/*/*.parquet', "
        "hive_partitioning = true) GROUP BY 1"
    ).fetchall()
    return {int(k): int(v) for k, v in rows}


def ddl_e2e(b: Bench, units: list[Unit]) -> dict[str, float]:
    """Per crash-and-recover cycle, each reported as the median over cycles."""
    rates, recov, p50s, p99s, samples = [], [], [], [], 0
    for u in units:
        last = max(u.commits.values())
        rates.append(DDL_EVENTS / (last - u.start))
        recov.append(last - u.extra["restart"])
        weights = _ddl_batch_weights(u)
        p50, p99 = weighted_quantiles(
            [u.commits[bid] - u.start for bid in weights], list(weights.values()))
        p50s.append(p50)
        p99s.append(p99)
        samples += sum(weights.values())
    return {
        "events_per_s": median(rates),
        "delay_p50_s": median(p50s),
        "delay_p99_s": median(p99s),
        "recovery_s": median(recov),
        "delay_samples": samples,
    }


def ddl_layers(b: Bench, units: list[Unit]) -> dict[str, float]:
    import duckdb

    traced = [u for u in units if u.traced]
    out = engine_layers(traced, units)
    n = max(1, len(traced))
    self_t: dict[str, float] = {}
    replayed_rows = 0
    first_commit = 0.0
    for u in traced:
        for k, v in Tracer.self_times(b.tracer.window(u.start, u.end)).items():
            self_t[k] = self_t.get(k, 0.0) + v
        rows = batch_rows(u.progress)
        replayed_rows += sum(rows.get(bid, 0) for bid in u.extra["replay"])
        if u.extra["after"]:
            first_commit += min(u.extra["after"].values()) - u.extra["restart"]
    u0 = traced[0] if traced else units[0]
    feed_rows, feed_ddl = duckdb.sql(
        "SELECT count(*), count(*) FILTER (WHERE kind = 'ddl') "
        f"FROM read_parquet('{u0.extra['src']}/*.parquet')"
    ).fetchone()
    handler_children = sum(self_t.get(k, 0.0) for k in (
        "ddl.collect", "ddl.state_save", "ddl.dim_build", "ddl.route_plan"))
    out.update({
        "source.files": len(os.listdir(u0.extra["src"])),
        "source.backlog_events": _backlog(traced, lambda u, t: feed_rows),
        "sink.write_s": out.get("microbatch.add_batch_s", 0.0) - handler_children / n,
        "sink.batches_rewritten": sum(u.extra["rewritten"] for u in traced) / n,
        "stream.cycles": 2,
        "ddl.statements": int(feed_ddl),
        "ddl.collect_s": self_t.get("ddl.collect", 0.0) / n,
        "ddl.state_save_s": self_t.get("ddl.state_save", 0.0) / n,
        "ddl.dim_build_s": self_t.get("ddl.dim_build", 0.0) / n,
        "ddl.route_write_s": self_t.get("ddl.handler", 0.0) / n,
        "ddl.state_files": len(os.listdir(u0.extra["state"])),
        "recovery.replayed_batches": sum(len(u.extra["replay"]) for u in traced) / n,
        "recovery.replayed_rows": replayed_rows / n,
        "recovery.first_commit_s": first_commit / n,
    })
    return out


WORKLOADS = {
    "backfill": (backfill_generate, backfill_warm, backfill_measure, backfill_check,
                 backfill_e2e, backfill_layers),
    "tail": (tail_generate, tail_warm, tail_measure, tail_check, tail_e2e, tail_layers),
    "ddl_recover": (ddl_generate, ddl_warm, ddl_measure, ddl_check, ddl_e2e, ddl_layers),
}

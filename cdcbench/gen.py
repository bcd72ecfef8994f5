"""Seeded event generator for the CDC streaming benchmark.

Runs apart from the system under test: it writes ``events``-shaped parquet
files (``event_id, ts, user_id, event_type, value, props``) and records each
event's creation stamp on its own side. The program only ever sees the files.

The seed picks, inside narrow bands, the input properties the pipeline's
behaviour depends on:

- ``user_id`` skew (a Zipf exponent over a fixed user population);
- heartbeat share (``user_id % 10 == 9``) and blacklisted share
  (``user_id % 10 == 8``), which the admission filters drop;
- update share (``event_type = 'purchase'`` maps to an update message);
- events per file (sizes jitter around the workload's mean: +-15% for the
  backlog, +-40% for the open-loop producer);
- the arrival schedule of the open-loop producer (gaps jitter around the
  workload's mean rate).

Means are fixed per workload so that runs with different seeds stay
comparable; the seed moves the mix, not the volume.

``event_type`` stays inside the registry's table set, so the per-table Avro
encoder always finds a schema, and ``ts`` stays inside the Jan 1-20 2024
window that the bootstrap DDL cuts (Jan 5/8/11/14) fall in.

Usage as a separate producer process (the ``tail`` workload)::

    python3 cdcbench/gen.py produce --plan PLAN.json

reads a plan written by :func:`write_plan`, publishes each staged file into
the source directory at its due time by atomic rename, and appends one line
per file (``file, due, published``) to the plan's stamp log.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "purchase", "error", "click", "view")
NON_UPDATE_TYPES = ("signup", "error", "click", "view")
#: ts window: Jan 1 00:00 to Jan 20 00:00 2024 (exclusive), in microseconds
TS_START_US = 1704067200 * 1_000_000
TS_END_US = 1705708800 * 1_000_000
#: user population the Zipf draw ranks into
USERS = 20_000

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass(frozen=True)
class Mix:
    """Per-seed input mix (all shares are fractions of generated events)."""

    zipf_s: float
    heartbeat_share: float
    blacklisted_share: float
    update_share: float


def mix_for_seed(seed: int) -> Mix:
    rng = np.random.default_rng([seed, 1])
    return Mix(
        zipf_s=float(rng.uniform(1.05, 1.25)),
        heartbeat_share=float(rng.uniform(0.08, 0.12)),
        blacklisted_share=float(rng.uniform(0.08, 0.12)),
        update_share=float(rng.uniform(0.15, 0.25)),
    )


def _zipf_ranks(rng: np.random.Generator, n: int, s: float) -> np.ndarray:
    """Ranks 0..USERS-1 drawn with P(r) proportional to 1/(r+1)^s."""
    w = 1.0 / np.arange(1, USERS + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), USERS - 1)


def make_events(
    rng: np.random.Generator, mix: Mix, first_id: int, n: int
) -> pa.Table:
    """n events with ids first_id.. and ts increasing with id inside the
    Jan 1-20 window (binlog order = id order)."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    ranks = _zipf_ranks(rng, n, mix.zipf_s)
    kind = rng.random(n)
    hb = kind < mix.heartbeat_share
    bl = ~hb & (kind < mix.heartbeat_share + mix.blacklisted_share)
    # user_id % 10 picks the routing class: 9 heartbeat, 8 blacklisted,
    # 0..7 admitted (db_0 / db_1 by parity)
    user = np.where(
        hb, ranks * 10 + 9, np.where(bl, ranks * 10 + 8, (ranks // 8) * 10 + ranks % 8)
    )
    is_update = rng.random(n) < mix.update_share
    other = np.asarray(NON_UPDATE_TYPES, dtype=object)[rng.integers(0, 4, n)]
    etype = np.where(is_update, "purchase", other)
    value = np.round(rng.uniform(0.0, 100.0, n), 2)
    k = rng.integers(0, 100, n)
    props = np.char.add(np.char.add('{"k": ', k.astype(str)), "}")
    span = TS_END_US - TS_START_US
    ts = TS_START_US + np.sort(rng.integers(0, span, n))
    return pa.Table.from_arrays(
        [
            pa.array(ids),
            pa.array(ts, pa.timestamp("us")),
            pa.array(user, pa.int64()),
            pa.array(etype.tolist(), pa.string()),
            pa.array(value),
            pa.array(props.tolist(), pa.string()),
        ],
        schema=EVENTS_SCHEMA,
    )


def jittered_sizes(
    rng: np.random.Generator, total: int, files: int, jitter: float = 0.4
) -> list[int]:
    """``files`` sizes summing to ``total``, each within +-``jitter`` of the
    mean."""
    w = rng.uniform(1.0 - jitter, 1.0 + jitter, files)
    sizes = np.floor(w / w.sum() * total).astype(int)
    sizes[: total - int(sizes.sum())] += 1
    return sizes.tolist()


def write_files(
    out_dir: str, table: pa.Table, sizes: list[int], prefix: str = "part"
) -> list[str]:
    """Split ``table`` into consecutive files of the given sizes. File names
    sort in id order; mtimes are pinned increasing so a file stream source
    admits them oldest-first."""
    os.makedirs(out_dir, exist_ok=True)
    paths, off = [], 0
    for i, n in enumerate(sizes):
        path = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        pq.write_table(table.slice(off, n), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(path)
        off += n
    return paths


def stage_backlog(out_dir: str, seed: int, total: int, files: int) -> None:
    """A staged backlog (``backfill``) of ``total`` events in ``files`` files.
    Sizes jitter only +-15%: each file is one task of its micro-batch, so the
    largest file of a batch sets the batch's time, and wider jitter made
    drain times differ by seed more than by anything the program does."""
    rng = np.random.default_rng([seed, 2])
    table = make_events(rng, mix_for_seed(seed), 0, total)
    write_files(out_dir, table, jittered_sizes(rng, total, files, jitter=0.15))


def write_events_table(sf_dir: str, seed: int, total: int) -> None:
    """One ``events.parquet`` (``ddl_recover``: the table the barrier feed
    is staged from)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(sf_dir, exist_ok=True)
    table = make_events(rng, mix_for_seed(seed), 0, total)
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))


# -- open-loop producer (tail) ------------------------------------------------


def write_plan(
    plan_path: str,
    staging_dir: str,
    source_dir: str,
    stamp_log: str,
    seed: int,
    rate: float,
    seconds: float,
    events_per_file: int,
    held_back: int = 0,
) -> dict:
    """Stage every tail file up front and write the producer's schedule:
    file i is due at offset ``due[i]`` seconds after the producer's start.
    Gaps are jittered (uniform 0.5x..1.5x of the mean) so arrivals are
    bursty, with the mean offered rate fixed at ``rate`` events/s. The last
    ``held_back`` files get no due time: the producer leaves them staged
    for the caller to publish itself."""
    rng = np.random.default_rng([seed, 4])
    scheduled = max(2, int(round(rate * seconds / events_per_file)))
    files = scheduled + held_back
    total = files * events_per_file
    sizes = jittered_sizes(rng, total, files)
    table = make_events(rng, mix_for_seed(seed), 0, total)
    paths = write_files(staging_dir, table, sizes, prefix="tail")
    # jittered gaps, rescaled so the schedule always spans the same time
    gaps = rng.uniform(0.5, 1.5, scheduled)
    due = np.cumsum(gaps) - gaps[0]
    due *= (scheduled - 1) * events_per_file / rate / due[-1]
    plan = {
        "source_dir": source_dir,
        "stamp_log": stamp_log,
        "files": [os.path.basename(p) for p in paths],
        "staging_dir": staging_dir,
        "sizes": sizes,
        "due": due.tolist(),
    }
    with open(plan_path, "w", encoding="utf-8") as fh:
        json.dump(plan, fh)
    return plan


def produce(plan_path: str) -> None:
    """Publish each scheduled file at its due time (open loop: the schedule
    never waits for the consumer). Stamps are wall-clock epoch seconds."""
    with open(plan_path, encoding="utf-8") as fh:
        plan = json.load(fh)
    os.makedirs(plan["source_dir"], exist_ok=True)
    start = time.time()
    with open(plan["stamp_log"], "w", encoding="utf-8") as log:
        for name, due in zip(plan["files"], plan["due"]):
            wait = start + due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.replace(
                os.path.join(plan["staging_dir"], name),
                os.path.join(plan["source_dir"], name),
            )
            log.write(
                json.dumps({"file": name, "due": start + due, "published": time.time()})
                + "\n"
            )
            log.flush()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("produce", help="run the open-loop producer for a plan")
    p.add_argument("--plan", required=True)
    args = ap.parse_args(argv)
    if args.cmd == "produce":
        produce(args.plan)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

"""Self-tests for the CDC streaming benchmark (no Spark needed).

    python3 -m pytest cdcbench/test_cdcbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402


def _digests(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_same_seed_same_files(tmp_path):
    gen.stage_backlog(str(tmp_path / "a"), 7, 5_000, 4)
    gen.stage_backlog(str(tmp_path / "b"), 7, 5_000, 4)
    gen.stage_backlog(str(tmp_path / "c"), 8, 5_000, 4)
    a, b, c = (_digests(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a != c


def test_same_seed_same_tail_plan(tmp_path):
    plans = []
    for name in ("a", "b"):
        d = tmp_path / name
        plans.append(gen.write_plan(
            str(d / "plan.json"), str(d / "staging"), str(d / "src"), str(d / "log"),
            seed=3, rate=1000.0, seconds=5.0, events_per_file=500, held_back=1,
        ))
    assert plans[0]["due"] == plans[1]["due"]
    assert plans[0]["sizes"] == plans[1]["sizes"]
    assert _digests(str(tmp_path / "a" / "staging")) == _digests(str(tmp_path / "b" / "staging"))
    assert len(plans[0]["due"]) == len(plans[0]["files"]) - 1


def test_generated_events_stay_in_contract(tmp_path):
    gen.write_events_table(str(tmp_path), 5, 20_000)
    con = duckdb.connect()
    row = con.execute(
        f"SELECT min(ts), max(ts), count(DISTINCT event_id), count(*), "
        f"bool_and(event_type IN {tuple(gen.EVENT_TYPES)}), "
        f"avg(CASE WHEN user_id % 10 = 9 THEN 1 ELSE 0 END), "
        f"avg(CASE WHEN user_id % 10 = 8 THEN 1 ELSE 0 END) "
        f"FROM '{tmp_path}/events.parquet'"
    ).fetchone()
    lo, hi, distinct, n, types_ok, hb, bl = row
    assert str(lo) >= "2024-01-01" and str(hi) < "2024-01-20"
    assert distinct == n and types_ok
    assert 0.07 < hb < 0.13 and 0.07 < bl < 0.13


def _commit(con, sql: str, out_dir: str, batch: int) -> None:
    os.makedirs(f"{out_dir}/batch_id={batch}", exist_ok=True)
    con.execute(f"COPY ({sql}) TO '{out_dir}/batch_id={batch}/part-0.parquet' (FORMAT PARQUET)")


@pytest.fixture()
def events(tmp_path):
    gen.write_events_table(str(tmp_path / "sf"), 11, 3_000)
    path = str(tmp_path / "sf" / "events.parquet")
    con = check.connect([path])
    yield con, tmp_path
    con.close()


def _envelope_oracle() -> str:
    from mysql_streamer_spark.queries.cdc import _ENVELOPE_SELECT, _ORACLE_PIPELINE_CTES

    return _ORACLE_PIPELINE_CTES + _ENVELOPE_SELECT


def test_envelope_check_flags_duplicate_and_drop(events):
    con, tmp = events
    oracle = _envelope_oracle()
    good = str(tmp / "good")
    _commit(con, oracle, good, 0)
    assert check.check_envelope_sink(con, good)["failed"] == 0

    bad = str(tmp / "bad")
    # batch 0 drops the lowest txn_order; batch 1 repeats the highest one
    _commit(con, f"SELECT * FROM ({oracle}) ORDER BY txn_order OFFSET 1", bad, 0)
    _commit(con, f"SELECT * FROM ({oracle}) ORDER BY txn_order DESC LIMIT 1", bad, 1)
    got = check.check_envelope_sink(con, bad)
    assert (got["missing"], got["duplicated"], got["wrong"], got["extra"]) == (1, 1, 0, 0)
    assert got["failed"] == 2


def test_envelope_check_flags_wrong_value(events):
    con, tmp = events
    oracle = _envelope_oracle()
    bad = str(tmp / "wrong")
    _commit(
        con,
        f"SELECT * REPLACE (CASE WHEN txn_order = (SELECT min(txn_order) FROM ({oracle})) "
        f"THEN payload_val + 1 ELSE payload_val END AS payload_val) FROM ({oracle})",
        bad, 0,
    )
    got = check.check_envelope_sink(con, bad)
    assert (got["wrong"], got["failed"]) == (1, 1)


def test_ddl_check_flags_duplicate_and_drop(events):
    con, tmp = events
    rows = check._ddl_event_oracle().replace("epoch_us(timestamp) AS ts", "timestamp AS ts")
    good = str(tmp / "ddl_good")
    _commit(con, rows, good, 0)
    got = check.check_ddl_sink(con, good)
    assert got["failed"] == 0 and got["aggregate_mismatch"] == 0

    bad = str(tmp / "ddl_bad")
    _commit(con, f"SELECT * FROM ({rows}) ORDER BY ts OFFSET 1", bad, 0)
    _commit(con, f"SELECT * FROM ({rows}) ORDER BY ts DESC LIMIT 1", bad, 1)
    got = check.check_ddl_sink(con, bad)
    assert (got["missing"], got["extra"]) == (1, 1)
    assert got["aggregate_mismatch"] > 0


def test_wire_check_flags_duplicate_and_drop(events):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql_streamer_spark.connectors.avro_wire import (
        compile_encoder,
        registry_payload_schemas,
    )
    from mysql_streamer_spark.queries.cdc import _CONFLUENT_PAYLOAD_ORACLE

    con, tmp = events
    schemas = registry_payload_schemas()
    encoders = {sid: compile_encoder(s) for sid, s in schemas.items()}
    rows = con.execute(
        f"SELECT schema_id, txn_order, pk, payload_k, payload_val "
        f"FROM ({_CONFLUENT_PAYLOAD_ORACLE}) ORDER BY txn_order"
    ).fetchall()
    keys, frames = [], []
    for sid, txn, pk, k, val in rows:
        buf = bytearray(b"\x00" + int(sid).to_bytes(4, "big"))
        rec = {f["name"]: None for f in schemas[sid]["fields"]} | {"pk": pk, "k": k, "val": val}
        encoders[sid](rec, buf)
        keys.append(txn)
        frames.append(bytes(buf))

    def commit(out: str, batch: int, ks, fs) -> None:
        os.makedirs(f"{out}/batch_id={batch}", exist_ok=True)
        pq.write_table(
            pa.table({"txn_order": pa.array(ks, pa.int64()), "value": pa.array(fs, pa.binary())}),
            f"{out}/batch_id={batch}/part-0.parquet",
        )

    good = str(tmp / "wire_good")
    commit(good, 0, keys, frames)
    assert check.check_wire_sink(con, good)["failed"] == 0

    bad = str(tmp / "wire_bad")
    commit(bad, 0, keys[1:], frames[1:])
    commit(bad, 1, keys[-1:], frames[-1:])
    got = check.check_wire_sink(con, bad)
    assert (got["missing"], got["duplicated"], got["failed"]) == (1, 1, 2)
    assert check.check_same_wire(con, good, bad)["failed"] == 2


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _specs() -> dict:
    with open(os.path.join(HERE, "metrics.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_metric_names_match_benchmark_json():
    bench, specs = _benchmark(), _specs()
    workloads = {w["name"] for w in bench["workloads"]}
    assert workloads == set(specs["benchmark_workloads"])
    for kind in ("end_to_end", "per_layer"):
        listed = {m["name"]: m["unit"] for m in bench[kind]}
        documented = {k: v["unit"] for k, v in specs[kind].items()}
        assert listed == documented, kind
        for name, spec in specs[kind].items():
            for w in workloads:
                assert spec["workloads"].get(w, "").strip(), (name, w)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"])


def test_every_metric_the_code_names_is_documented():
    specs = _specs()
    known = set(specs["end_to_end"]) | set(specs["per_layer"])
    span_names = {"source.peek", "source.input", "envelope.plan", "envelope.busy", "wire.plan",
                  "wire.busy", "state.readback", "state.advance", "lock.acquire", "ddl.handler",
                  "ddl.state_save", "ddl.dim_build", "ddl.route_plan", "ddl.collect",
                  "envelope.rows_in", "envelope.rows_out", "wire.rows", "wire.bytes"}
    for f in ("workloads.py", "run.py", "harness.py"):
        text = open(os.path.join(HERE, f), encoding="utf-8").read()
        for name in re.findall(r'"([a-z]+\.[a-z0-9_]+)"', text):
            if name.endswith((".py", ".json", ".parquet")):
                continue
            assert name in known or name in span_names, (f, name)


def test_bare_directory_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "cdcbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", "backfill", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

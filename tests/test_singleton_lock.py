"""T7 namespace singleton lock (streaming/singleton.py): the reference's
ZKLock semantics — at most one live instance per namespace, ephemeral on
owner death — re-expressed as a kernel-arbitrated flock on the
checkpoint's storage."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest

from mysql_streamer_spark.streaming.singleton import (
    LOCK_FILENAME,
    NamespaceLock,
    SingletonLockHeld,
)


def _holder_proc(ns: str) -> subprocess.Popen:
    """A separate PROCESS holding the namespace lock (flock is
    per-process — a second lock object in this process would succeed)."""
    proc = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import sys, time; sys.path.insert(0, %r); "
            "from mysql_streamer_spark.streaming.singleton import NamespaceLock; "
            "NamespaceLock(%r).acquire(); print('held', flush=True); time.sleep(60)"
            % (os.getcwd(), ns),
        ],
        stdout=subprocess.PIPE,
    )
    assert proc.stdout is not None
    assert proc.stdout.readline().strip() == b"held"
    return proc


def test_second_process_acquire_fails_while_held(tmp_path):
    ns = str(tmp_path / "ckpt")
    holder = _holder_proc(ns)
    try:
        with pytest.raises(SingletonLockHeld) as exc:
            NamespaceLock(ns).acquire()
        # the error names the live owner for the operator
        assert str(holder.pid) in str(exc.value)
    finally:
        holder.kill()
        holder.wait()


def test_released_lock_is_reacquirable(tmp_path):
    ns = str(tmp_path / "ckpt")
    with NamespaceLock(ns):
        pass
    with NamespaceLock(ns):
        pass


def test_release_is_idempotent_and_acquire_reentrant(tmp_path):
    ns = str(tmp_path / "ckpt")
    lock = NamespaceLock(ns).acquire()
    assert lock.acquire() is lock  # no self-deadlock
    lock.release()
    lock.release()  # no-op


def test_exception_inside_context_releases(tmp_path):
    ns = str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="boom"):
        with NamespaceLock(ns):
            raise RuntimeError("boom")
    with NamespaceLock(ns):
        pass


def test_hard_killed_holder_releases_automatically(tmp_path):
    """The ZK-ephemeral property: a kill -9'd owner's flock vanishes with
    the process — no stale-lock detection, no takeover heuristics."""
    ns = str(tmp_path / "ckpt")
    holder = _holder_proc(ns)
    with pytest.raises(SingletonLockHeld):
        NamespaceLock(ns).acquire()
    holder.send_signal(signal.SIGKILL)
    holder.wait()
    with NamespaceLock(ns):  # immediate, heuristic-free
        pass


def test_leftover_lock_file_without_holder_is_acquirable(tmp_path):
    """A lock FILE alone (crashed machine, copied checkpoint dir) holds
    nothing — arbitration is the flock, not file existence."""
    ns = str(tmp_path / "ckpt")
    os.makedirs(ns)
    with open(os.path.join(ns, LOCK_FILENAME), "w") as f:
        json.dump({"pid": 1, "host": "some-other-host", "acquired_at": 0}, f)
    with NamespaceLock(ns):
        pass


def test_break_lock_makes_namespace_acquirable_without_crashing_holder(tmp_path):
    ns = str(tmp_path / "ckpt")
    holder = _holder_proc(ns)
    try:
        NamespaceLock(ns).break_lock()
        with NamespaceLock(ns):  # operator took the consequences
            pass
        assert holder.poll() is None  # old holder unaffected
    finally:
        holder.kill()
        holder.wait()


def test_release_after_break_does_not_steal_the_new_holders_lock(tmp_path):
    """The code-review race: H1 superseded via break_lock must not, on
    its own release, delete the lock H2 now holds."""
    ns = str(tmp_path / "ckpt")
    h1 = NamespaceLock(ns).acquire()
    h1.break_lock()
    h2 = NamespaceLock(ns).acquire()
    h1.release()  # unlinks at most its own (already-broken) path state
    # H2's lock must still arbitrate: a third process-level check via a
    # fresh flock attempt in a subprocess
    probe = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; sys.path.insert(0, %r); "
            "from mysql_streamer_spark.streaming.singleton import ("
            "NamespaceLock, SingletonLockHeld)\n"
            "try:\n"
            "    NamespaceLock(%r).acquire(); print('ACQUIRED')\n"
            "except SingletonLockHeld:\n"
            "    print('HELD')" % (os.getcwd(), ns),
        ],
        capture_output=True,
        text=True,
    )
    assert probe.stdout.strip() == "HELD", probe.stdout + probe.stderr
    h2.release()


def test_concurrent_acquirers_yield_exactly_one_winner(tmp_path):
    """No-TOCTOU check: N processes race a fresh namespace; exactly one
    must win, even through release/retry churn on the same path."""
    ns = str(tmp_path / "ckpt")
    script = (
        "import sys; sys.path.insert(0, %r)\n"
        "from mysql_streamer_spark.streaming.singleton import ("
        "NamespaceLock, SingletonLockHeld)\n"
        "import time\n"
        "try:\n"
        "    NamespaceLock(%r).acquire(); print('WIN', flush=True)\n"
        "    time.sleep(3)\n"
        "except SingletonLockHeld:\n"
        "    print('LOSE', flush=True)" % (os.getcwd(), ns)
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script], stdout=subprocess.PIPE, text=True
        )
        for _ in range(6)
    ]
    results = []
    deadline = time.time() + 30
    for p in procs:
        assert p.stdout is not None
        line = p.stdout.readline().strip()
        results.append(line)
        assert time.time() < deadline
    assert results.count("WIN") == 1, results
    for p in procs:
        p.kill()
        p.wait()


def test_envelope_stream_runs_under_the_lock(spark, sf_dir, tmp_path):
    """Integration: a live foreign holder on the checkpoint namespace
    stops run_envelope_stream before it writes anything."""
    from mysql_streamer_spark.streaming.runner import run_envelope_stream

    src = str(tmp_path / "src")
    os.makedirs(src)
    os.symlink(
        os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet")
    )
    ckpt = str(tmp_path / "ckpt")
    holder = _holder_proc(ckpt)
    try:
        with pytest.raises(SingletonLockHeld):
            run_envelope_stream(spark, src, str(tmp_path / "out"), ckpt)
        assert not os.path.exists(str(tmp_path / "out"))
    finally:
        holder.kill()
        holder.wait()
    # holder gone: completes and leaves no lock behind
    n = run_envelope_stream(spark, src, str(tmp_path / "out"), ckpt)
    assert n >= 1
    assert not os.path.exists(os.path.join(ckpt, LOCK_FILENAME))


def test_ddl_barrier_stream_runs_under_the_lock(spark, sf_dir, tmp_path):
    """A live foreign holder on the checkpoint namespace stops
    run_ddl_barrier_stream before it reads or writes any state."""
    from mysql_streamer_spark.streaming.ddl_barrier import (
        run_ddl_barrier_stream,
        stage_barrier_feed,
    )

    src, out, ckpt, state = (
        str(tmp_path / d) for d in ("src", "out", "ckpt", "state")
    )
    stage_barrier_feed(spark, sf_dir, src)
    holder = _holder_proc(ckpt)
    try:
        with pytest.raises(SingletonLockHeld):
            run_ddl_barrier_stream(spark, src, out, ckpt, state)
        assert not os.path.exists(out) and not os.path.exists(state)
    finally:
        holder.kill()
        holder.wait()

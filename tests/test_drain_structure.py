"""Structure guard for the streaming plane: every checkpointed stream starts
through ``runner.drain`` (lock, checkpoint, availableNow, terminate), the
``batch_id=N`` sink layout is spelled only in ``streaming/runner.py``, and
only ``runner.drain_stateful`` sets the state-store policy (provider and
shuffle partitions)."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "mysql_streamer_spark"

#: the functions that may start a streaming query, and why
STREAM_STARTS = {
    "streaming/runner.py::drain": "the one drain",
    "queries/streaming_q.py::q_streaming_python_source": (
        "the simple reader serves one batch under availableNow"
    ),
    "queries/streaming_q.py::q_streaming_txn_atomic_batches": (
        "the simple reader serves one batch under availableNow"
    ),
    "connectors/sinks.py::write_kafka": "returns a live, continuous query",
}

#: the session settings a checkpoint freezes for its stateful operators
STATE_POLICY_KEYS = {
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.shuffle.partitions",
}

#: DataStreamWriter calls that mark a function's ``.start()`` as a stream's
_WRITER_ATTRS = {"writeStream", "foreachBatch", "trigger", "outputMode"}


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text())


def _own_nodes(fn: ast.AST):
    """Nodes of ``fn``'s body, without those of the functions nested in it."""
    todo = list(ast.iter_child_nodes(fn))
    while todo:
        node = todo.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            todo.extend(ast.iter_child_nodes(node))


def _stream_starters() -> set[str]:
    found = set()
    for rel, tree in _modules():
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            attrs = {n.attr for n in _own_nodes(fn) if isinstance(n, ast.Attribute)}
            starts = any(
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "start"
                for n in _own_nodes(fn)
            )
            if starts and attrs & _WRITER_ATTRS:
                found.add(f"{rel}::{fn.name}")
    return found


def _batch_dir_literals() -> dict[str, int]:
    found: dict[str, int] = {}
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "batch_id=" in node.value
            ):
                found[rel] = found.get(rel, 0) + 1
    return found


def test_streams_start_only_through_drain():
    assert _stream_starters() == set(STREAM_STARTS)


def test_batch_id_layout_only_in_runner():
    found = _batch_dir_literals()
    assert found.pop("streaming/runner.py", 0) >= 1  # the scan sees the layout
    assert found == {}


def _state_policy_setters() -> set[str]:
    """Functions with a ``.set(<state policy key>, ...)`` call of their own."""
    found = set()
    for rel, tree in _modules():
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for n in _own_nodes(fn):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "set"
                    and n.args
                    and isinstance(n.args[0], ast.Constant)
                    and n.args[0].value in STATE_POLICY_KEYS
                ):
                    found.add(f"{rel}::{fn.name}")
    return found


def test_state_policy_set_only_in_the_stateful_drain():
    assert _state_policy_setters() == {"streaming/runner.py::drain_stateful"}
